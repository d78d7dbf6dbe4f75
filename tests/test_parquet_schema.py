"""Driver-side parquet schemas (``catalog.footer_schema`` /
``catalog.read_parquet``).

The helper must return exactly what ``spark.read.parquet(...).schema``
infers — names, types, nullability and metadata — while running no
Spark job, and every parquet read the package makes on the covered
paths must pass a schema (the guard below), so no read pays Spark's
footer-inference job."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import uuid
import weakref
from decimal import Decimal

import pytest

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.catalog import footer_schema, read_parquet
from portfolio1_etl_spark.operators import sinks
from portfolio1_etl_spark.schemas import DRIVER_TABLES

_PACKAGE = os.path.dirname(os.path.abspath(catalog.__file__))


@pytest.fixture
def footer_calls(monkeypatch):
    """The path tuples of every ``catalog.footer_schema`` call from here on."""
    calls = []
    real = catalog.footer_schema

    def counting(spark, *paths):
        calls.append(paths)
        return real(spark, *paths)

    monkeypatch.setattr(catalog, "footer_schema", counting)
    return calls


def _no_job_schema(spark, *paths):
    """``footer_schema(*paths)``, asserting it started no Spark job."""
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        got = footer_schema(spark, *paths)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    return got


def _assert_same(spark, *paths, base=None):
    """The helper's frame schema equals Spark's inferred one (fresh
    readers: ``.schema`` mutates the reader it is called on)."""

    def reader():
        r = spark.read
        return r.option("basePath", base) if base else r

    want = reader().parquet(*paths).schema
    assert read_parquet(spark, *paths, reader=reader()).schema == want
    # the footer's data columns lead (partition columns come from the
    # paths; the scan makes every column nullable)
    data = _no_job_schema(spark, *paths)
    assert data.names == want.names[: len(data.names)]


@pytest.mark.parametrize("name", sorted(DRIVER_TABLES))
def test_matches_inference_on_every_table(spark, sf_dir, name):
    catalog._ensure_session_conf(spark)  # events: TIMESTAMP(NANOS) as long
    _assert_same(spark, catalog.path_for(sf_dir, name))


def test_matches_inference_on_nested_and_exact_types(spark, tmp_path):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    df = spark.createDataFrame(
        [(Decimal("12345.6789012345"), [1, None, 3], (7, "x"), b"\x00\xff", ts,
          {"k": 1}, datetime.date(2024, 1, 2), 1.5, 2, True)],
        "d decimal(38,10), a array<int>, s struct<i:int,t:string>, b binary, "
        "n timestamp_ntz, m map<string,int>, dt date, f float, sh smallint, "
        "bo boolean",
    )
    df.write.parquet(str(tmp_path / "spark"))
    _assert_same(spark, str(tmp_path / "spark"))
    # a footer without Spark's row metadata goes through the converter
    (tmp_path / "arrow").mkdir()
    pq.write_table(
        pa.table(
            {
                "d": pa.array([Decimal("1.25")], pa.decimal128(9, 2)),
                "a": pa.array([[1, 2]], pa.list_(pa.int64())),
                "s": pa.array([{"i": 1, "t": "x"}]),
                "b": pa.array([b"\x01"], pa.binary()),
                "n": pa.array([ts], pa.timestamp("us")),
                "z": pa.array([ts], pa.timestamp("us", tz="UTC")),
                "u": pa.array([7], pa.uint32()),
            }
        ),
        str(tmp_path / "arrow" / "x.parquet"),
    )
    _assert_same(spark, str(tmp_path / "arrow"))
    _assert_same(spark, str(tmp_path / "arrow" / "x.parquet"))


def test_matches_inference_on_empty_write_and_partitions(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id int, s string, p int")
    df.limit(0).write.parquet(str(tmp_path / "empty"))
    _assert_same(spark, str(tmp_path / "empty"))
    df.write.partitionBy("p").parquet(str(tmp_path / "hive"))
    _assert_same(spark, str(tmp_path / "hive"))
    files = sorted(glob.glob(str(tmp_path / "hive" / "p=*" / "*.parquet")))
    _assert_same(spark, *files, base=str(tmp_path / "hive"))


def test_picks_the_file_inference_picks(spark, tmp_path):
    """Summary files first, then the smallest data path; hidden names
    and directories are skipped the way Spark's file index skips them."""
    d = tmp_path / "t"

    def one(schema, where):
        spark.createDataFrame([], schema).coalesce(1).write.parquet(str(where))
        return glob.glob(str(where / "part-*.parquet"))[0]

    main = one("a int", d)
    shutil.copy(one("h string", tmp_path / "h1"), d / ".aa.parquet")
    shutil.copy(one("h2 string", tmp_path / "h2"), d / "_aa.parquet")
    (d / "_temporary").mkdir()
    shutil.copy(one("h3 string", tmp_path / "h3"), d / "_temporary" / "a.parquet")
    _assert_same(spark, str(d))
    assert footer_schema(spark, str(d)).names == ["a"]
    shutil.copy(one("z long", tmp_path / "z"), d / "part-0.parquet")  # sorts first
    _assert_same(spark, str(d))
    assert footer_schema(spark, str(d)).names == ["z"]
    shutil.copy(one("m double", tmp_path / "m"), d / "_metadata")
    _assert_same(spark, str(d))
    assert footer_schema(spark, str(d)).names == ["m"]
    shutil.copy(one("c string", tmp_path / "c"), d / "_common_metadata")
    _assert_same(spark, str(d))
    assert footer_schema(spark, str(d)).names == ["c"]
    assert footer_schema(spark, main).names == ["a"]
    assert catalog._schema_file([]) is None


def test_corrupt_footer_raises_and_empty_dir_defers(spark, tmp_path):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.parquet").write_bytes(b"not a parquet file at all")
    with pytest.raises(Py4JJavaError, match="not a Parquet file|RuntimeException"):
        footer_schema(spark, str(bad))
    empty = tmp_path / "empty"
    empty.mkdir()
    assert footer_schema(spark, str(empty)) is None
    with pytest.raises(AnalysisException) as spark_err:
        spark.read.parquet(str(empty))
    with pytest.raises(AnalysisException) as helper_err:
        read_parquet(spark, str(empty))
    assert helper_err.value.getCondition() == spark_err.value.getCondition()
    assert footer_schema(spark, str(tmp_path / "missing")) is None


def test_row_delete_key_file_and_chain_group(spark, tmp_path):
    path = str(tmp_path / "chain")
    df = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], "k int, v string, p int")
    sinks.write_versioned(df, path, partition_by=["p"])
    sinks.delete_from_chain(
        spark, path, spark.createDataFrame([(1,)], "k int"), ["k"]
    )
    m = sinks._read_manifest(spark, path, 1)
    (key_rel,) = [e["path"] for e in m["row_deletes"]]
    _assert_same(spark, f"{path}/{key_rel}")
    base = f"{path}/{m['bases']['0']}"
    _assert_same(spark, *[f"{path}/{r}" for r in m["files"]], base=base)
    # the recorded schemas are what inference returns
    assert sinks._recorded_schema(m["row_deletes"][0]["schema"]) == (
        spark.read.parquet(f"{path}/{key_rel}").schema
    )
    assert sinks._recorded_schema(m["schemas"]["0"]) == (
        spark.read.option("basePath", base)
        .parquet(*[f"{path}/{r}" for r in m["files"]])
        .schema
    )


# --- no schema-less package reads ---------------------------------------------


class _SchemalessReads:
    """Patches ``DataFrameReader`` so every ``.parquet`` call made from
    package code on a reader that never got ``.schema(...)`` is
    recorded. The ``mergeSchema`` reader (``sources/readers.py``)
    keeps Spark's inference on purpose and is exempt."""

    def __init__(self):
        from pyspark.sql.readwriter import DataFrameReader

        self.cls = DataFrameReader
        self.orig = (DataFrameReader.schema, DataFrameReader.parquet)
        self.typed = weakref.WeakSet()
        self.calls: list[tuple[str, tuple]] = []

    def __enter__(self):
        orig_schema, orig_parquet = self.orig
        guard = self

        def schema(reader, *a, **kw):
            guard.typed.add(reader)
            return orig_schema(reader, *a, **kw)

        def parquet(reader, *paths, **kw):
            caller = sys._getframe(1).f_code.co_filename
            if (
                reader not in guard.typed
                and caller.startswith(_PACKAGE)
                and not caller.endswith(os.path.join("sources", "readers.py"))
            ):
                guard.calls.append((os.path.relpath(caller, _PACKAGE), paths))
            return orig_parquet(reader, *paths, **kw)

        self.cls.schema, self.cls.parquet = schema, parquet
        return self

    def __exit__(self, *exc):
        self.cls.schema, self.cls.parquet = self.orig


@pytest.fixture(scope="module")
def q265_run(spark, sf_dir):
    """q265 (IVF-PQ index build and probe) at ``sf_dir`` under the
    guard: (schema-less calls, index path)."""
    from portfolio1_etl_spark.plans import REGISTRY
    from portfolio1_etl_spark.plans.ann_index_ops import ivfpq_index_path

    with _SchemalessReads() as guard:
        assert REGISTRY["q265_ivfpq_index_probe"].fn(spark, sf_dir).count() > 0
    return guard.calls, ivfpq_index_path(sf_dir)


def test_no_schemaless_read_in_q265(q265_run):
    calls, _ = q265_run
    assert calls == []


@pytest.mark.parametrize("part", ["centroids", "pq_codebook", "codes", "vectors"])
def test_matches_inference_on_ann_index_outputs(spark, q265_run, part):
    _, index = q265_run
    _assert_same(spark, f"{index}/{part}")


def test_no_schemaless_read_in_loads_and_chain_rounds(spark, sf_dir, tmp_path):
    path = str(tmp_path / "cap")
    with _SchemalessReads() as guard:
        for name in DRIVER_TABLES:
            catalog.load(spark, sf_dir, name).schema
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "k int, v string"
        )
        sinks.write_versioned(base, path, capture_changes=True)
        sinks.upsert_into_chain(
            spark, path, spark.createDataFrame([(1, "x"), (9, "y")], "k int, v string"), ["k"]
        )
        sinks.delete_from_chain(spark, path, spark.createDataFrame([(2,)], "k int"), ["k"])
        sinks.compact_versioned(spark, path)
        latest = sinks.read_version(spark, path).collect()
        assert len(latest) == 8
        for v in range(4):
            sinks.read_version(spark, path, v).collect()
        feed = sinks.read_changes(spark, path, 0, 3, key_cols=["k"]).collect()
        assert len(feed) == 4  # k=1 update pair, k=9 insert, k=2 delete
    assert guard.calls == []


def test_metadata_commits_keep_the_recorded_schema(spark, tmp_path, footer_calls):
    """On a chain without ``seqs`` the recorded schema is keyed by the
    version that wrote the group; metadata commits and compaction must
    still let every version's read skip the footer."""
    path = str(tmp_path / "plain")
    sinks.write_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    sinks.add_chain_constraint(spark, path, name="k_pos", check="k > 0")
    sinks.analyze_chain(spark, path, exact_ndv=True)
    sinks.compact_versioned(spark, path)
    sinks.add_chain_constraint(spark, path, not_null=["k"])
    footer_calls.clear()
    for v in range(5):
        assert sorted(tuple(r) for r in sinks.read_version(spark, path, v).collect()) == [
            (1, "a"),
            (2, "b"),
        ]
    assert footer_calls == []


def test_manifests_without_schemas_read_through_the_helper(spark, tmp_path, footer_calls):
    """Chains committed before compaction recorded ``schemas`` (or
    before any commit did) still read without an inference job: the
    footer is resolved on the driver instead."""
    import json

    path = str(tmp_path / "old")
    sinks.write_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    sinks.delete_from_chain(spark, path, spark.createDataFrame([(1,)], "k int"), ["k"])
    sinks.compact_versioned(spark, path)
    for v in range(3):
        mf = tmp_path / "old" / "_manifests" / f"v={v}.json"
        m = json.loads(mf.read_text())
        m.pop("schemas", None)
        for e in m.get("row_deletes") or []:
            e.pop("schema")
        mf.write_text(json.dumps(m))
    footer_calls.clear()
    with _SchemalessReads() as guard:
        got = [
            sorted(tuple(r) for r in sinks.read_version(spark, path, v).collect())
            for v in range(3)
        ]
    assert got == [[(1, "a"), (2, "b")], [(2, "b")], [(2, "b")]]
    assert guard.calls == []
    assert len(footer_calls) == 4  # v0 group, v1 group + key file, v2 group
