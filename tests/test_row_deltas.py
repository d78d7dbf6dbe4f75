"""Row-level delta commits on the manifest chain: DELETE/MERGE as
O(delta) commits that never rewrite the snapshot — the r9 verdict's
top storage gap. The core pins: the untouched bulk's files stay
byte-identical across a commit, reads resolve deletes with Iceberg's
strictly-older-files rule, retention respects cross-version file
references, and lazy compaction materializes the resolved view."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.sinks import (
    compact_versioned,
    delete_from_chain,
    prune_versions,
    read_changes,
    read_version,
    upsert_into_chain,
    vacuum_chain,
    write_versioned,
)


def _base(spark, path, n=100):
    df = spark.range(0, n).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 10).cast("long").alias("v"),
    )
    write_versioned(df, path, capture_changes=True, manifest=True)
    return df


def _file_hashes(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    open(p, "rb").read()
                ).hexdigest()
    return out


def test_delete_reuses_files_byte_identical(spark, tmp_path):
    path = str(tmp_path / "chain")
    _base(spark, path)
    before = _file_hashes(path)
    keys = spark.createDataFrame([(3,), (7,), (999,)], "k long")  # 999 absent
    v = delete_from_chain(spark, path, keys, ["k"])
    assert v == 1
    after = _file_hashes(path)
    # every pre-existing parquet byte-identical; only new files added
    for rel, h in before.items():
        assert after[rel] == h, f"rewrote {rel}"
    got = sorted(r["k"] for r in read_version(spark, path).collect())
    assert got == sorted(set(range(100)) - {3, 7})
    # time travel unaffected
    assert read_version(spark, path, 0).count() == 100
    # captured feed: the two real deletions, full rows
    feed = read_changes(spark, path, 0, 1).collect()
    assert sorted((r["k"], r["v"], r["_change"]) for r in feed) == [
        (3, 30, "delete"),
        (7, 70, "delete"),
    ]


def test_upsert_update_insert_and_noop(spark, tmp_path):
    path = str(tmp_path / "chain")
    _base(spark, path)
    src = spark.createDataFrame(
        [(5, 999), (200, 2000), (6, 60)], "k long, v long"
    )  # update, insert, NO-OP (identical to base row)
    v = upsert_into_chain(spark, path, src, ["k"])
    assert v == 1
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[5] == 999 and rows[200] == 2000 and rows[6] == 60
    assert len(rows) == 101
    # the no-op upsert nets to ZERO in the feed (exceptAll semantics)
    feed = sorted(
        (r["k"], r["v"], r["_change"])
        for r in read_changes(spark, path, 0, 1).collect()
    )
    assert feed == [
        (5, 50, "delete"),
        (5, 999, "insert"),
        (200, 2000, "insert"),
    ]


def test_delete_does_not_suppress_later_appends(spark, tmp_path):
    """Iceberg's strictly-older rule: a key deleted at v1 and
    re-inserted at v2 must survive — the v1 delete vector applies only
    to files with seq < 1."""
    path = str(tmp_path / "chain")
    _base(spark, path)
    delete_from_chain(
        spark, path, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    assert 1 not in {r["k"] for r in read_version(spark, path).collect()}
    upsert_into_chain(
        spark, path, spark.createDataFrame([(1, 111)], "k long, v long"), ["k"]
    )
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[1] == 111
    assert read_version(spark, path).count() == 100
    # and v1 still reads without key 1 (each version resolves its own)
    assert 1 not in {r["k"] for r in read_version(spark, path, 1).collect()}


def test_repeated_upserts_of_same_key(spark, tmp_path):
    path = str(tmp_path / "chain")
    _base(spark, path, n=10)
    for val in (100, 200, 300):
        upsert_into_chain(
            spark,
            path,
            spark.createDataFrame([(2, val)], "k long, v long"),
            ["k"],
        )
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[2] == 300 and len(rows) == 10


def test_prune_keeps_files_referenced_by_survivors(spark, tmp_path):
    """v0's data files are referenced by the v1 delta manifest; pruning
    v0 must drop its manifest but NOT the shared storage."""
    path = str(tmp_path / "chain")
    _base(spark, path)
    delete_from_chain(
        spark, path, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    doomed = prune_versions(spark, path, keep=1)
    assert doomed == [0]
    assert not os.path.exists(f"{path}/_manifests/v=0.json")
    got = sorted(r["k"] for r in read_version(spark, path).collect())
    assert got == list(range(1, 100))
    # vacuum must also keep everything the survivor references
    vacuum_chain(spark, path)
    assert sorted(
        r["k"] for r in read_version(spark, path).collect()
    ) == list(range(1, 100))


def test_compaction_materializes_and_drops_vectors(spark, tmp_path):
    import json

    path = str(tmp_path / "chain")
    _base(spark, path)
    delete_from_chain(
        spark, path, spark.createDataFrame([(9,)], "k long"), ["k"]
    )
    upsert_into_chain(
        spark, path, spark.createDataFrame([(50, -1)], "k long, v long"), ["k"]
    )
    v = compact_versioned(spark, path)
    m = json.load(open(f"{path}/_manifests/v={v}.json"))
    assert "row_deletes" not in m and "seqs" not in m
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert 9 not in rows and rows[50] == -1 and len(rows) == 99
    # compaction commits an EMPTY feed (layout rewrite, not data change)
    assert read_changes(spark, path, v - 1, v).count() == 0


def test_delta_commit_guardrails(spark, tmp_path):
    path = str(tmp_path / "chain")
    _base(spark, path, n=5)
    with pytest.raises(ValueError, match="schema"):
        upsert_into_chain(
            spark,
            path,
            spark.createDataFrame([(1, 1, 1)], "k long, v long, extra long"),
            ["k"],
        )
    with pytest.raises(ValueError, match="key columns"):
        delete_from_chain(
            spark, path, spark.createDataFrame([(1,)], "nope long"), ["nope"]
        )
    # first delete commits fine; a second keyed DIFFERENTLY must not
    delete_from_chain(
        spark, path, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    with pytest.raises(ValueError, match="one chain, one key set"):
        delete_from_chain(
            spark, path, spark.createDataFrame([(10,)], "v long"), ["v"]
        )


def test_partitioned_chain_delta_commits_and_prunes(spark, tmp_path):
    """Delta commits on a HIVE-PARTITIONED chain: appended rows stage
    in the same layout, the per-seq basePath read restores partition
    columns for every file group, a filter on the partition column
    still prunes at plan time, and the untouched partitions' files
    stay byte-identical."""
    path = str(tmp_path / "pchain")
    df = spark.createDataFrame(
        [(i, i % 3, i * 10) for i in range(60)], "k long, region int, v long"
    )
    write_versioned(df, path, manifest=True, partition_by=["region"])
    before = _file_hashes(path)
    upsert_into_chain(
        spark,
        path,
        spark.createDataFrame(
            [(5, 2, -5), (100, 1, -100)], "k long, region int, v long"
        ),
        ["k"],
    )
    after = _file_hashes(path)
    for rel, h in before.items():
        assert after[rel] == h, f"rewrote {rel}"
    got = read_version(spark, path)
    assert dict((r["k"], (r["region"], r["v"])) for r in got.collect())[5] == (2, -5)
    assert got.count() == 61
    # plan-time pruning on the partition column survives delta resolve
    plan = (
        got.filter(F.col("region") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(region" in plan
    rows = got.filter(F.col("region") == 1).collect()
    assert {r["k"] for r in rows} == ({i for i in range(60) if i % 3 == 1} | {100})
    delete_from_chain(
        spark, path, spark.createDataFrame([(0,), (100,)], "k long"), ["k"]
    )
    assert read_version(spark, path).count() == 59


def test_upsert_refuses_type_change_and_records_widening(spark, tmp_path):
    """Schema validation at delta-commit time is by TYPE, not just
    name: a same-named column of a different (non-widening) type must
    refuse at write — committing it would put mixed-type parquet into
    the chain and corrupt every later read_version at the cross-seq
    unionByName. Value-preserving widenings (long stays the ceiling
    here, so test int base → long upsert) commit and are RECORDED in
    the manifest like write_versioned records them."""
    path = str(tmp_path / "typed_chain")
    base = spark.range(0, 20).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("int").alias("v"),
    )
    write_versioned(base, path, capture_changes=True, manifest=True)
    # cross-family reinterpretation refuses loudly
    bad = spark.range(0, 3).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("v"),
    )
    with pytest.raises(ValueError, match="not a type-widening"):
        upsert_into_chain(spark, path, bad, ["k"])
    # narrowing int->... there is none below int in the base; test
    # widening int -> long commits and records the promotion
    wide = spark.range(0, 3).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 1000).cast("long").alias("v"),
    )
    n = upsert_into_chain(spark, path, wide, ["k"])
    import json

    man = json.loads(
        (tmp_path / "typed_chain" / "_manifests" / f"v={n}.json").read_text()
    )
    assert man["type_promotions"] == {"v": {"from": "int", "to": "bigint"}}
    got = read_version(spark, path, n)
    assert got.filter(F.col("k") == 1).select("v").first()[0] == 1000
    assert got.count() == 20
