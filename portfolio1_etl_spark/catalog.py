"""Table loading over the driver's parquet directories.

Parquet scans are the engine's default source: columnar, predicate
pushdown, column pruning — the pandas reference's manual "project to 3
columns ASAP" (portfolio-etl.py:73, :226) and "push date window into the
API query" (portfolio-etl.py:43, :109) optimizations are what Catalyst
does for free once the scan is declarative.

``load`` reads the table's parquet footer on the driver
(``read_parquet``: no footer-inference job), passes the resulting schema
to the scan explicitly, and asserts it matches the declared schema
(names, top-level order and data types; nullability is not compared) —
at 100 TB a schema drift should fail loudly at plan time, not corrupt an
aggregate. Queries rely on the declared types: the reference pipeline
joins on integral part keys (plans/reference_pipeline.py).

events.parquet quirk: its ``ts`` column is parquet TIMESTAMP(NANOS),
which Spark's vectorized reader rejects. We enable
``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) and convert
nanos→micros with *integer* division (``div`` — a double intermediate
would lose precision above 2^53) into TIMESTAMP_NTZ, matching DuckDB's
naive-UTC truncation bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scratch_path(prefix: str, sf_dir: str) -> str:
    """Deterministic per-dataset tempdir location for queries that
    persist an artifact mid-run (the q135 index, the q168 chain):
    ``{tmp}/spark_graft_{prefix}_{md5(sf_dir)[:12]}``. One copy of the
    naming/hashing convention so artifact paths can't drift apart."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}_{tag}")


def path_for(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_conf(spark: SparkSession) -> None:
    """Pin confs correctness depends on, even on a caller-built session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: the summary files parquet schema inference reads before any data file
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file index keeps a file or directory of this
    name: it hides names starting with ``_`` (unless they hold a ``=``,
    a hive partition) or ``.``, and in-flight ``._COPYING_`` uploads,
    but keeps the parquet summary files."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARY_FILES)


def _schema_file(leaves: list[str]) -> str | None:
    """The one file of ``leaves`` (qualified path strings) whose footer
    parquet schema inference reads: ``_common_metadata``, else
    ``_metadata``, else the data file with the smallest path."""
    names = {p: p.rsplit("/", 1)[-1] for p in leaves}
    for summary in _SUMMARY_FILES:
        hits = [p for p in leaves if names[p] == summary]
        if hits:
            return min(hits)
    return min((p for p in leaves if names[p] not in _SUMMARY_FILES), default=None)


def footer_schema(spark: SparkSession, *paths: str):
    """The data schema ``spark.read.parquet(*paths)`` would infer,
    computed on the driver with no Spark job, or None when the paths
    hold no file (or the chosen footer is skipped as corrupt under
    ``spark.sql.files.ignoreCorruptFiles``) — the caller's read then
    raises Spark's own error.

    Spark's inference lists the paths, picks one file and runs a whole
    job to open its footer. This picks the same file (``_schema_file``
    over the leaves Spark's file index keeps: a file path costs one
    status call, a directory or glob one recursive listing) and
    converts its footer with the same ``ParquetFileFormat`` calls the
    inference task runs, so session settings (``nanosAsLong``,
    ``binaryAsString``, int96, NTZ inference) and Spark's own row
    metadata apply unchanged. A corrupt footer raises. Hive partition
    columns are not part of the footer: the read still infers them
    from the paths."""
    import json

    from py4j.java_gateway import JavaClass
    from pyspark.sql.types import StructType

    client = spark.sparkContext._gateway._gateway_client

    def jclass(name):
        # by name: no py4j round trip per package component
        return JavaClass(name, client)

    Path = jclass("org.apache.hadoop.fs.Path")
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    leaves: dict[str, object] = {}
    for p in paths:
        jpath = Path(p)
        fs = jpath.getFileSystem(conf)
        # one status call for a plain path (None when it is missing)
        found = fs.globStatus(jpath)
        if found is None:
            return None
        # a root directory's own name is never filtered, a root file's is
        stack = [st for st in found if st.isDirectory() or _listed(st.getPath().getName())]
        while stack:
            st = stack.pop()
            if st.isDirectory():
                stack.extend(
                    c for c in fs.listStatus(st.getPath()) if _listed(c.getPath().getName())
                )
            else:
                leaves[st.getPath().toString()] = st
    chosen = _schema_file(list(leaves))
    if chosen is None:
        return None
    fmt = getattr(
        jclass("org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$"),
        "MODULE$",
    )
    footers = fmt.readParquetFootersInParallel(
        conf,
        jclass("org.apache.spark.api.python.PythonUtils").toSeq(
            jclass("java.util.List").of(leaves[chosen])
        ),
        state.conf().ignoreCorruptFiles(),
    )
    schema = fmt.readSchema(footers, spark._jsparkSession)
    return None if schema.isEmpty() else StructType.fromJson(json.loads(schema.get().json()))


def read_parquet(spark: SparkSession, *paths: str, reader=None) -> DataFrame:
    """``(reader or spark.read).parquet(*paths)`` with the schema
    passed explicitly from ``footer_schema``: the same frame, without
    the footer-inference job Spark runs for every schema-less parquet
    read. ``reader`` carries options such as ``basePath``."""
    reader = reader or spark.read
    schema = footer_schema(spark, *paths)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def load(spark: SparkSession, sf_dir: str, name: str, validate: bool = True) -> DataFrame:
    """Scan one driver table; optionally validate column names, order
    and types against the declared schema. Types compare by their
    simple strings, so nullability (nested included) is not checked."""
    _ensure_session_conf(spark)
    df = read_parquet(spark, path_for(sf_dir, name))
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    if name == "events" and ("ts", "bigint") in actual:
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
        actual = [("ts", "timestamp_ntz") if c == ("ts", "bigint") else c for c in actual]
    if validate and name in schemas.DRIVER_TABLES:
        declared = [
            (f.name, f.dataType.simpleString()) for f in schemas.DRIVER_TABLES[name].fields
        ]
        if [c for c, _ in actual] != [c for c, _ in declared]:
            raise ValueError(
                f"schema drift in {name}: declared {[c for c, _ in declared]}, "
                f"parquet has {[c for c, _ in actual]}"
            )
        for (col, want), (_, got) in zip(declared, actual):
            if got != want:
                raise ValueError(
                    f"schema drift in {name}.{col}: declared {want}, parquet has {got}"
                )
    return df
