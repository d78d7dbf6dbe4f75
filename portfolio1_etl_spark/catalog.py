"""Table loading over the driver's parquet directories.

Parquet scans are the engine's default source: columnar, predicate
pushdown, column pruning — the pandas reference's manual "project to 3
columns ASAP" (portfolio-etl.py:73, :226) and "push date window into the
API query" (portfolio-etl.py:43, :109) optimizations are what Catalyst
does for free once the scan is declarative.

``load`` asserts the parquet footer matches the declared schema (names,
top-level order and data types; nullability is not compared) instead of
trusting inference — at 100 TB a schema drift should fail loudly at plan
time, not corrupt an aggregate. Queries rely on the declared types: the
reference pipeline joins on integral part keys (plans/reference_pipeline.py).

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


def load(spark: SparkSession, sf_dir: str, name: str, validate: bool = True) -> DataFrame:
    """Scan one driver table; optionally validate column names, order
    and types against the declared schema. Types compare by their
    simple strings, so nullability (nested included) is not checked."""
    _ensure_session_conf(spark)
    df = spark.read.parquet(path_for(sf_dir, name))
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
