"""SparkSession factory.

Configured the way a production cluster job would be, scaled to the
local[N] test harness:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB the static partition count is always wrong for some stage.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this would be ~2-3x total executor cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics are identical to
  the DuckDB oracle (naive-UTC) and stable across driver machines.
- Arrow enabled: every pandas interchange (createDataFrame, toPandas,
  pandas_udf/applyInPandas) goes through columnar batches.
- Broadcast threshold raised to 64 MB: every dimension table in the
  star schema (region/nation/customer/supplier/part at dim scale)
  should broadcast rather than shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "").strip() or "*"


def get_spark(
    app_name: str = "portfolio1-etl-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` else ``*``. Shuffle
    partitions default to the core count (AQE coalesces further down).
    ``checkpoint_dir`` (else ``$SPARK_GRAFT_CHECKPOINT_DIR``) sets the
    SparkContext checkpoint directory, and with it set every
    materialization is durable: each iterative round, plan-level cut
    and streaming fold that goes through ``operators.checkpointing``
    writes a reliable checkpoint there instead of executor-local
    blocks. On a cluster this must be a durable URI (HDFS/object
    store), since reliable checkpoints exist precisely to survive
    executor loss. Without it, materializations stay local.
    """
    cpus = str(cpus) if cpus is not None else _cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # preferSortMergeJoin stays at its DEFAULT (true) — the r13
        # global flip to false was A/B'd at idle in r14
        # (plans/r14/ab_preferSortMergeJoin.txt, 17 join-heavy
        # queries, interleaved min-of-3): the only plan it changed
        # was q31's full-outer SMJ -> SHJ, which ran ~40% SLOWER
        # (0.43s -> 0.60s; plans/r14/q31_full_outer_join_*_pref.txt),
        # and every other join either broadcasts under the 64 MB
        # threshold or keeps SMJ. The quadratic probes that do want
        # shuffled-hash (graph closure, prefix index) force it with
        # explicit SHUFFLE_HASH hints at the join site, which also
        # scopes the no-spill build-side memory risk to joins whose
        # per-partition build size is known-bounded.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkpoint_dir = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark
