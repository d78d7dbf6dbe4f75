"""Lineage-truncation policy for iterative operators.

Every iterative operator in this package (connected-components star
rounds, PageRank, Lloyd k-means, PQ codebook training, the corpus-prep
composite) materializes its per-round state to truncate lineage —
without that, round N's plan replays rounds 1..N-1 and the unrolled
lineage grows without bound. HOW that state is materialized is a
deployment decision, not an algorithm decision, so it lives here:

- ``local`` (default): ``DataFrame.localCheckpoint(eager=True)`` —
  blocks stored on executor local disk/memory. Fastest, zero external
  storage, and what the single-JVM test harness wants. The cost: the
  blocks are NOT fault-tolerant. On a real cluster, losing one
  executor mid-iteration loses its blocks, and because lineage was
  truncated there is nothing to recompute from — the job dies.
- ``reliable``: ``DataFrame.checkpoint(eager=True)`` into the
  SparkContext checkpoint directory — on a cluster an HDFS/object-store
  URI, so iteration state survives any executor loss and a 100 TB run
  does not restart from scratch three hours in. The cost: one write +
  one read of the round state through the reliable store per round.

Operators take ``checkpoint_mode={'local','reliable'}`` and route every
round-state materialization through :func:`materialize` (or
:func:`materialize_counted` when the loop needs the round's row count),
so the algorithm code never hardcodes the tradeoff. The checkpoint directory
comes from (first match wins) an explicitly configured
``sc.setCheckpointDir`` (``session.get_spark(checkpoint_dir=...)``),
``$SPARK_GRAFT_CHECKPOINT_DIR``, or a process-local temp dir — the temp
fallback keeps ``reliable`` runnable on the test harness while the
docstring boundary is explicit: point it at a durable URI in
production.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

LOCAL = "local"
RELIABLE = "reliable"
_MODES = (LOCAL, RELIABLE)


def ensure_checkpoint_dir(spark: SparkSession) -> str:
    """Return the context's checkpoint dir, configuring one if unset.

    Precedence: an already-set ``sc.setCheckpointDir`` wins (a cluster
    job sets an HDFS/S3 URI once at session build); else
    ``$SPARK_GRAFT_CHECKPOINT_DIR``; else a fresh local temp dir (test
    harness only — local disk is NOT durable on a multi-node cluster).
    """
    sc = spark.sparkContext
    existing = sc.getCheckpointDir()
    if existing:
        return existing
    path = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or tempfile.mkdtemp(
        prefix="spark-graft-ckpt-"
    )
    sc.setCheckpointDir(path)
    return path


def materialize(df: DataFrame, mode: str = LOCAL) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage per ``mode``.

    The returned DataFrame is computed NOW (eager=True — iterative
    loops depend on each round running once, not lazily replaying) and
    its plan is a leaf scan of the stored blocks/files.
    """
    if mode == LOCAL:
        return df.localCheckpoint(eager=True)
    if mode == RELIABLE:
        ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint(eager=True)
    raise ValueError(
        f"unknown checkpoint_mode {mode!r}: expected one of {_MODES}"
    )


def materialize_counted(df: DataFrame, mode: str = LOCAL) -> tuple[DataFrame, int]:
    """:func:`materialize` plus the number of rows it stored.

    The count rides on the checkpoint action itself through
    ``DataFrame.observe`` (the metric fires under both the local and the
    reliable checkpoint), so an iterative loop that needs each round's
    size pays no separate ``count()`` job for it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = materialize(df.observe(obs, F.count(F.lit(1)).alias("n")), mode)
    return out, obs.get["n"]
