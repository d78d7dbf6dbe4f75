"""Lineage truncation: the one place that materializes a DataFrame.

Every iterative operator in this package (connected-components star
rounds, PageRank, Lloyd k-means, PQ codebook training, the corpus-prep
composite), every plan-level cut a query takes before a fan-out, and
every streaming fold materializes its state to truncate lineage —
without that, round N's plan replays rounds 1..N-1 and the unrolled
lineage grows without bound. HOW that state is stored is a deployment
decision, not an algorithm decision, and it is made once per session:
set a checkpoint directory and every materialization is durable.

- No checkpoint directory (the default): ``DataFrame.localCheckpoint
  (eager=True)`` — blocks on executor local disk/memory. Fastest, zero
  external storage, and what the single-JVM test harness wants. The
  cost: the blocks are NOT fault-tolerant. On a real cluster, losing
  one executor mid-iteration loses its blocks, and because lineage was
  truncated there is nothing to recompute from — the job dies.
- A checkpoint directory on the SparkContext (``session.get_spark(
  checkpoint_dir=...)`` or ``$SPARK_GRAFT_CHECKPOINT_DIR``):
  ``DataFrame.checkpoint(eager=True)`` into it — on a cluster an
  HDFS/object-store URI, so iteration and stream state survive any
  executor loss and a 100 TB run does not restart from scratch three
  hours in. The cost: one write + one read of the state through the
  reliable store per materialization.

Code outside this module calls :func:`materialize` (or
:func:`materialize_counted` when a loop needs the row count) and never
``localCheckpoint``/``checkpoint`` itself (``tests/test_checkpointing.py``
scans the package for such calls; q269's lazy candidate cut is the one
exception), so no operator hardcodes the trade-off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage: a reliable
    checkpoint when the SparkContext has a checkpoint directory, else
    a local one.

    The returned DataFrame is computed NOW (eager=True — iterative
    loops depend on each round running once, not lazily replaying) and
    its plan is a leaf scan of the stored blocks/files.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`materialize` plus the number of rows it stored.

    The count rides on the checkpoint action itself through
    ``DataFrame.observe`` (the metric fires under both the local and the
    reliable checkpoint), so an iterative loop that needs each round's
    size pays no separate ``count()`` job for it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = materialize(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return out, obs.get["n"]
