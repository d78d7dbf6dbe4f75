"""Scale-adaptive parallelism helper (r13 optimization round).

The class of defect this fixes (SCALING.md r12 Finding 6, the q69
lesson): Spark sizes scan splits by INPUT BYTES, so a stage whose
per-row cost dwarfs its input bytes — a ×64 row fan-out, a greedy
longest-match tokenizer, a Python codec decoding every row — inherits
however few splits the scan planned and runs on a fraction of the
configured parallelism. ``spread_rows`` right-sizes such a stage's
input to ``spark.sql.shuffle.partitions`` with one round-robin
exchange of the NARROW input rows (ids, text keys — never the
amplified output), the same remedy ``operators.dedup.shingle_hashes``
applies before its ~50× explode.

The partition count is conf-derived, never a constant: locally it is
the core count; on a cluster it is the configured 2-3× total-core
width every other shuffled stage already uses — so the repartition is
right-sizing to the session's declared parallelism at any scale.

Only use this in front of work whose per-row cost clearly dominates a
fixed-width row shuffle (codec decode, tokenizer loops, bounded row
fan-outs); a plain explode feeding one aggregate does not qualify —
the aggregate's own exchange already spreads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_rows(df: DataFrame, npart: int | None = None) -> DataFrame:
    """Round-robin repartition of ``df`` to the configured shuffle
    parallelism (or an explicit ``npart``) ahead of CPU-heavy narrow
    work — SKIPPED when the incoming plan already provides at least
    that many partitions. Callers must only feed PARTITIONING-
    INDEPENDENT pipelines (per-row outputs, exact/integer or
    rounded-before-fold aggregates) — every registry consumer is
    value-hash-gated against the oracle, which enforces exactly that.

    Scale-conditional (r14): the starvation this fixes is a property
    of byte-budgeted scan splits over tiny fixtures (one file, one
    row group ⇒ one split). A 100 TB scan plans thousands of splits,
    and an UNCONDITIONAL repartition there is a pure extra shuffle of
    every row (the r13 verdict's #3). The incoming parallelism is read
    off the compiled plan (``df.rdd.getNumPartitions()`` — plan
    compilation only, no job); when it already meets the target the
    input passes through untouched, so the spread self-removes at
    scale instead of needing a config switch."""
    n = npart or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:
        pass  # unplannable-to-RDD edge: keep the conservative spread
    return df.repartition(n)


def overlap_jobs(*thunks):
    """Run independent EAGER Spark actions (or plan constructions)
    concurrently from driver threads and return their results in
    argument order — the guide's §2.6 idle-capacity remedy applied to
    construction-bound operators: a persisted index build or a
    multi-leg scoreboard issues many small sequential driver actions
    (writes, checkpoints, py4j round-trips), each leaving most of the
    cluster idle; actions are only sequential because the driver calls
    them sequentially, and Spark's FIFO scheduler back-fills the tail
    of one job with the next job's tasks.

    Callers must pass thunks with NO data dependencies between them
    (the whole point); exceptions propagate from ``result()``. Each leg
    starts with its own copy of the caller's Spark local properties
    (job group, job description, scheduler pool) — under PySpark's
    pinned-thread mode a fresh driver thread would otherwise start
    with none, so overlapped jobs would escape the caller's group and
    its cancellation. Local properties are thread-local, so a leg may
    still relabel itself without touching its siblings."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_with_caller_properties(t)) for t in thunks]
        return [f.result() for f in futures]


def _with_caller_properties(thunk):
    """``thunk`` wrapped to run under a copy of the calling thread's
    Spark local properties (taken now, applied in whichever thread
    runs it)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return thunk
    props = sc._jsc.sc().getLocalProperties().clone()

    def run():
        sc._jsc.sc().setLocalProperties(props)
        return thunk()

    return run
