"""``parallelism.spread_rows`` — the r13 right-sizing helper must be
SCALE-CONDITIONAL (r14): it exists to fix single-split starvation on
tiny fixtures, so on an input that already plans enough partitions it
must add NO exchange (at 100 TB an unconditional repartition is a pure
extra shuffle of every row — the r13 verdict's #3).

``parallelism.overlap_jobs`` must keep overlapped legs inside the
caller's job context (job group and description)."""

from __future__ import annotations

import threading
import uuid

import pytest

from portfolio1_etl_spark.parallelism import overlap_jobs, spread_rows


@pytest.fixture(scope="module")
def one_file(spark, tmp_path_factory):
    """Single-file single-row-group parquet — the starved fixture
    shape every sf table has (one split regardless of size)."""
    base = tmp_path_factory.mktemp("spreadfix")
    df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
    df.coalesce(1).write.parquet(str(base / "one"))
    return str(base / "one")


def test_spread_skipped_on_wide_input(spark):
    """An input already at (or above) the target parallelism passes
    through UNTOUCHED — the spread self-removes at scale."""
    df = spark.range(0, 10_000, numPartitions=64).selectExpr(
        "id", "id * 2 AS v"
    )
    assert df.rdd.getNumPartitions() >= 32
    out = spread_rows(df, npart=32)
    assert out is df  # pass-through: no node added at all


def test_spread_applied_on_starved_input(spark, one_file):
    df = spark.read.parquet(one_file)
    assert df.rdd.getNumPartitions() < 32
    out = spread_rows(df, npart=32)
    plan = out._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" in plan
    assert out.rdd.getNumPartitions() == 32


def test_spread_preserves_rows(spark, one_file):
    df = spark.read.parquet(one_file)
    assert sorted(r.id for r in spread_rows(df, npart=32).collect()) == list(
        range(10_000)
    )


def test_overlapped_legs_keep_caller_job_group(spark):
    """Jobs run from overlap_jobs' driver threads carry the job group
    the caller set, so group cancellation and per-query labels reach
    them."""
    sc = spark.sparkContext
    group = f"overlap-{uuid.uuid4().hex}"
    main = threading.get_ident()
    legs = [
        lambda n=n: (threading.get_ident(), spark.range(n).count())
        for n in (10, 20, 30)
    ]
    sc.setJobGroup(group, "overlap_jobs job-group guard")
    try:
        out = overlap_jobs(*legs)
        assert sc.getLocalProperty("spark.job.description") == (
            "overlap_jobs job-group guard"
        )
    finally:
        sc._jsc.clearJobGroup()
    assert [n for _, n in out] == [10, 20, 30]
    assert all(tid != main for tid, _ in out)  # legs ran off the caller thread
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
