"""Connected components (alternating large-star/small-star) — the
cluster-contraction step behind q89. Ground truth: a driver-side
union-find over the same edge list (fine at test scale).

Every graph here is under the operator's driver-finish bound, so each
deterministic case runs twice: with the bound patched to 0 (the
distributed star rounds and the exact fixpoint test, end to end) and
at the default bound (collect and finish on the driver)."""

from __future__ import annotations

import contextlib
import uuid
from unittest import mock

from pyspark.sql import functions as F

from portfolio1_etl_spark.operators import dedup
from portfolio1_etl_spark.operators.dedup import connected_components


def _star_only():
    return mock.patch.object(dedup, "_DRIVER_FINISH_EDGES", 0)


def _bounds():
    """The two finishes each deterministic case runs under: the star
    rounds only (bound 0), then the default driver-finish bound."""
    return (_star_only(), contextlib.nullcontext())


@contextlib.contextmanager
def _job_group(spark):
    """Run the body under a fresh job group; the yielded list is
    filled with the ids of the Spark jobs the body issued."""
    sc = spark.sparkContext
    group = f"cc-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(group, "connected_components job guard")
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges: list[tuple[int, int]]):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = set(_uf_components(edges).items())
    for bound in _bounds():
        with bound:
            got = {
                (r["node"], r["component"])
                for r in connected_components(df).collect()
            }
        assert got == want


def test_chain_collapses_to_min(spark):
    # worst case for naive label propagation: a 12-node path
    _check(spark, [(i, i + 1) for i in range(12)])


def test_two_cliques_and_a_bridge(spark):
    clique1 = [(a, b) for a in range(3) for b in range(3) if a < b]
    clique2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    _check(spark, clique1 + clique2)
    _check(spark, clique1 + clique2 + [(2, 10)])  # bridged: one component


def test_reversed_and_duplicate_edges(spark):
    _check(spark, [(5, 1), (1, 5), (5, 9), (9, 5), (9, 9), (3, 2)])


def test_star_input_is_fixpoint(spark):
    _check(spark, [(0, i) for i in range(1, 8)])


def test_deterministic_mixed_graph(spark):
    # fixed pseudo-random graph (no RNG at runtime)
    edges = [((i * 7919) % 50, (i * 104729) % 50) for i in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_empty_input(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    for bound in _bounds():
        with bound:
            out = connected_components(df)
        assert out.columns == ["node", "component"]
        assert out.count() == 0


def test_self_pairs_only(spark):
    df = spark.createDataFrame([(4, 4), (7, 7)], "doc_a long, doc_b long")
    for bound in _bounds():
        with bound:
            out = connected_components(df)
        assert out.columns == ["node", "component"]
        assert out.count() == 0


def test_switches_to_driver_finish_mid_loop(spark):
    """K8 plus a disjoint 3-node path starts with 28 + 2 = 30 edges;
    one star round turns K8 into a 7-edge star, leaving 9. With the
    bound at 10 the first round runs distributed and the second edge
    set is finished on the driver: the result is a local relation, not
    the star path's grouped aggregate."""
    k8 = [(a, b) for a in range(8) for b in range(8) if a < b]
    edges = k8 + [(20, 21), (21, 22)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with mock.patch.object(dedup, "_DRIVER_FINISH_EDGES", 10):
        out = connected_components(df)
    assert "Aggregate" not in out._jdf.queryExecution().optimizedPlan().toString()
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == set(_uf_components(edges).items())


def test_driver_finish_job_count_and_schema(spark):
    """Under the bound the operator is one observed checkpoint plus one
    Arrow collect: at most 4 Spark jobs (AQE runs the checkpoint's
    shuffle as its own job), where the star rounds issue several per
    round. The result keeps the star path's column names and id
    types."""
    ids = {"long": int, "int": int, "string": lambda i: f"d{i:02d}"}
    for id_type, make in ids.items():
        df = spark.createDataFrame(
            [(make(0), make(1)), (make(1), make(2)), (make(30), make(31))],
            f"doc_a {id_type}, doc_b {id_type}",
        )
        with _job_group(spark) as jobs:
            out = connected_components(df)
        assert len(jobs) <= 4, jobs
        with _star_only():
            star = connected_components(df)
        fields = [(f.name, f.dataType) for f in out.schema.fields]
        assert fields == [(f.name, f.dataType) for f in star.schema.fields]
        assert [t for _, t in fields] == [df.schema["doc_a"].dataType] * 2
        assert sorted(out.collect()) == sorted(star.collect())


def test_convergence_is_exact_not_digest(spark):
    # The old stopping rule compared a (count, hash-sum) digest of the
    # edge set between rounds — two DIFFERENT edge sets with a digest
    # collision would end the loop early with wrong labels. The check
    # is now exact set equality (both exceptAll directions empty), so
    # count-preserving rounds must NOT stop early: long paths keep the
    # edge COUNT roughly stable across star rounds while the edge SET
    # changes every round — exactly the count-collision shape.
    for length in (16, 31):
        _check(spark, [(i, i + 1) for i in range(length)])


def test_many_small_components_converge_exactly(spark):
    # hundreds of 2-cliques: per-round edge count is constant from the
    # start (every round maps each pair onto itself) — termination must
    # come from true set equality, never from count equality alone.
    _check(spark, [(2 * i, 2 * i + 1) for i in range(200)])


def test_leakage_safe_split_structural_guarantee(spark, sf_dir):
    """The q139 invariants, asserted structurally (not via the oracle):
    every near-dup pair shares a split (the leakage guarantee is by
    construction, so NO pair may straddle), every document is assigned
    exactly once, and the hash split lands near 80/10/10."""
    from portfolio1_etl_spark.plans import REGISTRY

    split = REGISTRY["q139_leakage_safe_split"].fn(spark, sf_dir)
    docs_n = split.count()
    assert split.select("doc_id").distinct().count() == docs_n

    pairs = REGISTRY["q77_jaccard_dfcap"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    a = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    straddlers = (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddlers == 0, "near-dup pair straddles a split boundary"

    frac = {
        r["split"]: r["n"] / docs_n
        for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert 0.6 < frac["train"] < 0.95 and frac["val"] < 0.25 and frac["test"] < 0.25
