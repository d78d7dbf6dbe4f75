"""Property-based invariants (hypothesis) over the pipeline's NULL/NaN
-sensitive operators — guarding exactly the pandas-vs-SQL semantic
traps from SURVEY.md §4.3.5-7."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from portfolio1_etl_spark.pipeline import clean_sales, soldvalue, wholesale

skus = st.sampled_from(["a-1", "B-2 ", " c-3", "sku", "other", "D-4"])
qtys = st.sampled_from(["1", "2.5", "junk", "0", "-3", ""])
rows = st.lists(st.tuples(skus, qtys), min_size=0, max_size=25)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(data=rows)
@_SETTINGS
def test_soldvalue_total_preserved(spark, data):
    """Invariant: sum(groupBy sum) == sum(all cleaned rows) — NULL
    qty rows contribute nothing in both forms (NaN-skip parity)."""
    sales = spark.createDataFrame(
        [(s, q, "site") for s, q in data] or [("x", "1", "site")],
        "sku string, qty string, site string",
    )
    cleaned = clean_sales(sales)
    direct = cleaned.agg(F.sum("qty")).collect()[0][0]
    grouped = soldvalue(cleaned).agg(F.sum("qty")).collect()[0][0]
    if direct is None:
        assert grouped is None
    else:
        assert math.isclose(direct, grouped, rel_tol=1e-9)


@given(data=rows)
@_SETTINGS
def test_clean_sales_never_emits_sentinels(spark, data):
    sales = spark.createDataFrame(
        [(s, q, "site") for s, q in data] or [("x", "1", "site")],
        "sku string, qty string, site string",
    )
    got = [r.sku for r in clean_sales(sales).collect()]
    assert all(s == s.strip().lower() for s in got)
    assert "other" not in got and not any("sku" in s for s in got)


@given(mults=st.lists(st.floats(0.5, 4, allow_nan=False), min_size=1, max_size=4))
@_SETTINGS
def test_wholesale_right_join_keeps_every_map_row(spark, mults):
    """Right-join invariant (§4.3.6): the wholesale output has exactly
    the distinct sku_name groups of the map, sales or not."""
    sales = spark.createDataFrame(
        [("a-1", "2", "w")], "sku string, qty string, site string"
    )
    skus_map = spark.createDataFrame(
        [(f"p{i}", f"W{i % 2}", m) for i, m in enumerate(mults)],
        "sku_part string, sku_name string, multiplier double",
    )
    ws = wholesale(soldvalue(clean_sales(sales)), skus_map)
    want_groups = {f"W{i % 2}" for i in range(len(mults))}
    assert {r.sku for r in ws.collect()} == want_groups


@given(
    base=st.text(alphabet="abcdef ", min_size=30, max_size=60),
    n_copies=st.integers(2, 4),
)
@_SETTINGS
def test_minhash_lsh_finds_exact_duplicates(spark, base, n_copies):
    """An exact duplicate has Jaccard 1.0 and identical MinHash
    signatures — LSH candidates MUST contain every exact-dup pair."""
    from portfolio1_etl_spark.operators.dedup import (
        jaccard_pairs, lsh_candidates, minhash_signatures, shingle_hashes,
        verify_candidates,
    )

    text = " ".join(w for w in base.split() if w) or "a b c d"
    if len(text.split()) < 3:
        text = text + " x y z"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n_copies)] + [(99, "totally different words here now")],
        "doc_id long, text string",
    )
    sh = shingle_hashes(docs, "text")
    cand = lsh_candidates(minhash_signatures(sh))
    got_pairs = {(r.doc_a, r.doc_b) for r in verify_candidates(sh, cand, 0.99).collect()}
    want_pairs = {(i, j) for i in range(n_copies) for j in range(i + 1, n_copies)}
    assert want_pairs <= got_pairs


@given(vals=st.lists(st.floats(-1, 1, allow_nan=False, width=32), min_size=4, max_size=4))
@_SETTINGS
def test_cosine_topk_self_similarity_bound(spark, vals):
    """cosine(sim) of any pair lies in [-1, 1] + identical vectors rank
    first (sim == 1 within fp tolerance)."""
    from portfolio1_etl_spark.operators.similarity import brute_force_topk, with_norms

    if all(abs(v) < 1e-6 for v in vals):
        vals = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, vals), (1, vals), (2, [vals[1], vals[0], vals[3], vals[2]])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    vecs = with_norms(emb)
    out = brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2).collect()
    assert all(-1.0 - 1e-9 <= r.sim <= 1.0 + 1e-9 for r in out)
    top = [r for r in out if r.rank == 1][0]
    assert top.neighbor_id == 1 and abs(top.sim - 1.0) < 1e-9


def test_df_cap_bounds_hot_shingle_candidates(spark):
    """A shingle shared by every document otherwise enumerates O(n²)
    candidate pairs; the df-cap drops it before pair enumeration while
    genuinely similar pairs (sharing informative shingles) survive."""
    from portfolio1_etl_spark.operators.dedup import (
        hot_shingles, jaccard_pairs, shingle_hashes,
    )

    hot = "common boiler plate"  # one 3-gram shared by ALL docs
    docs = spark.createDataFrame(
        [(i, f"{hot} unique{i} token{i} filler{i}") for i in range(40)]
        + [(100, f"{hot} twin alpha beta"), (101, f"{hot} twin alpha beta")],
        "doc_id long, text string",
    )
    sh = shingle_hashes(docs, "text")
    assert hot_shingles(sh, df_cap=4).count() >= 1
    uncapped = jaccard_pairs(sh).count()
    capped_pairs = jaccard_pairs(sh, df_cap=4)
    assert capped_pairs.count() < uncapped / 10  # 861+ pairs -> ~1
    # the true twin pair still survives with high similarity
    twins = {(r.doc_a, r.doc_b): r.jaccard for r in capped_pairs.collect()}
    assert (100, 101) in twins and twins[(100, 101)] == 1.0


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """bucket_cap bounds the band self-join: identical boilerplate docs
    collapse into one (band, sig) bucket whose pair count is quadratic;
    capping drops that bucket entirely."""
    from portfolio1_etl_spark.operators.dedup import (
        lsh_candidates, minhash_signatures, shingle_hashes,
    )

    docs = spark.createDataFrame(
        [(i, "same exact boiler plate text everywhere") for i in range(30)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(shingle_hashes(docs, "text"))
    assert lsh_candidates(sigs).count() == 30 * 29 // 2
    assert lsh_candidates(sigs, bucket_cap=10).count() == 0


def test_multiprobe_lsh_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe LSH must recover at least the single-probe result
    set and close part of the gap to the exact baseline."""
    from portfolio1_etl_spark import catalog
    from portfolio1_etl_spark.operators.similarity import (
        brute_force_topk, signbit_lsh_topk, with_norms,
    )

    vecs = with_norms(catalog.load(spark, sf_dir, "embeddings"))
    queries = vecs.filter(F.col("vec_id") < 8)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(vecs, queries, k=5).collect()
    }
    # large k ≈ candidate sets (ranking cutoff not binding), so probe
    # widening can only add pairs
    single = {
        (r.query_id, r.neighbor_id)
        for r in signbit_lsh_topk(vecs, queries, k=500, n_probes=1).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in signbit_lsh_topk(vecs, queries, k=500, n_probes=9).collect()
    }
    assert multi >= single  # every single-probe candidate survives
    assert len(multi) > len(single)  # neighbor buckets contribute
    recall_single = len(single & truth) / len(truth)
    recall_multi = len(multi & truth) / len(truth)
    assert recall_multi >= recall_single
    assert recall_multi > 0.0  # the knob reaches real neighbors
    # (absolute recall is corpus-dependent: these embeddings are near-
    # random, max same-label cosine ≈ 0.47, so sign bits of true
    # neighbors legitimately differ in > 1 position)


_edge_ids = st.integers(min_value=0, max_value=30)
_edge_lists = st.lists(
    st.tuples(_edge_ids, _edge_ids), min_size=0, max_size=40
)


@given(edges=_edge_lists)
@_SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    """Property: the distributed star-contraction labeling equals a
    driver-side union-find on ANY random multigraph (self-loops,
    duplicates, reversed edges included). The driver-finish bound is
    patched to 0: every drawn graph is far under it, and the property
    is about the distributed rounds."""
    from unittest import mock

    from portfolio1_etl_spark.operators import dedup

    df = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )
    with mock.patch.object(dedup, "_DRIVER_FINISH_EDGES", 0):
        got = {
            (r["node"], r["component"])
            for r in dedup.connected_components(df).collect()
        }
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {
        (n, find(n))
        for n in parent
        if any(a != b and n in (a, b) for a, b in edges)
    }
    assert got == want


_words = st.lists(
    st.sampled_from(["a", "bb", "ccc", "dd dd", "e5", "", "zzz"]),
    min_size=1,
    max_size=40,
)


@given(words=_words)
@_SETTINGS
def test_cms_never_undercounts_property(spark, words):
    """Property: count-min estimates dominate exact counts for every
    item of ANY stream (the one-sided CMS error guarantee)."""
    from portfolio1_etl_spark.operators.sketches import cms_build, cms_estimate

    s = spark.createDataFrame([(w,) for w in words], "w string")
    sk = cms_build(s, "w")
    est = {r["w"]: r["est"] for r in cms_estimate(sk, s, "w").collect()}
    exact: dict[str, int] = {}
    for w in words:
        exact[w] = exact.get(w, 0) + 1
    assert set(est) == set(exact)
    assert all(est[w] >= n for w, n in exact.items())


def test_weighted_sample_biases_toward_heavy_docs(spark, sf_dir):
    """Efraimidis-Spirakis keys: inclusion probability rises with
    weight, so the 200 sampled docs must average MORE chars than the
    corpus — and the draw must be deterministic across runs."""
    from portfolio1_etl_spark.plans import REGISTRY

    fn = REGISTRY["q106_weighted_sample"].fn
    got = fn(spark, sf_dir).collect()
    assert len(got) == 200
    from portfolio1_etl_spark import catalog

    corpus_avg = (
        catalog.load(spark, sf_dir, "documents").agg(F.avg("n_chars")).first()[0]
    )
    sample_avg = sum(r["n_chars"] for r in got) / len(got)
    assert sample_avg > corpus_avg
    again = fn(spark, sf_dir).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in again]
