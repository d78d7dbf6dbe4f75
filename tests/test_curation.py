"""Corpus-governance layer (q115-q119): the histogram-pruned mixture
sampler's equivalence property, redaction census sanity, and the plan
shapes that make the layer scale."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.mixture import (
    budget_prefix_select,
    naive_budget_prefix,
)
from portfolio1_etl_spark.plans import REGISTRY


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _skewed(spark):
    """3 groups: g0 huge (the skew case), g1 tiny, g2 empty-budget;
    weights vary so budget boundaries land mid-bucket for small
    bucket_div values."""
    rows = [(f"g0", i, (i * 2654435761) % 997, 1 + i % 7) for i in range(400)]
    rows += [("g1", 1000 + i, i * 13, 5) for i in range(5)]
    rows += [("g2", 2000 + i, i * 31, 10) for i in range(20)]
    return spark.createDataFrame(
        rows, "source string, doc_id long, k long, n_tokens long"
    )


@pytest.mark.parametrize("bucket_div", [1, 7, 64, 10**9])
def test_budget_prefix_matches_naive_across_bucket_sizes(spark, bucket_div):
    """bucket_div=1 → every key its own bucket (pure histogram path);
    huge → one bucket per group (pure window path); mid values mix
    both. All must equal the naive full-window specification."""
    d = _skewed(spark)
    budgets = spark.createDataFrame(
        [("g0", 300), ("g1", 10_000), ("g2", 0)], "source string, budget long"
    )
    got = budget_prefix_select(d, budgets, bucket_div=bucket_div)
    want = naive_budget_prefix(d, budgets)
    assert _rows(got) == _rows(want)
    # sanity on the crafted shape: g0 is cut, g1 fully kept, g2 empty
    per_group = dict(
        got.groupBy("source").count().rdd.map(tuple).collect()
    )
    assert per_group.get("g1") == 5 and "g2" not in per_group
    assert 0 < per_group["g0"] < 400


def test_budget_prefix_property_random(spark):
    """Randomized property sweep: arbitrary weights, budgets, group
    shapes, and bucket granularities — the histogram prune must equal
    the naive window on every draw."""
    import random

    rng = random.Random(20260814)
    for trial in range(4):
        rows = []
        for g in range(rng.randint(1, 4)):
            for i in range(rng.randint(0, 40)):
                rows.append(
                    (f"g{g}", g * 1000 + i, rng.randint(0, 500), rng.randint(1, 20))
                )
        if not rows:
            continue
        d = spark.createDataFrame(
            rows, "source string, doc_id long, k long, n_tokens long"
        )
        budgets = spark.createDataFrame(
            [(f"g{g}", rng.choice([0, 5, 37, 200, 10**6])) for g in range(5)],
            "source string, budget long",
        )
        bucket_div = rng.choice([1, 3, 16, 97, 10**9])
        got = budget_prefix_select(d, budgets, bucket_div=bucket_div)
        want = naive_budget_prefix(d, budgets)
        assert _rows(got) == _rows(want), (trial, bucket_div)


def test_budget_crossing_row_is_kept(spark):
    """Greedy prefix semantics: the row that CROSSES the budget stays
    (cum_before < budget), so a group's selected weight may exceed the
    budget by at most one row."""
    d = spark.createDataFrame(
        [("g", i, i, 10) for i in range(5)],
        "source string, doc_id long, k long, n_tokens long",
    )
    budgets = spark.createDataFrame([("g", 25)], "source string, budget long")
    got = budget_prefix_select(d, budgets, bucket_div=2)
    assert sorted(r.doc_id for r in got.collect()) == [0, 1, 2]  # 10+10 < 25 → keep 3rd


def test_q115_redaction_census_has_real_hits(spark, sf_dir):
    out = REGISTRY["q115_pii_redact"].fn(spark, sf_dir)
    agg = out.agg(
        F.sum("n_ent").alias("ent"),
        F.sum("n_email").alias("em"),
        F.sum("n_ip").alias("ip"),
        F.sum("n_number").alias("num"),
    ).first()
    # deny-list terms occur in the synthetic corpus → real redactions;
    # PII shapes do not → the same query pins zero false positives.
    assert agg.ent > 0
    assert (agg.em, agg.ip, agg.num) == (0, 0, 0)


@pytest.mark.parametrize("name", ["q117_sequence_pack", "q121_sequence_pack_bpe"])
def test_pack_intervals_tile_each_shard(spark, sf_dir, name):
    """Within a shard the doc intervals [start, start+n) must tile
    [0, total) exactly — no gaps, no overlaps — or the packer would
    drop or duplicate training tokens. Holds for both the whitespace
    and the BPE-budgeted packer."""
    out = REGISTRY[name].fn(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.start_tok)
        pos = 0
        for r in rows:
            assert r.start_tok == pos
            assert r.first_pack == pos // 512
            assert r.last_pack == (pos + r.n_tokens - 1) // 512
            pos += r.n_tokens


def test_q122_packs_are_full_and_consistent_with_q117(spark, sf_dir):
    """Materialized packs must be exactly 512 tokens except the final
    pack of each shard, cover every pack id contiguously from 0, and
    their total token mass per shard must equal q117's interval sum —
    the materializer and the layout can never disagree."""
    packs = REGISTRY["q122_pack_materialize"].fn(spark, sf_dir).collect()
    layout = REGISTRY["q117_sequence_pack"].fn(spark, sf_dir).collect()
    shard_tokens: dict[int, int] = {}
    for r in layout:
        shard_tokens[r.shard] = shard_tokens.get(r.shard, 0) + r.n_tokens
    by_shard: dict[int, list] = {}
    for p in packs:
        by_shard.setdefault(p.shard, []).append(p)
    assert set(by_shard) == set(shard_tokens)
    for shard, prows in by_shard.items():
        prows.sort(key=lambda p: p.pack)
        assert [p.pack for p in prows] == list(range(len(prows)))
        assert all(p.n_tokens == 512 for p in prows[:-1])
        assert 0 < prows[-1].n_tokens <= 512
        assert sum(p.n_tokens for p in prows) == shard_tokens[shard]


def test_q118_logprob_bounds(spark, sf_dir):
    """Unigram log-probs are negative; ppl ≥ 1; and a doc of only
    corpus-frequent words scores above the corpus-rare tail."""
    out = REGISTRY["q118_unigram_logprob"].fn(spark, sf_dir)
    bad = out.filter((F.col("avg_logprob") >= 0) | (F.col("ppl") < 1.0)).count()
    assert bad == 0


def test_q119_kl_nonnegative_and_complete(spark, sf_dir):
    out = REGISTRY["q119_source_kl"].fn(spark, sf_dir).collect()
    assert {r.source for r in out} == {f"src{i}" for i in range(20)}
    assert all(r.kl_nats >= 0 for r in out)  # Gibbs' inequality


def test_q120_stage_wiring(spark, sf_dir):
    """The composite's decision log must be internally consistent:
    selection implies the LM gate passed; pack coordinates exist iff
    selected; per-shard pack intervals tile [0, shard total) exactly
    (no token invented or dropped between mixture and packing)."""
    rows = REGISTRY["q120_curation_pipeline"].fn(spark, sf_dir).collect()
    assert any(r.selected for r in rows) and any(not r.keep_lm for r in rows)
    by_shard: dict[int, list] = {}
    for r in rows:
        if r.selected:
            assert r.keep_lm
            assert r.shard is not None and r.start_tok is not None
            assert r.first_pack == r.start_tok // 512
            by_shard.setdefault(r.shard, []).append(r)
        else:
            assert r.shard is None and r.start_tok is None and r.first_pack is None
    for srows in by_shard.values():
        srows.sort(key=lambda r: r.start_tok)
        pos = 0
        for r in srows:
            assert r.start_tok == pos
            pos += r.n_tokens


def test_q120_budgets_respected(spark, sf_dir):
    """Selected token mass per source never exceeds budget + one doc
    (the greedy crossing row), and unselected-but-gated docs exist
    only in sources whose budget was exhausted."""
    from portfolio1_etl_spark.plans.curation_ops import _BUDGETS

    rows = REGISTRY["q120_curation_pipeline"].fn(spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        if r.keep_lm:
            by_src.setdefault(r.source, []).append(r)
    for src, srows in by_src.items():
        sel_tokens = sum(r.n_tokens for r in srows if r.selected)
        max_doc = max(r.n_tokens for r in srows)
        assert sel_tokens < _BUDGETS[src] + max_doc
        if any(not r.selected for r in srows):
            assert sel_tokens >= _BUDGETS[src]


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_redaction_plan_is_narrow_map(spark, sf_dir):
    """q115 streams the corpus through codegen: no Exchange at all."""
    plan = _formatted_plan(REGISTRY["q115_pii_redact"].fn(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


@pytest.mark.parametrize("name", ["q117_sequence_pack", "q121_sequence_pack_bpe"])
def test_sequence_pack_plan_has_single_shard_exchange(spark, sf_dir, name):
    """Packers: ONE keyed shuffle (the shard window) and nothing keyed
    on a low-cardinality column other than the uniform hash shard.  The
    BPE packer additionally gets at most ONE keyless round-robin spread
    of the narrow (doc_id, text) rows in front of the tokenizer loop —
    round-robin cannot skew and carries no synthesized payload."""
    plan = _formatted_plan(REGISTRY[name].fn(spark, sf_dir))
    # Both counts come from the same section — the per-operator detail
    # blocks ("(N) Exchange" plus its Arguments line), main plan and
    # subqueries alike — so a round-robin exchange can only offset
    # itself, never a keyed one.
    exchanges = [
        block
        for block in plan.split("\n\n")
        if re.match(r"\(\d+\) \w*Exchange", block.lstrip())
    ]
    n_roundrobin = sum("RoundRobinPartitioning" in b for b in exchanges)
    assert len(exchanges) - n_roundrobin == 1  # exactly one keyed shard shuffle
    assert n_roundrobin <= 1
    # the keyed exchange must be the uniform hash shard, nothing else
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(shard" in plan


def test_pack_boundaries_with_giant_doc(spark, tmp_path):
    """A document longer than the 512-token budget must span multiple
    packs with contiguous intervals, and the materialized pack hashes
    must tile its content without loss — exercised by synthesizing a
    documents table with one 1300-token doc among normal ones."""
    rows = []
    for i in range(12):
        n = 1300 if i == 0 else 40 + i
        text = " ".join(f"t{i}x{j}" for j in range(n))
        rows.append((i, text, "en", f"src{i % 3}", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "giant_sf")
    import os

    os.makedirs(sf)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    layout = {r.doc_id: r for r in REGISTRY["q117_sequence_pack"].fn(spark, sf).collect()}
    g = layout[0]
    assert g.last_pack - g.first_pack >= 2  # 1300 tokens spans >= 3 packs
    packs = REGISTRY["q122_pack_materialize"].fn(spark, sf).collect()
    by_shard: dict[int, list] = {}
    for p in packs:
        by_shard.setdefault(p.shard, []).append(p)
    for srows in by_shard.values():
        srows.sort(key=lambda p: p.pack)
        assert [p.pack for p in srows] == list(range(len(srows)))
        assert all(p.n_tokens == 512 for p in srows[:-1])
    # total materialized tokens == total layout tokens (nothing lost
    # at the boundaries the giant doc crosses)
    assert sum(p.n_tokens for p in packs) == sum(
        r.n_tokens for r in layout.values()
    )


def test_q126_training_learns(spark, sf_dir):
    """The optimizer must actually optimize: accuracy under the final
    weights is at least the round-1 accuracy, weights move off zero,
    and every round reports all 500 docs scored."""
    rows = sorted(
        (r.round, r.w0, r.w1, r.w2, r.n_correct)
        for r in REGISTRY["q126_logreg_quality"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 10
    assert rows[-1][4] >= rows[0][4]
    assert any(abs(w) > 1e-6 for w in rows[-1][1:4])


def test_q128_schedule_consistent_with_packs(spark, sf_dir):
    """The curriculum schedule's per-pack token totals must equal the
    materializer's (q122) — interval arithmetic and token explode are
    two derivations of the same layout — and ranks must be a
    permutation of 1..n_packs per shard."""
    sched = REGISTRY["q128_curriculum_schedule"].fn(spark, sf_dir).collect()
    packs = {
        (p.shard, p.pack): p.n_tokens
        for p in REGISTRY["q122_pack_materialize"].fn(spark, sf_dir).collect()
    }
    assert {(s.shard, s.pack): s.n_tokens for s in sched} == packs
    by_shard: dict[int, list] = {}
    for s in sched:
        by_shard.setdefault(s.shard, []).append(s.curriculum_rank)
    for ranks in by_shard.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
