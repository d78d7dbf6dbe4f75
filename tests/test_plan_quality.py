"""Plan-quality regression tests: the physical plans the engine was
designed around (ARCHITECTURE.md §1-2) are asserted, not just
observed once — pushdown reaching the scan, dims broadcasting, facts
not shuffling for dimension lookups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from portfolio1_etl_spark.plans import REGISTRY


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q02_filter_range"].fn(spark, sf_dir))
    assert "PushedFilters:" in plan
    # the timestamp window + numeric predicates must reach the scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_column_pruning(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q03_project_derive"].fn(spark, sf_dir))
    # only the 4 needed columns are read, not all 11
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema and "l_returnflag" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q29_star_join"].fn(spark, sf_dir))
    # formatted mode lists each node in tree + detail sections (2×)
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan  # the fact side never shuffles for dims


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q14_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_is_narrow_map_plus_topk(spark, sf_dir):
    """The E-S weighted sampler must plan as a map + TakeOrdered —
    a global Sort here would shuffle the whole corpus to rank keys
    only k of which survive."""
    plan = _formatted_plan(REGISTRY["q106_weighted_sample"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_aggregate_is_two_phase(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q01_pricing_summary"].fn(spark, sf_dir))
    # partial (map-side) + final HashAggregate around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_covers_scan_and_agg(spark, sf_dir):
    # AQE wraps the plan and reports 0 codegen subtrees pre-execution;
    # disable it for this one plan inspection.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "codegen"
            )
        )
        assert "WholeStageCodegen subtrees" in plan
        assert "Found 0 WholeStageCodegen" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


#: BroadcastNestedLoopJoin is sanctioned ONLY where the broadcast side
#: is tiny by construction and the scan side streams linearly:
#: q32 crosses two 1-row aggregates; q80 broadcasts the 8-vector query
#: set over the corpus (the documented exact brute-force baseline);
#: q83 broadcasts the centroid codebook for the IVF argmin assignment.
#: q54 crosses four single-row funnel-stage counts.
_SANCTIONED_BNLJ = {
    "q32_cross_join",
    # RFM: the tiebreak sub-bucket boundaries ride in as a broadcast
    # ONE-ROW percentile_approx aggregate (the q94 1-row pattern).
    "q221_rfm_segmentation",
    # chain scoreboards: per-version 1-row aggregate × 1-row feed
    # counts (the q168 report shape).
    "q239_merge_into_chain",
    "q240_widened_chain",
    # negative sampling: positives × the broadcast ONE-ROW max-partkey
    # aggregate (the q94 1-row pattern).
    "q255_negative_sampling",
    "q80_cosine_topk",
    "q83_ivf_ann",
    # BM25: cross with the broadcast ONE-ROW corpus-stats aggregate
    # (n_docs, avgdl) — the q94 tf-idf pattern.
    "q251_bm25_retrieval",
    # retention curve: ladder × the broadcast ONE-ROW corpus totals.
    "q256_quality_retention_curve",
    # WOE: 5 category cells × the broadcast ONE-ROW class totals.
    "q261_woe_encoding",
    # ratio-to-parent: 25 nation rows × the broadcast ONE-ROW total.
    "q262_ratio_to_parent",
    # rank fusion + hard negatives: corpus × broadcast 8-row anchor
    # set with a non-equi self-exclusion — the q80 brute-force shape.
    "q252_rrf_fusion",
    "q253_hard_negative_mining",
    # k-means assignment: corpus × broadcast k-row codebook — the
    # nested loop's inner side is k rows by construction.
    "q93_kmeans",
    # tf-idf: cross of the scored terms with the broadcast ONE-ROW
    # corpus-size aggregate.
    "q94_tfidf",
    # quantized ANN stage 1: corpus × broadcast query set (queries ≪
    # corpus by construction), like the brute-force baseline.
    "q95_quantized_ann",
    # semantic decontamination: corpus × broadcast (small) eval set —
    # the q80 pattern.
    "q125_embedding_decontaminate",
    # bloom pruning: fact stream × the broadcast ONE-ROW 8 KB bitmap
    # (q104 = the production prune, q113 = its false-positive audit).
    "q104_bloom_prune",
    "q113_bloom_fp_audit",
    # recall scoreboard: composes the sanctioned ANN queries above and
    # adds only a cross with the broadcast ONE-ROW ground-truth count.
    "q114_ann_recall",
    # unigram LM / KL drift: cross with the broadcast ONE-ROW corpus
    # token total (the q94 tf-idf pattern).
    "q118_unigram_logprob",
    "q119_source_kl",
    # curation composite: inherits q118's 1-row-total cross for its
    # LM-gate stage.
    "q120_curation_pipeline",
    # BPE training: each round broadcasts the 1-row elected merge and
    # the 1-row census into the word table (the k-means codebook
    # pattern). q124 applies the trained table through the same plan.
    "q123_bpe_train",
    "q124_bpe_train_apply",
    # logistic regression: per-round 1-row weight broadcast into the
    # feature table (same pattern). q258 scores the corpus under the
    # same broadcast final-weights row.
    "q126_logreg_quality",
    "q258_calibration_bins",
    # data card: one aggregate over the sanctioned q120 composite.
    "q127_data_card",
    # curriculum schedule: composes q118 (sanctioned 1-row total).
    "q128_curriculum_schedule",
    # dedup recall scoreboard: cross with the broadcast ONE-ROW
    # ground-truth count (the q114 pattern).
    "q129_dedup_recall",
    # persisted IVF index: build side crosses the corpus with the
    # broadcast 1-row folded codebook (the q93 pattern); probe side
    # crosses the 8 scoreboard queries with the broadcast k-row
    # codebook (the q83 pattern).
    "q135_ivf_index_probe",
    # composed IVF-PQ + incremental ingest: queries × broadcast k-row
    # centroid table for probe ranking — the q135 probe shape; the
    # corpus-sized scans themselves join by equi-key and DPP-prune.
    "q265_ivfpq_index_probe",
    "q270_ivf_incremental_ingest",
    # MaxSim / matryoshka / MMR: corpus × broadcast 8-row query set —
    # the q80 brute-force shape (queries ≪ corpus by construction).
    "q266_maxsim_retrieval",
    "q268_matryoshka_recall",
    "q269_mmr_diversified_topk",
    # temperature mixture: the ~20-row per-source table crosses the
    # broadcast ONE-ROW corpus-total aggregate to derive budgets (the
    # q94/q118 1-row-total pattern); the corpus side stays equi-joined.
    "q140_mixture_temperature",
    # bigram LM: cross with the broadcast ONE-ROW vocabulary-size
    # aggregate for the smoothing denominator (the q118 pattern).
    "q141_bigram_logprob",
    # Kneser-Ney: cross with the broadcast ONE-ROW bigram-type count
    # for the continuation-probability denominator (same pattern).
    "q148_kneser_ney_logprob",
    # KMV sketches: the pairwise stage inequality-joins the per-TYPE
    # theta table (≤ |event-type domain| rows, ~5) with itself, and
    # the rollup crosses four 1-row aggregates (the q32 shape); the
    # corpus-scale stages (hashing, distinct, rank) are all equi.
    "q283_kmv_intersection",
    "q287_kmv_mergeable_rollup",
    # recommender eval: the fact side crosses the broadcast ONE-ROW
    # date cutoff, and the final report crosses three 1-row counts.
    "q284_recommender_eval",
    # LOO encoding: fact scan × the broadcast ONE-ROW global prior
    # (the q118 1-row-total pattern); the segment stats broadcast-hash.
    "q273_loo_target_encoding",
    # conformal: day-grain residuals × the broadcast ONE-ROW count,
    # then × the broadcast ONE-ROW q-hat pick (the q32 shape).
    "q275_conformal_interval",
    # Poisson bootstrap: fact scan × the broadcast 64-ROW replicate
    # index — a bounded 64× map-side expansion by construction (the
    # q179 cell-offset pattern); replicate means collapse map-side.
    "q277_poisson_bootstrap_ci",
    # join advisor: three 1×1 crosses of single-row profile aggregates
    # (the q32 shape) — the entire frame is 3 rows by construction.
    "q153_join_strategy_advisor",
    # PMI: model crossed with the broadcast ONE-ROW bigram and unigram
    # totals (the q94/q118 1-row-total pattern).
    "q159_bigram_pmi",
    # geo grid knn: the supplier side crosses the broadcast NINE-ROW
    # (dx, dy) cell-offset table to replicate into neighbor cells — a
    # bounded 9x expansion of the dimension side by construction.
    "q179_geo_grid_knn",
    # market share: per-nation revenue crossed with the broadcast
    # ONE-ROW global total (the q118 1-row-total pattern).
    "q187_national_market_share",
    # top-revenue supplier: the supplier-grain view crossed with the
    # broadcast ONE-ROW max-revenue aggregate (same pattern).
    "q189_top_revenue_supplier",
    # untapped customers: cross with the broadcast ONE-ROW mean
    # balance (the uncorrelated scalar subquery decorrelated).
    "q167_untapped_customers",
    # time travel: per-version 1-row aggregate crossed with its 1-row
    # feed-count aggregate (three 1x1 crosses, the q32 shape).
    "q168_versioned_time_travel",
    # chi-square: the few contingency cells cross the broadcast
    # ONE-ROW grand total for expected counts (the q94/q118 pattern).
    "q173_chi_square_independence",
    # Benford: the 9 digit rows cross the broadcast ONE-ROW total.
    "q174_benford_audit",
    # association rules: the pair table crosses the broadcast ONE-ROW
    # order count for the lift denominator (the q94/q118 pattern).
    "q220_association_rules",
    # ACF: the day-grain series crosses the broadcast SEVEN-ROW lag
    # dimension (the q179 bounded-offset pattern) before the shifted
    # self-join.
    "q230_revenue_acf",
    # histogram quantile sketch: the THREE-ROW quantile spec joins the
    # ~25-row cumulative histogram on a range predicate — both sides
    # bounded by construction (the q179 pattern).
    "q227_histogram_quantiles",
    # Holt backtest: the ONE-ROW max-index aggregate crosses the
    # day-grain series, then the EIGHT-ROW origin spec range-joins it
    # (both sides bounded; the q179/q227 pattern).
    "q236_holt_backtest",
}


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """name -> (formatted, simple) explain text of every registered
    query, each query built and physically planned once for both
    registry-wide guards below."""
    simple = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plans = {}
    for name, q in REGISTRY.items():
        df = q.fn(spark, sf_dir)
        plans[name] = (
            _formatted_plan(df),
            df._jdf.queryExecution().explainString(simple),
        )
    return plans


def test_no_cartesian_product_in_any_registered_query(registry_plans):
    """No registered query may plan a CartesianProduct (ever) or an
    unsanctioned nested-loop join — at 100 TB either one is a
    run-forever plan."""
    offenders = {}
    for name, (plan, _) in registry_plans.items():
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _SANCTIONED_BNLJ:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, f"scale-killer join nodes: {offenders}"


def test_lsh_verify_is_pair_scoped(spark, sf_dir):
    """verify_candidates (r11): shrink the shingle table to candidate
    docs (broadcast semi-join), then route the common-shingle count
    THROUGH the candidate-pair list (cand ⋈ shingles(doc_a) ⋈
    shingles on (doc_b, h)) — pair-bounded cost. Re-enumerating
    all-pairs-by-shingle among the shrunk docs is the banned shape
    (quadratic in shared shingles; the sf1 checkpoint measured q73
    at 15.2× for 10× data from it — SCALING.md finding #3). The
    pair-scoped join is pinned structurally: the shingle-shingle
    equi-join on (doc_b, h) carries NO doc_a<doc_b inequality (the
    all-pairs enumeration always does), and the scaling artifact
    carries the measured ratio."""
    import re

    plan = _formatted_plan(REGISTRY["q73_minhash_lsh"].fn(spark, sf_dir))
    # the candidate-doc shrink is a broadcast semi-join
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    # the common-shingle count routes through the PAIR list: a two-key
    # (doc_b, h) equi-join must exist — the r11 pair-scoped shape
    assert re.search(r"keys \[2\]: \[doc_b#\d+L?, h#\d+", plan), (
        "pair-scoped (doc_b, h) equi-join missing from q73's verify plan"
    )
    # the banned all-pairs re-enumeration signatures must NOT appear:
    # (a) a doc_a<doc_b inequality join condition in the verify plan
    # (candidate generation is materialized out by the checkpoint, so
    # any inequality here is the quadratic re-enumeration), (b) a
    # shingle-shingle join keyed on h ALONE
    for line in plan.splitlines():
        if line.startswith("Join condition:"):
            assert not re.search(r"doc_a#\d+L? [<>]", line), (
                f"all-pairs inequality join leaked into the verify plan: {line}"
            )
    assert not re.search(r"keys \[1\]: \[h#\d+", plan), (
        "shingle-shingle join keyed on h alone — the quadratic shape"
    )


def test_ivf_probe_is_broadcast(spark, sf_dir):
    """IVF ANN: the centroid codebook is tiny and must broadcast to the
    corpus side — never shuffle the embeddings for the probe join."""
    plan = _formatted_plan(REGISTRY["q83_ivf_ann"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_dfcap_filter_is_broadcast_anti_join(spark, sf_dir):
    """The heavy-hitter shingle set is small by construction; dropping
    capped shingles must be a broadcast anti-join, not a shuffle."""
    plan = _formatted_plan(REGISTRY["q77_jaccard_dfcap"].fn(spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_q5_shape_broadcasts_all_dims(spark, sf_dir):
    """The 6-table TPC-H Q5 shape: exactly one sort-merge (the
    fact×fact lineitem⋈orders) and broadcast joins for all four
    dimensions — the fact side shuffles once, never for dims."""
    plan = _formatted_plan(REGISTRY["q84_local_supplier_volume"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 2  # tree + details sections


def test_multimodal_paths_have_no_skewed_exchange(spark, sf_dir):
    """The decode/featurize passes must never shuffle on a LOW-
    CARDINALITY key: an Exchange keyed on ``modality`` — 2-3 distinct
    values — would funnel a 100 TB corpus through 2-3 tasks. The ONE
    allowed exchange is the r13 round-robin spread of the narrow
    synthesizer input (bare ids / text rows) to the configured
    parallelism, BEFORE any payload exists — the heavy synthesized
    bytes themselves still never cross an exchange, and round-robin
    cannot skew."""
    for name in (
        "q90_multimodal_featurize",
        "q91_multimodal_decode",
        "q102_png_decode",
    ):
        plan = _formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") <= 1, f"{name} plans >1 shuffle:\n{tree}"
        # with at most ONE Exchange in the tree, banning hash
        # partitioning anywhere in the plan pins that single exchange
        # to the keyless round-robin form — checking only for the
        # presence of RoundRobinPartitioning would let a hash exchange
        # slide through alongside it (r13 ADVICE)
        assert "hashpartitioning(" not in plan, (
            f"{name}: keyed exchange in a decode path:\n{plan}"
        )
        if "Exchange" in tree:
            assert "RoundRobinPartitioning" in plan, (
                f"{name}: pre-map exchange is not round-robin:\n{plan}"
            )


def test_kmeans_assignment_has_no_window(spark, sf_dir):
    """The argmin over the broadcast folded codebook must stay a
    narrow map — a Window here means the corpus hash-partitions n·k
    rows every training round (the round-3 scale-killer)."""
    plan = _formatted_plan(REGISTRY["q93_kmeans"].fn(spark, sf_dir))
    assert "Window" not in plan, "q93 ranks assignments with a window again"


def test_sampled_training_filter_stays_in_scan_stage(spark, sf_dir):
    """q103's 25% training sample must be a plain Filter (map-only,
    md5-bucket predicate) — never a sample-then-shuffle."""
    import re

    plan = _formatted_plan(REGISTRY["q103_pq_sampled_train"].fn(spark, sf_dir))
    assert "Sample" not in plan  # no rand()-based Sample node anywhere
    # the PQ top-k windows (shortlist + re-rank) are the only Window
    # nodes — training itself must not add one. (WindowGroupLimit is
    # the rank-pushdown optimization, not a window compute node.)
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\bWindow \(\d+\)", tree)) <= 2


def test_partitioned_sink_enables_partition_pruning(spark, sf_dir, tmp_path):
    """A filter on a partition column of a write_partitioned dataset
    must prune at PLAN time (PartitionFilters on the scan) — at 100 TB
    the difference between listing 1/5 of the directories and scanning
    everything. Also asserts the pruned read returns exactly the
    partition's rows."""
    from portfolio1_etl_spark import catalog
    from portfolio1_etl_spark.operators.sinks import write_partitioned

    orders = catalog.load(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_priority")
    write_partitioned(orders, path, ["o_orderpriority"])
    scan = spark.read.parquet(path).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plan = _formatted_plan(scan)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "o_orderpriority" in pf_lines[0]
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert scan.count() == want


def test_scd2_single_shuffle(spark, sf_dir):
    """All three SCD2 window passes (lag change-detect, lead close,
    row_number version) must share ONE exchange on the entity key."""
    plan = _formatted_plan(REGISTRY["q46_scd2_intervals"].fn(spark, sf_dir))
    # formatted mode prints the node tree + a details section; each
    # Exchange appears once per section.
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1


def test_bloom_prune_plan_is_production_lean(spark, sf_dir):
    """q104 after the r6 split: the bitmap fold over the ~4% build
    side plus the final census are the ONLY shuffles — the probe
    itself is a broadcast + codegen filter, so the fact side never
    exchanges. (The false-positive audit with its extra joins lives
    in q113.)"""
    plan = _formatted_plan(REGISTRY["q104_bloom_prune"].fn(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    n_ex = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert n_ex <= 2, f"q104 plans {n_ex} non-broadcast exchanges:\n{tree}"


def test_persisted_ivf_probe_scan_is_dpp_pruned(spark, sf_dir):
    """q135 (the persisted-index scoreboard query): the probe join must
    reach the index scan as DYNAMIC PARTITION PRUNING — unprobed cell
    directories are never read, the property that makes the parquet
    layout an index at 100 TB. Same guard as tests/test_ann_index.py,
    but against the REGISTERED query the correctness gate runs."""
    plan = _formatted_plan(REGISTRY["q135_ivf_index_probe"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan


def test_no_unhonorable_join_hints_in_join_family():
    """Every broadcast hint in the relational/advanced join family
    must be plannable: Spark drops hints it cannot honor (e.g.
    broadcast on the preserved side of an outer join) with only a
    HintErrorLogger WARN — dead code that misleads readers about the
    physical plan. Physical planning runs in a subprocess so the JVM's
    stderr is capturable; tools/plan_audit.py applies the same gate to
    the WHOLE registry each round."""
    import subprocess
    import sys
    import textwrap

    child = textwrap.dedent(
        """
        from portfolio1_etl_spark import get_spark
        from portfolio1_etl_spark.plans import REGISTRY
        spark = get_spark(app_name="hint-audit", cpus=4)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
        n = 0
        for name, q in REGISTRY.items():
            mod = q.fn.__module__
            if not mod.endswith(("plans.relational", "plans.advanced")):
                continue
            df = q.fn(spark, "/root/testdata/sf0.001")
            df._jdf.queryExecution().explainString(mode)
            n += 1
        assert n >= 30, n
        print("planned", n)
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        errors="replace",
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    warns = [ln for ln in proc.stderr.splitlines() if "HintErrorLogger" in ln]
    assert not warns, "\n".join(warns)


# Partitionless windows whose input grain is DOMAIN-bounded (does not
# grow with SF), so the single partition stays tiny at any scale:
#   q181 — distinct-retail-price grain (spec-fixed price domain)
#   q227 — fixed-width histogram cells
#   q229/q230/q236 — calendar-day grain (the dataset's fixed span)
_SANCTIONED_TINY_GRAIN_WINDOW = {
    "q181_price_size_skyline",
    "q249_heaps_law",  # doc-id bit-length ladder (≤ ~40 cells ever)
    "q227_histogram_quantiles",
    "q229_cusum_changepoint",
    "q230_revenue_acf",
    "q236_holt_backtest",
    "q275_conformal_interval",  # calendar-day residual grain
    "q284_recommender_eval",  # calendar-day split-cutoff grain
    "q285_forecast_eval",  # calendar-day grain
    "q280_skew_diagnostics",  # count-of-counts grain (distinct
    # multiplicities of a key's count distribution — a few hundred
    # cells even when the key itself has 200M values)
}


def test_no_partitionless_window_over_scaling_data(registry_plans):
    """A Window whose child is Exchange SinglePartition is a
    single-reducer sort of its whole input — the r9 verdict's one
    `weak` (q170/q221/q223 dimension-grain ntile/rank). Those now run
    through operators/ranks.with_exact_rank; this guard keeps the
    pattern from creeping back. Only the sanctioned DOMAIN-bounded
    grains above may plan one."""
    offenders = {}
    for name, (_, plan) in registry_plans.items():
        lines = plan.splitlines()
        hits = 0
        for i, line in enumerate(lines):
            stripped = line.lstrip(" +-:*")
            if stripped.startswith(("Window ", "WindowGroupLimit ")):
                if "Exchange SinglePartition" in "\n".join(lines[i + 1 : i + 3]):
                    hits += 1
        if hits and name not in _SANCTIONED_TINY_GRAIN_WINDOW:
            offenders[name] = hits
    assert not offenders, f"partitionless WindowExec over scaling data: {offenders}"


def test_plans_md_rows_match_current_plans(registry_plans):
    """PLANS.md is the reviewed plan audit: each row's node counts and
    pushed-filter mark must equal what tools/plan_audit.py derives from
    today's plan, so a plan change cannot drift past review
    unnoticed. Counted from the shared registry build — no extra
    query builds."""
    import os

    from tools.plan_audit import NODES, plan_cells

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = {}
    with open(os.path.join(root, "PLANS.md")) as f:
        for line in f:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(cells) == len(NODES) + 2:
                rows[cells[0]] = cells[1:]
    stale = {
        name: {"PLANS.md": rows.get(name), "now": plan_cells(plan)}
        for name, (plan, _) in registry_plans.items()
        if rows.get(name) != plan_cells(plan)
    }
    assert not stale, (
        f"PLANS.md rows differ from the current plans: {stale}; "
        "regenerate with `python tools/plan_audit.py`"
    )


def test_doubling_loops_truncate_lineage(spark, sf_dir):
    """The path-doubling closures (q243 ancestor closure, q259
    survivorship linkage) materialize their round state via
    operators/checkpointing.materialize — without that the plan tree
    ~doubles per round (the r10 verdict's two `weak` items: 108/166
    shuffle nodes; ReuseExchange saved execution, but a lost executor
    at round 5 replayed the whole unrolled lineage and compile time
    grew with depth). With per-round truncation the FINAL plan is the
    last aggregate over a checkpoint scan: a handful of shuffles,
    independent of round count."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    for name in ("q243_transitive_closure", "q259_golden_record"):
        plan = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution()
            .explainString(mode)
        )
        n_exchange = plan.count("Exchange")
        assert n_exchange <= 12, (
            f"{name}: {n_exchange} Exchange nodes in the final plan — "
            "round state is not being materialized per round"
        )


def test_ivfpq_code_scan_is_dpp_pruned(spark, sf_dir):
    """q265 (composed IVF-PQ): the probe join must DPP-prune BOTH
    persisted scans — the byte-code scan the ADC reads and the
    full-vector scan the re-rank reads — or the 'index' degenerates
    to a full read of codes or floats at 100 TB."""
    plan = _formatted_plan(REGISTRY["q265_ivfpq_index_probe"].fn(spark, sf_dir))
    assert plan.count("dynamicpruning") >= 2
