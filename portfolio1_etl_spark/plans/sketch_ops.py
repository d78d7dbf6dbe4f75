"""[ext] Frequency-sketch queries over ``documents``: count-min
heavy hitters via the generic sketch library
(``portfolio1_etl_spark.operators.sketches``).

Determinism: the sketch's hash family derives from the same md5-based
H48 as the dedup layer, so the DuckDB oracle rebuilds the IDENTICAL
sketch from the identical token stream — estimates match exactly,
turning a normally-probabilistic structure into a hash-checkable one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.operators.sketches import (
    BLOOM_BITS,
    BLOOM_MOD,
    BLOOM_PARAMS,
    CMS_MOD,
    CMS_PARAMS,
    CMS_WIDTH,
    bloom_build,
    cms_build_weighted,
    cms_estimate,
)
from portfolio1_etl_spark.plans.registry import query

_H48_SQL = "('0x' || substr(md5({c}), 1, 12))::BIGINT"

_TOPK = 20


def _cms_sql() -> str:
    cell_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, (({a} * h + {b}) % {CMS_MOD}) % {CMS_WIDTH} AS bucket FROM hashed"
        for j, a, b in CMS_PARAMS
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT w, {j} AS j, (({a} * h + {b}) % {CMS_MOD}) % {CMS_WIDTH} AS bucket FROM dw"
        for j, a, b in CMS_PARAMS
    )
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hashed AS (SELECT {_H48_SQL.format(c='w')} AS h FROM toks),
    cells AS ({cell_rows}),
    sketch AS (SELECT j, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    exact AS (SELECT w, count(*) AS exact_count FROM toks GROUP BY w),
    dw AS (SELECT w, {_H48_SQL.format(c='w')} AS h FROM exact),
    probes AS ({probe_rows}),
    est AS (
      SELECT p.w, min(s.cnt) AS est_count
      FROM probes p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
      GROUP BY p.w
    )
    SELECT e.w AS token,
           est.est_count,
           e.exact_count,
           est.est_count - e.exact_count AS overestimate
    FROM exact e JOIN est ON e.w = est.w
    ORDER BY est.est_count DESC, token
    LIMIT {_TOPK}
    """


@query(
    "q92_cms_heavy_hitters",
    sql=_cms_sql(),
    operators=("X-sketch-cms", "A1", "O2"),
)
def q92_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters over the corpus token stream:
    ``cms_build`` folds the stream into a 4×512 sketch (one shuffle,
    map-side partial agg caps it at depth·width rows per partition);
    ``cms_estimate`` broadcasts the finished sketch and probes every
    distinct token; top-20 by estimate with the exact count alongside
    (the CMS guarantee est ≥ exact is visible in the overestimate
    column). Because this query ALSO reports exact counts, it builds
    the sketch from the checkpointed counts aggregate
    (``cms_build_weighted`` — same sketch, one corpus scan); a
    sketch-only pipeline uses ``cms_build`` on the raw stream and
    never materializes the distinct-key aggregate at all."""
    d = catalog.load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w"))
    # ONE corpus scan: the exact-counts aggregate materializes once and
    # feeds the (weighted) sketch build, the probe side, and the
    # comparison column — the raw token stream is never re-exploded.
    exact = materialize(
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    )
    sketch = cms_build_weighted(exact, "w", "exact_count")
    est = cms_estimate(
        sketch, exact, "w", assume_distinct=True
    ).withColumnRenamed("est", "est_count")
    return (
        exact.join(est, "w")
        .select(
            F.col("w").alias("token"),
            F.col("est_count"),
            F.col("exact_count"),
            (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(_TOPK)
    )


# --- q104: Bloom-filter semi-join pruning ----------------------------------

_BLOOM_CUTOFF = 480000  # high-value orders: ~4% of keys


def _bloom_sql() -> str:
    _H48_NUM = "('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 12))::BIGINT"
    pos_rows = " UNION ALL ".join(
        f"SELECT (({a} * h + {b}) % {BLOOM_MOD}) % {BLOOM_BITS} AS pos FROM bh"
        for _, a, b in BLOOM_PARAMS
    )
    # a probe passes iff EVERY one of its k positions is set; "set" ⇔
    # present in the distinct build-position set — exactly the bitmap
    # test, including identical false positives.
    pass_checks = " AND ".join(
        f"(({a} * h + {b}) % {BLOOM_MOD}) % {BLOOM_BITS}"
        f" IN (SELECT pos FROM pos)"
        for _, a, b in BLOOM_PARAMS
    )
    return f"""
    WITH bk AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_totalprice > {_BLOOM_CUTOFF}
    ),
    bh AS (SELECT {_H48_NUM.format(c='key')} AS h FROM bk),
    pos AS (SELECT DISTINCT pos FROM ({pos_rows})),
    probe AS (
      SELECT l_orderkey,
             ({pass_checks}) AS pass,
             l_orderkey IN (SELECT key FROM bk) AS is_member
      FROM (SELECT l_orderkey, {_H48_NUM.format(c='l_orderkey')} AS h
            FROM lineitem)
    )
    SELECT CAST(count(*) FILTER (pass) AS BIGINT) AS n_pass,
           CAST(count(*) FILTER (is_member) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (pass AND NOT is_member) AS BIGINT)
             AS n_false_pos
    FROM probe
    """


def _bloom_prune_sql() -> str:
    _H48_NUM = "('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 12))::BIGINT"
    pass_checks = " AND ".join(
        f"(({a} * h + {b}) % {BLOOM_MOD}) % {BLOOM_BITS}"
        f" IN (SELECT pos FROM pos)"
        for _, a, b in BLOOM_PARAMS
    )
    pos_rows = " UNION ALL ".join(
        f"SELECT (({a} * h + {b}) % {BLOOM_MOD}) % {BLOOM_BITS} AS pos FROM bh"
        for _, a, b in BLOOM_PARAMS
    )
    return f"""
    WITH bk AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_totalprice > {_BLOOM_CUTOFF}
    ),
    bh AS (SELECT {_H48_NUM.format(c='key')} AS h FROM bk),
    pos AS (SELECT DISTINCT pos FROM ({pos_rows})),
    probe AS (SELECT l_orderkey, {_H48_NUM.format(c='l_orderkey')} AS h
              FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n_pass,
           CAST(sum(l_orderkey) AS BIGINT) AS key_checksum
    FROM probe WHERE {pass_checks}
    """


@query(
    "q104_bloom_prune",
    sql=_bloom_prune_sql(),
    operators=("X-sketch-bloom", "J-semi", "A1"),
)
def q104_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning in its PRODUCTION shape: build
    an 8 KB bitmap from the high-value order keys (~4% of orders),
    broadcast it, and thin the lineitem stream in a narrow codegen
    filter BEFORE any join — the standard trick for cutting a 100 TB
    fact scan down to the matching fraction without shuffling either
    side. The scoreboard row is the pruned stream's census (count +
    key checksum — the md5-derived hash family makes the bitmap, and
    therefore the exact surviving row set, bit-identical in the
    oracle). The WHOLE plan is two aggregates: the bitmap fold over
    the ~4% build side and the final census — plan-guarded at ≤2
    shuffles (tests/test_plan_quality.py). The false-positive audit
    that used to share this plan lives in q113_bloom_fp_audit, so the
    headline row measures the operator, not its instrumentation."""
    from portfolio1_etl_spark.operators.dedup import H48
    from portfolio1_etl_spark.operators.sketches import bloom_might_contain

    o = catalog.load(spark, sf_dir, "orders")
    ln = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey")
    # NO .distinct() on the build side: duplicate keys set the same
    # bits, so the bitmap is identical and the build stays a narrow
    # filter feeding the position fold (the audit query q113 needs the
    # distinct for exact membership; the prune does not).
    bk = o.filter(F.col("o_totalprice") > _BLOOM_CUTOFF).select(
        F.col("o_orderkey").alias("key")
    )
    bloom = bloom_build(bk, "key")
    # The membership test is computed in a PROJECT, not a Filter:
    # Spark's whole-stage codegen applies subexpression elimination to
    # projections but NOT to filter conditions, and the k checks
    # reference the hash 2k times — measured 2x slower as a Filter at
    # sf0.1. The census then folds the boolean conditionally; the
    # surviving row set (and the oracle's WHERE form) is identical.
    flagged = (
        ln.crossJoin(F.broadcast(bloom))
        .withColumn("__h", F.expr(H48.format(c="cast(l_orderkey as string)")))
        .select(bloom_might_contain("__h").alias("pass"), "l_orderkey")
    )
    return flagged.agg(
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("bigint").alias("n_pass"),
        F.sum(F.when(F.col("pass"), F.col("l_orderkey"))).alias("key_checksum"),
    )


@query(
    "q113_bloom_fp_audit",
    sql=_bloom_sql(),
    operators=("X-sketch-bloom", "J-semi", "A1"),
)
def q113_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement half of the Bloom-prune story (split from q104
    so the headline plan is the production plan): rows passing the
    bloom, true members (exact broadcast membership), and false
    positives (pass − member — wasted-work overhead, never wrong
    answers) in one audited pass. A semi-join can't count the misses,
    so the exact-membership flag rides along via a broadcast left
    join."""
    from portfolio1_etl_spark.operators.dedup import H48
    from portfolio1_etl_spark.operators.sketches import bloom_might_contain

    o = catalog.load(spark, sf_dir, "orders")
    ln = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey")
    bk = o.filter(F.col("o_totalprice") > _BLOOM_CUTOFF).select(
        F.col("o_orderkey").alias("key")
    ).distinct()
    bloom = bloom_build(bk, "key")
    # ONE pass over lineitem: the bitmap cross-joins in by broadcast
    # (the pruning-production shape, `bloom_probe`), and — because this
    # query AUDITS the filter — the exact-membership flag rides along
    # via a broadcast left join instead of a semi-join (a semi-join
    # can't count the misses).
    flagged = (
        ln.join(
            F.broadcast(bk.withColumn("m", F.lit(1))),
            ln.l_orderkey == F.col("key"),
            "left",
        )
        .select("l_orderkey", F.col("m").isNotNull().alias("is_member"))
        .crossJoin(F.broadcast(bloom))
        .withColumn("__h", F.expr(H48.format(c="cast(l_orderkey as string)")))
        .select("is_member", bloom_might_contain("__h").alias("pass"))
    )
    return flagged.agg(
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_members"),
        F.sum(
            F.when(F.col("pass") & ~F.col("is_member"), 1).otherwise(0)
        ).alias("n_false_pos"),
    )


# --- q195: HyperLogLog distinct estimation (r9) -----------------------------
#
# The cardinality sketch the stats layer's docstrings point at as the
# production form of exact-NDV ANALYZE (q138): per event type, a
# 256-register HLL over the seeded-md5 H48 hash, next to the exact
# count and the realized relative error — the same deterministic-
# sketch-on-the-scoreboard pattern as CMS/Bloom (q92/q113). With the
# hash fixed, both engines rebuild the IDENTICAL register file, so a
# normally-probabilistic estimator is value-hash checkable.
#
# Exactness of the float fold: every indicator term is 2^-M_j with
# M_j <= 41 and at most 256 registers, so the sum is a dyadic
# rational needing 41+8+1 <= 53 mantissa bits — EXACT in a double in
# any summation order; the alpha_256 constant and the final division
# are single identically-written float ops. No rounding is needed
# for cross-engine agreement (it is applied to the OUTPUT columns
# only for display stability).

#: HLL geometry: 2^8 registers; 40 rank bits -> rho in [1, 41].
_HLL_BUCKET_BITS = 8
_HLL_M = 1 << _HLL_BUCKET_BITS
_HLL_RANK_BITS = 48 - _HLL_BUCKET_BITS
#: alpha_m for m=256 (Flajolet et al. 2007), written identically in
#: both engines so the doubles agree bitwise.
_HLL_ALPHA_SQL = "0.7213 / (1.0 + 1.079 / 256.0)"


@query(
    "q195_hll_distinct",
    sql=f"""
    WITH h AS (
      SELECT event_type, user_id,
             {_H48_SQL.format(c="'hll-' || user_id::VARCHAR")} AS hv
      FROM events
    ),
    regs AS (
      SELECT event_type, hv >> {_HLL_RANK_BITS} AS bucket,
             max(CASE WHEN (hv & {(1 << _HLL_RANK_BITS) - 1}) = 0
                      THEN {_HLL_RANK_BITS + 1}
                      ELSE strpos(lpad(bin(hv & {(1 << _HLL_RANK_BITS) - 1}),
                                       {_HLL_RANK_BITS}, '0'), '1')
                 END) AS m
      FROM h GROUP BY 1, 2
    ),
    folded AS (
      SELECT event_type,
             sum(power(2.0, -m)) + (256 - count(*)) * 1.0 AS s
      FROM regs GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n FROM events GROUP BY 1
    )
    SELECT e.event_type,
      CAST(e.n AS BIGINT) AS exact_users,
      round(({_HLL_ALPHA_SQL}) * 65536.0 / f.s, 2) AS hll_users,
      round(abs(({_HLL_ALPHA_SQL}) * 65536.0 / f.s / e.n - 1.0) * 100.0, 2)
        AS rel_err_pct
    FROM exact e JOIN folded f USING (event_type)
    """,
    operators=("X-sketch-hll", "X-stats", "A-distinct"),
)
def q195_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimation per event type, scored
    against the exact count — the mergeable cardinality sketch a
    100 TB ANALYZE pass runs instead of exact NDV (one fixed 256-slot
    register file per group vs a distinct-shuffle of every value; the
    raw Flajolet estimator, corrections documented out). The register
    fold is the map-side-combinable shape: group to (type, bucket)
    max-rank, then one 256-row fold per type."""
    e = catalog.load(spark, sf_dir, "events")
    rank_mask = (1 << _HLL_RANK_BITS) - 1
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll-"), F.col("user_id").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    h = e.select("event_type", "user_id", hv.alias("hv"))
    rem = F.col("hv").bitwiseAND(F.lit(rank_mask))
    rho = F.when(rem == 0, F.lit(_HLL_RANK_BITS + 1)).otherwise(
        F.expr(
            f"instr(lpad(conv(hv & {rank_mask}, 10, 2), "
            f"{_HLL_RANK_BITS}, '0'), '1')"
        )
    )
    regs = (
        h.select(
            "event_type",
            F.shiftright("hv", _HLL_RANK_BITS).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    folded = regs.groupBy("event_type").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m")))
            + (F.lit(256) - F.count(F.lit(1))) * F.lit(1.0)
        ).alias("s")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")
    )
    est = alpha * F.lit(65536.0) / F.col("s")
    return exact.join(folded, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("exact_users"),
        F.round(est, 2).alias("hll_users"),
        F.round(
            F.abs(est / F.col("n").cast("double") - F.lit(1.0)) * 100.0, 2
        ).alias("rel_err_pct"),
    )


@query(
    "q212_hll_merge_rollup",
    sql=f"""
    WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS d, user_id,
             {_H48_SQL.format(c="'hll-' || user_id::VARCHAR")} AS hv
      FROM events
    ),
    daily_regs AS (
      SELECT event_type, d, hv >> {_HLL_RANK_BITS} AS bucket,
             max(CASE WHEN (hv & {(1 << _HLL_RANK_BITS) - 1}) = 0
                      THEN {_HLL_RANK_BITS + 1}
                      ELSE strpos(lpad(bin(hv & {(1 << _HLL_RANK_BITS) - 1}),
                                       {_HLL_RANK_BITS}, '0'), '1')
                 END) AS m
      FROM h GROUP BY 1, 2, 3
    ),
    merged_regs AS (
      SELECT event_type, bucket, max(m) AS m
      FROM daily_regs GROUP BY 1, 2
    ),
    direct_regs AS (
      SELECT event_type, hv >> {_HLL_RANK_BITS} AS bucket,
             max(CASE WHEN (hv & {(1 << _HLL_RANK_BITS) - 1}) = 0
                      THEN {_HLL_RANK_BITS + 1}
                      ELSE strpos(lpad(bin(hv & {(1 << _HLL_RANK_BITS) - 1}),
                                       {_HLL_RANK_BITS}, '0'), '1')
                 END) AS m
      FROM h GROUP BY 1, 2
    ),
    fm AS (
      SELECT event_type,
             sum(power(2.0, -m)) + (256 - count(*)) * 1.0 AS s
      FROM merged_regs GROUP BY event_type
    ),
    fd AS (
      SELECT event_type,
             sum(power(2.0, -m)) + (256 - count(*)) * 1.0 AS s
      FROM direct_regs GROUP BY event_type
    ),
    np AS (
      SELECT event_type, count(DISTINCT d) AS n_partials
      FROM daily_regs GROUP BY event_type
    )
    SELECT fd.event_type,
      CAST(np.n_partials AS BIGINT) AS n_partials,
      round(({_HLL_ALPHA_SQL}) * 65536.0 / fd.s, 2) AS hll_direct,
      round(({_HLL_ALPHA_SQL}) * 65536.0 / fm.s, 2) AS hll_merged,
      CAST(CASE WHEN fd.s = fm.s THEN 1 ELSE 0 END AS BIGINT)
        AS merge_exact
    FROM fd JOIN fm USING (event_type) JOIN np USING (event_type)
    """,
    operators=("X-sketch-hll", "X-sketch-merge", "A-distinct"),
)
def q212_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY proof for the HLL sketch — the property that
    makes it the 100 TB cardinality plan: per-day partial register
    files max-merge into exactly the registers a direct global pass
    builds (max of maxes = global max, per bucket), so the rolled-up
    estimate is BIT-IDENTICAL to the direct one (merge_exact pinned
    to 1 on every row by the oracle). This is the shape a warehouse
    runs: tiny per-partition sketches maintained incrementally, any
    rollup grain served by register merge — never a re-scan."""
    e = catalog.load(spark, sf_dir, "events")
    rank_mask = (1 << _HLL_RANK_BITS) - 1
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll-"), F.col("user_id").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    rem = F.col("hv").bitwiseAND(F.lit(rank_mask))
    rho = F.when(rem == 0, F.lit(_HLL_RANK_BITS + 1)).otherwise(
        F.expr(
            f"instr(lpad(conv(hv & {rank_mask}, 10, 2), "
            f"{_HLL_RANK_BITS}, '0'), '1')"
        )
    )
    h = e.select(
        "event_type",
        F.to_date("ts").alias("d"),
        hv.alias("hv"),
    ).select(
        "event_type",
        "d",
        F.shiftright("hv", _HLL_RANK_BITS).alias("bucket"),
        rho.alias("rho"),
    )
    daily = h.groupBy("event_type", "d", "bucket").agg(
        F.max("rho").alias("m")
    )
    merged = daily.groupBy("event_type", "bucket").agg(F.max("m").alias("m"))
    direct = h.groupBy("event_type", "bucket").agg(F.max("rho").alias("m"))

    def fold(regs: DataFrame) -> DataFrame:
        return regs.groupBy("event_type").agg(
            (
                F.sum(F.pow(F.lit(2.0), -F.col("m")))
                + (F.lit(256) - F.count(F.lit(1))) * F.lit(1.0)
            ).alias("s")
        )

    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    fm = fold(merged).withColumnRenamed("s", "sm")
    fd = fold(direct)
    np_ = daily.groupBy("event_type").agg(
        F.countDistinct("d").alias("n_partials")
    )
    return (
        fd.join(fm, "event_type")
        .join(np_, "event_type")
        .select(
            "event_type",
            F.col("n_partials").cast("long").alias("n_partials"),
            F.round(alpha * F.lit(65536.0) / F.col("s"), 2).alias(
                "hll_direct"
            ),
            F.round(alpha * F.lit(65536.0) / F.col("sm"), 2).alias(
                "hll_merged"
            ),
            F.when(F.col("s") == F.col("sm"), 1)
            .otherwise(0)
            .cast("long")
            .alias("merge_exact"),
        )
    )


# ---------------------------------------------------------------------------
# q283 — KMV sketch intersections (r11)
# ---------------------------------------------------------------------------

_KMV_K = 256
_H_SPACE = 281474976710656  # 2^48


@query(
    "q283_kmv_intersection",
    sql=f"""
    WITH uh AS (
      SELECT DISTINCT event_type AS t, user_id AS u,
        ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 12))::BIGINT AS h
      FROM events),
    rk AS (
      SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY t) AS n_t
      FROM (SELECT DISTINCT t, h FROM uh)),
    sk AS (SELECT * FROM rk WHERE rn <= {_KMV_K}),
    theta AS (
      SELECT t,
             CASE WHEN max(n_t) >= {_KMV_K}
                  THEN max(CASE WHEN rn = {_KMV_K} THEN h END)
                  ELSE {_H_SPACE} END AS theta_t,
             CASE WHEN max(n_t) >= {_KMV_K}
                  THEN round({_KMV_K - 1}.0 * {_H_SPACE}.0
                             / max(CASE WHEN rn = {_KMV_K} THEN h END), 2)
                  ELSE CAST(max(n_t) AS DOUBLE) END AS est_t
      FROM sk GROUP BY 1),
    pairs AS (
      SELECT a.t AS ta, b.t AS tb,
             least(a.theta_t, b.theta_t) AS theta,
             a.est_t AS est_a, b.est_t AS est_b
      FROM theta a JOIN theta b ON a.t < b.t),
    common AS (
      SELECT p.ta, p.tb,
             sum(CASE WHEN sb.h IS NOT NULL AND sa.h < p.theta
                 THEN 1 ELSE 0 END) AS c
      FROM pairs p
      JOIN sk sa ON sa.t = p.ta
      LEFT JOIN sk sb ON sb.t = p.tb AND sb.h = sa.h
      GROUP BY 1, 2),
    ti AS (
      SELECT a.t AS ta, b.t AS tb, count(*) AS true_common
      FROM uh a JOIN uh b ON a.u = b.u AND a.t < b.t
      GROUP BY 1, 2)
    SELECT p.ta AS type_a, p.tb AS type_b,
           p.est_a, p.est_b,
           CAST(c.c AS BIGINT) AS common_in_sketch,
           round(CAST(c.c AS DOUBLE) * {_H_SPACE}.0 / p.theta, 2)
               AS est_intersection,
           CAST(coalesce(ti.true_common, 0) AS BIGINT) AS true_intersection
    FROM pairs p
    JOIN common c ON p.ta = c.ta AND p.tb = c.tb
    LEFT JOIN ti ON p.ta = ti.ta AND p.tb = ti.tb
    """,
    operators=("X-kmv-sketch", "X-sketch-intersection", "W-rank", "A-distinct"),
)
def q283_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-style) distinct sketches with
    INTERSECTION estimation — the capability HLL (q195/q212)
    structurally lacks: "how many users did BOTH X and Y" without
    scanning at pair grain. Each event type keeps its k=256 smallest
    48-bit md5 user hashes (the portable hash family — the sketch is
    REPRODUCIBLE across engines, runs, and merges, never rand()); θ
    = the k-th smallest (full space when the sketch isn't full, which
    makes the estimate EXACT in that regime), and the pairwise
    estimator counts common hashes below least(θ_a, θ_b) scaled by
    2^48/θ — every sketch row below the smaller θ is a complete
    uniform sample of the intersection. The exact pair count rides
    along as the scoreboard column (the q114 recall-board pattern).
    Scale shape: sketches are built by a PARTITIONED rank window (k
    rows survive per type), pair joins touch only k-row sketches —
    at 100 TB the pairwise stage costs the same as at 100 MB; only
    the distinct-user pass scales with data. Estimates are single
    int-ratio doubles — bit-identical."""
    from pyspark.sql import Window

    e = catalog.load(spark, sf_dir, "events")
    uh = e.select(
        F.col("event_type").alias("t"),
        F.col("user_id").alias("u"),
        F.expr(
            "cast(conv(substring(md5(concat('kmv:', cast(user_id as string))),"
            " 1, 12), 16, 10) as bigint)"
        ).alias("h"),
    ).distinct()
    th = uh.select("t", "h").distinct()
    wt = Window.partitionBy("t")
    rk = th.select(
        "t",
        "h",
        F.row_number().over(wt.orderBy("h")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n_t"),
    )
    sk = rk.filter(F.col("rn") <= _KMV_K)
    kth = F.max(F.when(F.col("rn") == _KMV_K, F.col("h")))
    theta = sk.groupBy("t").agg(
        F.when(F.max("n_t") >= _KMV_K, kth)
        .otherwise(F.lit(_H_SPACE))
        .alias("theta_t"),
        F.when(
            F.max("n_t") >= _KMV_K,
            F.round(
                F.lit(float(_KMV_K - 1)) * F.lit(float(_H_SPACE)) / kth, 2
            ),
        )
        .otherwise(F.max("n_t").cast("double"))
        .alias("est_t"),
    )
    a, b = theta.alias("a"), theta.alias("b")
    pairs = a.join(b, F.col("a.t") < F.col("b.t")).select(
        F.col("a.t").alias("ta"),
        F.col("b.t").alias("tb"),
        F.least(F.col("a.theta_t"), F.col("b.theta_t")).alias("theta"),
        F.col("a.est_t").alias("est_a"),
        F.col("b.est_t").alias("est_b"),
    )
    sa = sk.select(F.col("t").alias("ta"), F.col("h").alias("ha"))
    sb = sk.select(F.col("t").alias("tb2"), F.col("h").alias("hb"))
    common = (
        pairs.join(sa, "ta")
        .join(
            sb,
            (F.col("tb") == F.col("tb2")) & (F.col("ha") == F.col("hb")),
            "left",
        )
        .groupBy("ta", "tb")
        .agg(
            F.sum(
                F.when(
                    F.col("hb").isNotNull() & (F.col("ha") < F.col("theta")),
                    1,
                ).otherwise(0)
            ).alias("c")
        )
    )
    ua = uh.select(F.col("t").alias("ta"), "u")
    ub = uh.select(F.col("t").alias("tb"), "u")
    ti = (
        ua.join(ub, "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("true_common"))
    )
    return (
        pairs.join(common, ["ta", "tb"])
        .join(ti, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "est_a",
            "est_b",
            F.col("c").cast("long").alias("common_in_sketch"),
            F.round(
                F.col("c").cast("double") * F.lit(float(_H_SPACE))
                / F.col("theta"),
                2,
            ).alias("est_intersection"),
            F.coalesce(F.col("true_common"), F.lit(0))
            .cast("long")
            .alias("true_intersection"),
        )
    )


# ---------------------------------------------------------------------------
# q287 — KMV mergeable rollup: partition sketches == direct sketch (r11)
# ---------------------------------------------------------------------------


@query(
    "q287_kmv_mergeable_rollup",
    sql=f"""
    WITH uh AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u,
        ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 12))::BIGINT AS h
      FROM events),
    daily AS (
      SELECT d, h FROM (
        SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rn
        FROM (SELECT DISTINCT d, h FROM uh))
      WHERE rn <= {_KMV_K}),
    merged AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM daily))
      WHERE rn <= {_KMV_K}),
    direct AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM uh))
      WHERE rn <= {_KMV_K}),
    m AS (SELECT count(*) AS n_m, max(h) AS theta_m, sum(h) AS sum_m
          FROM merged),
    dd AS (SELECT count(*) AS n_d, max(h) AS theta_d, sum(h) AS sum_d
           FROM direct),
    meta AS (
      SELECT count(DISTINCT d) AS n_days, count(*) AS n_sketch_rows
      FROM daily),
    tot AS (SELECT count(DISTINCT u) AS true_distinct FROM uh)
    SELECT CAST(meta.n_days AS BIGINT) AS n_days,
           CAST(meta.n_sketch_rows AS BIGINT) AS n_sketch_rows,
           CAST(m.theta_m AS BIGINT) AS theta_merged,
           CAST(dd.theta_d AS BIGINT) AS theta_direct,
           CASE WHEN m.n_m >= {_KMV_K}
                THEN round({_KMV_K - 1}.0 * {_H_SPACE}.0 / m.theta_m, 2)
                ELSE CAST(m.n_m AS DOUBLE) END AS est_merged,
           CASE WHEN dd.n_d >= {_KMV_K}
                THEN round({_KMV_K - 1}.0 * {_H_SPACE}.0 / dd.theta_d, 2)
                ELSE CAST(dd.n_d AS DOUBLE) END AS est_direct,
           CAST(CASE WHEN m.n_m = dd.n_d AND m.theta_m = dd.theta_d
                     AND m.sum_m = dd.sum_d THEN 1 ELSE 0 END AS BIGINT)
               AS sketches_identical,
           CAST(tot.true_distinct AS BIGINT) AS true_distinct
    FROM m CROSS JOIN dd CROSS JOIN meta CROSS JOIN tot
    """,
    operators=("X-kmv-sketch", "X-mergeable-rollup", "W-rank", "A-distinct"),
)
def q287_kmv_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability on the scoreboard — the property that makes
    the sketch tier (q283) a WAREHOUSE primitive rather than a query
    trick: per-day-partition sketches (k smallest user hashes per
    day) merged by re-ranking their union are IDENTICAL — not
    approximately, identical as sets — to the sketch built in one
    pass over all data, because any hash in the global top-k must be
    in its own partition's top-k (fewer than k hashes beat it
    anywhere). The query computes both routes and emits the equality
    verdict (count, θ, and hash-sum all compared exactly) plus both
    estimates and the true distinct count (the q212 HLL-rollup
    pattern, but with a sketch whose merge is EXACT, so the identity
    is assertable, not approximate). At 100 TB this is the incremental
    pattern: each new partition contributes one k-row sketch;
    re-estimating all-time distincts touches k·partitions rows, never
    the data. Day-partitioned rank windows build the partition
    sketches (WindowGroupLimit partial-limits them map-side); both
    global top-k's are orderBy+limit (TakeOrderedAndProject — the
    distributed top-k, never a single-reducer sort)."""
    from pyspark.sql import Window

    e = catalog.load(spark, sf_dir, "events")
    uh = e.select(
        F.col("ts").cast("date").alias("d"),
        F.col("user_id").alias("u"),
        F.expr(
            "cast(conv(substring(md5(concat('kmv:', cast(user_id as string))),"
            " 1, 12), 16, 10) as bigint)"
        ).alias("h"),
    ).distinct()
    dh = uh.select("d", "h").distinct()
    daily = (
        dh.select(
            "d",
            "h",
            F.row_number()
            .over(Window.partitionBy("d").orderBy("h"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= _KMV_K)
        .select("d", "h")
    )

    def _topk(df):
        # orderBy + limit plans TakeOrderedAndProject — a distributed
        # top-k (per-partition heads reduced at the driver), never the
        # single-reducer sort a partitionless rank window would be
        # over the corpus-sized distinct-hash set
        return df.orderBy("h").limit(_KMV_K).select("h")

    merged = _topk(daily.select("h").distinct())
    direct = _topk(uh.select("h").distinct())
    m = merged.agg(
        F.count(F.lit(1)).alias("n_m"),
        F.max("h").alias("theta_m"),
        F.sum("h").alias("sum_m"),
    )
    dd = direct.agg(
        F.count(F.lit(1)).alias("n_d"),
        F.max("h").alias("theta_d"),
        F.sum("h").alias("sum_d"),
    )
    meta = daily.agg(
        F.countDistinct("d").alias("n_days"),
        F.count(F.lit(1)).alias("n_sketch_rows"),
    )
    tot = uh.agg(F.countDistinct("u").alias("true_distinct"))

    def _est(n_col, theta_col):
        return F.when(
            F.col(n_col) >= _KMV_K,
            F.round(
                F.lit(float(_KMV_K - 1)) * F.lit(float(_H_SPACE))
                / F.col(theta_col),
                2,
            ),
        ).otherwise(F.col(n_col).cast("double"))

    return (
        m.crossJoin(dd)
        .crossJoin(F.broadcast(meta))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_sketch_rows").cast("long").alias("n_sketch_rows"),
            F.col("theta_m").cast("long").alias("theta_merged"),
            F.col("theta_d").cast("long").alias("theta_direct"),
            _est("n_m", "theta_m").alias("est_merged"),
            _est("n_d", "theta_d").alias("est_direct"),
            F.when(
                (F.col("n_m") == F.col("n_d"))
                & (F.col("theta_m") == F.col("theta_d"))
                & (F.col("sum_m") == F.col("sum_d")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("sketches_identical"),
            F.col("true_distinct").cast("long").alias("true_distinct"),
        )
    )
