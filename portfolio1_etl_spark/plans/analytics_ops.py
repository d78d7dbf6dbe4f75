"""Analytic operator shapes (r8): grouped least-squares regression,
Pareto/skyline frontier, bitmap-backed exact distinct counting,
blocked fuzzy record linkage, and ABC (80/15/5) revenue
classification — the BI/statistics layer over the relational core.

Determinism strategy per query (registry contract): every aggregate
that feeds a float expression is EXACT first — integer sums, scaled
BIGINT cents, or decimal sums — so the final double arithmetic runs on
bit-identical inputs in both engines and one terminal round suffices.

Reference analogue: none — the reference's pandas script stops at
group-by sums; [ext] per SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions import dsum_product, zround
from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.operators.ranks import with_exact_rank
from portfolio1_etl_spark.plans.registry import query


@query(
    "q177_group_regression",
    sql="""
    WITH pts AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS BIGINT) AS x,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
      FROM events
    ),
    s AS (
      SELECT event_type,
             count(*) AS n,
             sum(x) AS sx, sum(x * x) AS sxx,
             sum(yc) AS syc, sum(yc * yc) AS syyc,
             sum(x * yc) AS sxyc
      FROM pts GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
      round((CAST(n * sxyc - sx * syc AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)) / 100.0, 6) + 0.0 AS slope,
      round((CAST(syc AS DOUBLE) / 100.0
             - ((CAST(n * sxyc - sx * syc AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) / 100.0)
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
      round((CAST(n * sxyc - sx * syc AS DOUBLE)
             * CAST(n * sxyc - sx * syc AS DOUBLE))
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syyc - syc * syc AS DOUBLE)), 6) AS r2
    FROM s
    """,
    operators=("X-regression", "A-stats", "C4"),
)
def q177_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (slope / intercept / R²) of
    event value on hour-of-day, computed from the five classical
    moment sums — ONE shuffle, one pass, no per-group iteration.
    Cross-engine float parity: x is an integer and y flows as scaled
    cents (exact decimal snap × 100); every moment sum AND the moment
    products run in DECIMAL(38,0) — exact, order-independent, and wide
    enough that n·Σy² (~1e20 at sf1, past int64) cannot overflow,
    mirroring DuckDB's HUGEINT accumulation (a BIGINT form overflows
    exactly where the oracle does not). The only float ops are the
    final correctly-rounded wide-integer→DOUBLE casts and divisions,
    bit-identical in both engines (the ``regr_slope`` builtin would
    instead accumulate raw doubles whose sum order diverges). At 100 TB
    this is the textbook map-side-combinable aggregation: five
    fixed-width partial sums per group."""
    e = catalog.load(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    pts = e.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("yc"),
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum(F.col("yc").cast(dec)).alias("syc"),
        F.sum((F.col("yc") * F.col("yc")).cast(dec)).alias("syyc"),
        F.sum((F.col("x") * F.col("yc")).cast(dec)).alias("sxyc"),
    )
    nd = F.col("n").cast(dec)
    num = (nd * F.col("sxyc") - F.col("sx") * F.col("syc")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (nd * F.col("syyc") - F.col("syc") * F.col("syc")).cast("double")
    slope = num / den / 100.0
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        zround(slope, 6).alias("slope"),
        zround(
            (
                F.col("syc").cast("double") / 100.0
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


@query(
    "q181_price_size_skyline",
    sql="""
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
         OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size)
    )
    """,
    operators=("X-skyline", "Window-frame", "A1"),
)
def q181_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): parts not dominated on (price ↓,
    size ↑) — q dominates p when it is no more expensive, no smaller,
    and strictly better on one axis. The oracle spells the quadratic
    NOT EXISTS; the Spark plan is the O(n log n) 2-D sweep: aggregate
    to the DISTINCT-PRICE grain (one shuffle; the grain is bounded by
    the price domain, not the row count), take the running max size
    over strictly-cheaper prices (a single-partition window over that
    SMALL artifact — fine because it is post-aggregation), and keep a
    part iff it beats every cheaper part's size and ties the max size
    at its own price. Same-price-same-size twins survive together
    (neither strictly dominates)."""
    p = catalog.load(spark, sf_dir, "part")
    grain = p.groupBy("p_retailprice").agg(
        F.max("p_size").alias("price_max_size")
    )
    w = W.orderBy("p_retailprice").rowsBetween(W.unboundedPreceding, -1)
    grain = grain.withColumn(
        "cheaper_max", F.max("price_max_size").over(w)
    )
    return (
        p.join(F.broadcast(grain), "p_retailprice")
        .filter(
            (
                F.col("cheaper_max").isNull()
                | (F.col("p_size") > F.col("cheaper_max"))
            )
            & (F.col("p_size") == F.col("price_max_size"))
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


@query(
    "q182_bitmap_distinct",
    sql="""
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
    operators=("X-bitmap-distinct", "A-distinct", "A1"),
)
def q182_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per (event_type, day) via Spark's bitmap
    aggregates instead of ``count(distinct)``: ids hash into 32k-bit
    bucket bitmaps (``bitmap_construct_agg`` over
    ``bitmap_bit_position``), which are tiny, mergeable, and map-side
    combinable — the two-level groupBy shuffles fixed-width bitmap
    BLOBS rather than raw id lists, the same trick a 100 TB
    distinct-count rollup needs (count-distinct EXPAND multiplies the
    scan; bitmaps don't). Final count is the sum of per-bucket
    popcounts. The oracle is the plain COUNT(DISTINCT)."""
    e = catalog.load(spark, sf_dir, "events")
    per_bucket = (
        e.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "d", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return per_bucket.groupBy("event_type", "d").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_users")
    )


@query(
    "q183_fuzzy_part_linkage",
    sql="""
    WITH names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS block,
             count(*) AS cnt
      FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_part_pairs
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    operators=("X-record-linkage", "J-blocked", "C-levenshtein"),
)
def q183_fuzzy_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage, canonicalized BEFORE the
    quadratic step: part names aggregate to DISTINCT-NAME grain first
    (name, block, multiplicity), candidate name pairs share a blocking
    key (the SECOND token — the noun of these adjective-noun part
    names), Levenshtein ≤ 3 confirms, and
    the linked-record volume surfaces as the multiplicity product —
    every edit distance is computed ONCE per distinct string pair, not
    once per record pair. This is the decisive linkage scale move: the
    first cut of this query paired at RECORD grain and spent 47 s at
    sf0.1 on 20M in-block comparisons; the distinct-name form does the
    identical decision work in ~0.3 s because the quadratic cost is
    bounded by the VALUE domain, not the table (at 100 TB the gap is
    fatal — block-quadratic in records is the classic linkage
    mistake). Blocks stay the shuffle key; a skewed block would route
    through salted_join (operators/joins.py)."""
    names = (
        catalog.load(spark, sf_dir, "part")
        .groupBy(
            "p_name",
            # try_element_at + '' : a space-free name must block on ''
            # exactly like DuckDB's split_part (plain element_at THROWS
            # under ANSI when the token is missing)
            F.coalesce(
                F.try_element_at(F.split("p_name", " "), F.lit(2)),
                F.lit(""),
            ).alias("block"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("long")
            .alias("edit_dist"),
            (F.col("a.cnt") * F.col("b.cnt")).cast("long").alias(
                "n_part_pairs"
            ),
        )
        .filter(F.col("edit_dist") <= 3)
    )


@query(
    "q184_abc_classification",
    sql="""
    WITH rev AS (
      SELECT l_partkey,
             round(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(28,8))), 2) AS revenue
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, revenue,
        sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                           ROWS UNBOUNDED PRECEDING) AS cum,
        sum(revenue) OVER () AS total
      FROM rev
    )
    SELECT l_partkey, CAST(revenue AS DOUBLE) AS revenue,
      round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
      CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
           WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
           ELSE 'C' END AS abc_class
    FROM ranked
    """,
    operators=("X-abc-pareto", "Window-frame", "A1"),
)
def q184_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto 80/15/5) classification of parts by revenue: rank
    parts by revenue, take the running share of total, and classify —
    A carries the first 80% of revenue, B to 95%, C the tail. The
    cumulative sum runs over EXACT 2-dp decimals (order-independent),
    so the share and therefore the class boundary are bit-identical in
    both engines — boundary rows cannot flip class on sum-order noise.
    Tie order is pinned on (revenue DESC, partkey). The part dimension
    SCALES with SF, so the prefix sum is the two-phase
    operators/ranks.with_exact_rank composition — per-cell sums over
    scale-free log2 revenue cells + broadcast cell offsets + a
    within-cell running sum — not a partitionless window funneling
    every part through one reducer. Exact-decimal accumulation holds
    in both phases (cell sums and offsets stay DECIMAL(38,2))."""
    li = catalog.load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        dsum_product(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .cast("decimal(18,2)")
        .alias("revenue")
    )
    ranked = with_exact_rank(
        rev,
        order_by=[F.desc("revenue"), F.col("l_partkey")],
        bucket=(
            -F.floor(F.log2(F.col("revenue").cast("double") + 2.0) * 8)
        ).cast("long"),
        sum_col=F.col("revenue"),
        sum_type="decimal(38,2)",
        cumsum_name="cum",
        total_name="total",
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    return ranked.select(
        "l_partkey",
        F.col("revenue").cast("double").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "q190_winsorized_stats",
    sql="""
    WITH base AS (
      SELECT event_type, event_id,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_g
      FROM base
    ),
    bounds AS (
      SELECT event_type,
             max(CASE WHEN rn = floor((5 * n_g + 99) / 100)
                      THEN v END) AS lo,
             max(CASE WHEN rn = floor((95 * n_g + 99) / 100)
                      THEN v END) AS hi
      FROM r GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(max(r.n_g) AS BIGINT) AS n,
           CAST(max(b.lo) AS DOUBLE) AS p05,
           CAST(max(b.hi) AS DOUBLE) AS p95,
           round(CAST(sum(greatest(b.lo, least(b.hi, r.v))) AS DOUBLE)
                 / max(r.n_g), 4) AS wins_mean
    FROM r JOIN bounds b ON b.event_type = r.event_type
    GROUP BY r.event_type
    """,
    operators=("X-winsorize", "A-percentile", "Window-rank"),
)
def q190_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clip values at the 5th/95th ORDER
    STATISTICS (discrete percentiles — actual data values, found by
    rank, with an integer ceil-index so both engines pick the
    identical element) and average the clipped column. Because the
    clip bounds are real 2-dp data values, the clipped sum stays EXACT
    decimal arithmetic end to end — no interpolated-percentile float
    whose .xx5 midpoint would round differently across engines (the
    (a+b)/2 of two 2-dp values lands exactly on the half-cent
    boundary; clipping at it would be nondeterministic). One shuffle
    on the group key serves ranking, counting, and the final
    aggregate; bounds re-join broadcast-sized."""
    base = catalog.load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    wg = W.partitionBy("event_type")
    wr = wg.orderBy("v", "event_id")
    r = base.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n_g", F.count(F.lit(1)).over(wg)
    )
    lo_idx = F.floor((5 * F.col("n_g") + 99) / 100)
    hi_idx = F.floor((95 * F.col("n_g") + 99) / 100)
    bounds = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == lo_idx, F.col("v"))).alias("lo"),
        F.max(F.when(F.col("rn") == hi_idx, F.col("v"))).alias("hi"),
    )
    clipped = r.join(F.broadcast(bounds), "event_type")
    return clipped.groupBy("event_type").agg(
        F.max("n_g").cast("long").alias("n"),
        F.max("lo").cast("double").alias("p05"),
        F.max("hi").cast("double").alias("p95"),
        F.round(
            F.sum(F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("v"))))
            .cast("double")
            / F.max("n_g"),
            4,
        ).alias("wins_mean"),
    )


@query(
    "q209_seasonality_anomaly",
    sql="""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d, hour(ts) AS h,
             dayofweek(CAST(ts AS DATE)) AS dow, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT dow, h, avg(CAST(n AS DOUBLE)) AS mean_n
      FROM hourly GROUP BY 1, 2
    )
    SELECT hourly.d, CAST(hourly.h AS BIGINT) AS hour,
      CAST(hourly.n AS BIGINT) AS n_events,
      round(base.mean_n, 4) AS baseline,
      round(CAST(hourly.n AS DOUBLE) / base.mean_n, 4) AS ratio,
      CAST(CASE WHEN CAST(hourly.n AS DOUBLE) / base.mean_n < 0.5
                  OR CAST(hourly.n AS DOUBLE) / base.mean_n > 2.0
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM hourly JOIN base USING (dow, h)
    """,
    operators=("X-anomaly", "X-seasonality", "A1", "J3"),
)
def q209_seasonality_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection — the ops-monitoring query
    behind every traffic alert: each (day, hour) bucket scored
    against the mean volume of its (weekday, hour) season, flagged
    outside [0.5x, 2x]. The dow key is internal to each engine's own
    join (any consistent weekday numbering works), the ratio divides
    an exact count by an average of exact counts (identical operands
    both engines), and the season baseline is broadcast-size — at
    100 TB this is one hourly pre-aggregate shuffle plus a 168-row
    broadcast join, never a window over raw events."""
    e = catalog.load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.dayofweek(F.to_date("ts")).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = hourly.groupBy("dow", "h").agg(
        F.avg(F.col("n").cast("double")).alias("mean_n")
    )
    ratio = F.col("n").cast("double") / F.col("mean_n")
    return hourly.join(F.broadcast(base), ["dow", "h"]).select(
        "d",
        F.col("h").cast("long").alias("hour"),
        F.col("n").cast("long").alias("n_events"),
        F.round("mean_n", 4).alias("baseline"),
        F.round(ratio, 4).alias("ratio"),
        F.when((ratio < 0.5) | (ratio > 2.0), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_anomaly"),
    )


@query(
    "q210_value_percentiles_daily",
    sql="""
    SELECT event_type, CAST(ts AS DATE) AS d,
      CAST(count(*) AS BIGINT) AS n,
      round(quantile_cont(value, 0.5), 4) AS p50,
      round(quantile_cont(value, 0.95), 4) AS p95,
      round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1, 2
    """,
    operators=("A-percentile", "X-observability", "A1"),
)
def q210_value_percentiles_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type value percentiles (p50/p95/p99) — the
    observability dashboard's latency-band query. Exact interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    the q34/q160-verified pairing) over one (type, day) shuffle; at
    100 TB the group count stays bounded (types × days) while the
    per-group sort distributes — for unbounded-cardinality keys the
    approx_percentile sketch (q35) is the scale path."""
    e = catalog.load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# q242 — exact weighted median, distributed (r10)
# ---------------------------------------------------------------------------


@query(
    "q242_weighted_median",
    sql="""
    WITH b AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             l_extendedprice AS x,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey AS k, l_linenumber AS ln
      FROM lineitem),
    c AS (
      SELECT rf, ls, x, w,
             sum(w) OVER (PARTITION BY rf, ls ORDER BY x, k, ln
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY rf, ls) AS tw
      FROM b)
    SELECT rf AS returnflag, ls AS linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(max(tw) AS BIGINT) AS total_weight,
           round(min(CASE WHEN 2 * cw >= tw THEN x END), 2)
             AS weighted_median
    FROM c GROUP BY 1, 2
    """,
    operators=("A-percentile", "X-weighted-median", "Window-frame", "A1"),
)
def q242_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median price per (returnflag,
    linestatus) — the robust-statistics op every per-segment pricing
    report wants, and the shape that defeats both approxQuantile
    (approximate) and a partitionless cumulative window (each of the
    ~6 groups is the whole fact table — the q170 single-reducer
    hazard at FACT grain, worse than dimension grain). Built on
    operators/ranks.with_exact_rank's prefix-sum mode: integer
    weights accumulate per log2-price cell map-side, cell offsets
    broadcast, and the within-cell running weight finds the first row
    where 2·cum ≥ total. No arithmetic ever touches the price values
    (only ordering and min), and the weight sums are exact integers —
    bit-identical across engines by construction."""
    li = catalog.load(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.col("l_extendedprice").alias("x"),
        F.col("l_quantity").cast("long").alias("w"),
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
    )
    r = with_exact_rank(
        b,
        order_by=[F.col("x"), F.col("k"), F.col("ln")],
        bucket=F.floor(F.log2(F.col("x").cast("double") + 2.0) * 8).cast(
            "long"
        ),
        group_cols=["rf", "ls"],
        sum_col=F.col("w"),
        sum_type="decimal(38,0)",
        cumsum_name="cw",
        total_name="tw",
    )
    return r.groupBy(
        F.col("rf").alias("returnflag"), F.col("ls").alias("linestatus")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.max("tw").cast("long").alias("total_weight"),
        F.round(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("x"))), 2
        ).alias("weighted_median"),
    )


# ---------------------------------------------------------------------------
# q259 — golden-record survivorship after fuzzy linkage (r10)
# ---------------------------------------------------------------------------


@query(
    "q259_golden_record",
    sql="""
    WITH RECURSIVE names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS block,
             count(*) AS cnt,
             min(p_partkey) AS min_pk,
             max(p_retailprice) AS max_price
      FROM part GROUP BY 1, 2),
    pairs AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM names a JOIN names b
        ON a.block = b.block AND a.p_name <> b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3),
    reach(node, r, d) AS (
      SELECT na, nb, 1 FROM pairs
      UNION
      SELECT reach.node, p.nb, d + 1
      FROM reach JOIN pairs p ON reach.r = p.na
      WHERE d < 32 AND p.nb <> reach.node),
    canon AS (
      SELECT n.p_name,
             least(n.p_name, coalesce(min(reach.r), n.p_name)) AS canonical
      FROM names n LEFT JOIN reach ON n.p_name = reach.node
      GROUP BY n.p_name)
    SELECT c.canonical AS canonical_name,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(n.cnt) AS BIGINT) AS n_records,
           CAST(min(n.min_pk) AS BIGINT) AS surviving_partkey,
           max(n.max_price) AS max_retailprice
    FROM canon c JOIN names n ON c.p_name = n.p_name
    GROUP BY 1
    """,
    operators=("X-survivorship", "X-record-linkage", "X-transitive-closure", "A1"),
)
def q259_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship — the step AFTER q183's fuzzy
    linkage that an MDM/entity-resolution pipeline actually ships:
    matched name variants collapse into one canonical entity and the
    surviving attributes come from deterministic rules (canonical =
    lexicographic min of the cluster, surviving id = min partkey,
    price = max across members, volume = summed multiplicity). The
    match graph lives at DISTINCT-NAME grain (the q183 scale move —
    quadratic in the value domain, never in records); clusters come
    from a bounded transitive closure: 5 path-doubling rounds resolve
    every path up to length 2^5 = 32, and the oracle's recursive CTE
    carries the SAME depth-32 bound, so both engines compute the
    identical reachability set by construction (a 33-hop name chain
    would need a 6th round — the q243 depth-budget argument). Closure
    state dedups on (node, reach) each round; canonical assignment and
    survivorship are one left join + two aggregates."""
    names = (
        catalog.load(spark, sf_dir, "part")
        .groupBy(
            "p_name",
            # try_element_at + '' : a space-free name must block on ''
            # exactly like DuckDB's split_part (plain element_at THROWS
            # under ANSI when the token is missing)
            F.coalesce(
                F.try_element_at(F.split("p_name", " "), F.lit(2)),
                F.lit(""),
            ).alias("block"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("p_partkey").alias("min_pk"),
            F.max("p_retailprice").alias("max_price"),
        )
    )
    a, b = names.alias("a"), names.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") != F.col("b.p_name")),
        )
        .filter(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3
        )
        .select(
            F.col("a.p_name").alias("node"), F.col("b.p_name").alias("r")
        )
    )
    closure = pairs.localCheckpoint(eager=True)
    for _ in range(5):
        left = closure.select("node", F.col("r").alias("mid"))
        right = closure.select(F.col("node").alias("mid"), "r")
        longer = (
            left.join(right, "mid")
            .filter(F.col("node") != F.col("r"))
            .select("node", "r")
        )
        # per-round materialization (the pagerank discipline): truncate
        # lineage so the plan stays O(1) per round instead of doubling
        closure = materialize(closure.unionByName(longer).distinct())
    canon = (
        names.select("p_name")
        .join(closure, names["p_name"] == closure["node"], "left")
        .groupBy("p_name")
        .agg(
            F.least(
                F.col("p_name"), F.coalesce(F.min("r"), F.col("p_name"))
            ).alias("canonical")
        )
    )
    return (
        canon.join(names, "p_name")
        .groupBy(F.col("canonical").alias("canonical_name"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_names"),
            F.sum("cnt").cast("long").alias("n_records"),
            F.min("min_pk").cast("long").alias("surviving_partkey"),
            F.max("max_price").alias("max_retailprice"),
        )
    )


# ---------------------------------------------------------------------------
# q261 — weight-of-evidence categorical encoding (r10)
# ---------------------------------------------------------------------------


@query(
    "q261_woe_encoding",
    sql="""
    WITH cells AS (
      SELECT o_orderpriority AS category,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bad,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_good
      FROM orders GROUP BY 1),
    tot AS (
      SELECT CAST(sum(n_bad) AS BIGINT) AS bad_tot,
             CAST(sum(n_good) AS BIGINT) AS good_tot
      FROM cells)
    SELECT c.category, c.n_good, c.n_bad,
           round(ln(((c.n_good + 0.5) / (t.good_tot + 1.0))
                    / ((c.n_bad + 0.5) / (t.bad_tot + 1.0))), 6) + 0.0
             AS woe,
           round((round((c.n_good + 0.5) / (t.good_tot + 1.0), 6)
                  - round((c.n_bad + 0.5) / (t.bad_tot + 1.0), 6))
                 * (round(ln(((c.n_good + 0.5) / (t.good_tot + 1.0))
                             / ((c.n_bad + 0.5) / (t.bad_tot + 1.0))), 6)
                    + 0.0), 6) + 0.0 AS iv_term
    FROM cells c CROSS JOIN tot t
    """,
    operators=("X-woe-encoding", "X-feature-prep", "A1"),
)
def q261_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding of a categorical feature against a
    binary outcome (order priority vs final-status), with each
    category's information-value term — the standard feature-prep
    transform a credit/quality scorecard pipeline applies before a
    linear model, and the feature-selection readout (ΣIV) beside it.
    Laplace 0.5/1.0 smoothing keeps empty cells finite. Numerics:
    counts are exact integers; the smoothed odds ratio is ONE
    identical expression tree in both engines, ln rounds to 6 dp
    through zround (WOE is sign-indefinite), and the IV term
    multiplies ROUNDED shares by the ROUNDED woe before its own
    rounding — transcendental ulps never compound. The category table
    is 5 cells; totals ride in as a broadcast 1-row aggregate."""
    o = catalog.load(spark, sf_dir, "orders")
    bad = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    cells = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.sum(1 - bad).cast("long").alias("n_good"),
        F.sum(bad).cast("long").alias("n_bad"),
    )
    tot = cells.agg(
        F.sum("n_bad").cast("long").alias("bad_tot"),
        F.sum("n_good").cast("long").alias("good_tot"),
    )
    good_share = (F.col("n_good") + 0.5) / (F.col("good_tot") + 1.0)
    bad_share = (F.col("n_bad") + 0.5) / (F.col("bad_tot") + 1.0)
    woe = zround(F.log(good_share / bad_share), 6)
    return cells.crossJoin(F.broadcast(tot)).select(
        "category",
        "n_good",
        "n_bad",
        woe.alias("woe"),
        zround(
            (F.round(good_share, 6) - F.round(bad_share, 6)) * woe, 6
        ).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# q262 — ratio-to-parent hierarchy shares (r10)
# ---------------------------------------------------------------------------


@query(
    "q262_ratio_to_parent",
    sql="""
    WITH cust_rev AS (
      SELECT c.c_nationkey,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    nat AS (
      SELECT n.n_nationkey, n.n_name, n.n_regionkey, r.r_name,
             coalesce(cr.cents, 0) AS nation_cents
      FROM nation n
      JOIN region r ON n.n_regionkey = r.r_regionkey
      LEFT JOIN cust_rev cr ON n.n_nationkey = cr.c_nationkey),
    reg AS (
      SELECT n_regionkey,
             CAST(sum(nation_cents) AS BIGINT) AS region_cents
      FROM nat GROUP BY 1),
    tot AS (SELECT CAST(sum(region_cents) AS BIGINT) AS total_cents FROM reg)
    SELECT nat.r_name AS region, nat.n_name AS nation,
           CAST(nat.nation_cents AS BIGINT) AS nation_cents,
           reg.region_cents,
           CASE WHEN reg.region_cents > 0
                THEN round(CAST(nat.nation_cents AS DOUBLE)
                           / reg.region_cents, 6) END AS share_of_region,
           CASE WHEN tot.total_cents > 0
                THEN round(CAST(reg.region_cents AS DOUBLE)
                           / tot.total_cents, 6) END AS region_share_of_total
    FROM nat
    JOIN reg ON nat.n_regionkey = reg.n_regionkey
    CROSS JOIN tot
    """,
    operators=("X-ratio-to-parent", "X-hierarchy-share", "A1", "J1"),
)
def q262_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent report down the region → nation hierarchy —
    the percent-of-parent readout every BI layer ships (each nation's
    share of its region's revenue, each region's share of the total).
    Implemented as LEVEL AGGREGATES joined back down, never a
    partitionless ratio_to_report window: the fact table aggregates
    once at nation grain (exact integer cents), nation rows roll up to
    region and total at dimension grain, and shares divide exact
    integers (zero-denominator guarded both engines — a region with no
    orders yields NULL shares, not ANSI ÷0). Nations with no customers
    keep a row (LEFT join, 0 cents). At 100 TB the single fact-wide
    exchange is the nation-grain aggregate; everything above it is
    25/5/1-row arithmetic."""
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    n = catalog.load(spark, sf_dir, "nation")
    r = catalog.load(spark, sf_dir, "region")
    cust_rev = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o["o_custkey"] == c["c_custkey"],
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    nat = (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(cust_rev, n["n_nationkey"] == cust_rev["c_nationkey"], "left")
        .select(
            "n_name",
            "n_regionkey",
            "r_name",
            F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias(
                "nation_cents"
            ),
        )
    )
    reg = nat.groupBy("n_regionkey").agg(
        F.sum("nation_cents").cast("long").alias("region_cents")
    )
    tot = reg.agg(F.sum("region_cents").cast("long").alias("total_cents"))
    return (
        nat.join(F.broadcast(reg), "n_regionkey")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "nation_cents",
            "region_cents",
            F.when(
                F.col("region_cents") > 0,
                F.round(
                    F.col("nation_cents").cast("double")
                    / F.col("region_cents"),
                    6,
                ),
            ).alias("share_of_region"),
            F.when(
                F.col("total_cents") > 0,
                F.round(
                    F.col("region_cents").cast("double")
                    / F.col("total_cents"),
                    6,
                ),
            ).alias("region_share_of_total"),
        )
    )


# ---------------------------------------------------------------------------
# q272 — Jaro-Winkler record linkage (DuckDB-builtin parity) (r11)
# ---------------------------------------------------------------------------


@query(
    "q272_jaro_winkler_linkage",
    sql="""
    WITH names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS block,
             count(*) AS cnt
      FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_part_pairs
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.5
    """,
    operators=("X-record-linkage", "J-blocked", "UDF-pandas", "C-jaro-winkler"),
)
def q272_jaro_winkler_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage scored by Jaro-Winkler — the
    prefix-weighted metric every entity-resolution stack pairs with
    Levenshtein (q183), and one Spark has NO built-in for: the score
    runs through an Arrow-vectorized pandas UDF
    (operators/udfs.jaro_winkler_udf) calibrated BIT-EXACTLY to
    DuckDB's ``jaro_winkler_similarity`` (boost threshold 0.7, prefix
    cap 4, p=0.1, empty strings score 0 — the 6000-pair fuzz in
    tests/test_udfs.py pins every branch), so the oracle is the
    builtin itself. Scale discipline is q183's: canonicalize to
    DISTINCT-NAME grain before the quadratic step (the UDF prices
    each string pair once — the value domain, not the corpus, bounds
    the slow path; record volume rides along as the multiplicity
    product), block on the noun token, and keep the UDF OUT of the
    join condition (score once post-join, filter on the scored
    column) so the Arrow batches stay large."""
    from portfolio1_etl_spark.operators.udfs import jaro_winkler_udf

    names = (
        catalog.load(spark, sf_dir, "part")
        .groupBy(
            "p_name",
            F.coalesce(
                F.try_element_at(F.split("p_name", " "), F.lit(2)),
                F.lit(""),
            ).alias("block"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            jaro_winkler_udf(F.col("a.p_name"), F.col("b.p_name")).alias("jw_raw"),
            (F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("n_part_pairs"),
        )
        .filter(F.col("jw_raw") >= 0.5)
        .select(
            "name_a",
            "name_b",
            F.round(F.col("jw_raw"), 6).alias("jw"),
            "n_part_pairs",
        )
    )


# ---------------------------------------------------------------------------
# q273 — leave-one-out target encoding (r11)
# ---------------------------------------------------------------------------


@query(
    "q273_loo_target_encoding",
    sql="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT count(*) AS n_all, sum(y) AS y_all FROM base),
    s AS (SELECT segment, count(*) AS n_seg, sum(y) AS y_seg
          FROM base GROUP BY 1)
    SELECT b.segment, CAST(b.y AS BIGINT) AS y,
           round(CASE WHEN s.n_seg > 1
                 THEN CAST(s.y_seg - b.y AS DOUBLE) / (s.n_seg - 1)
                 ELSE CAST(g.y_all AS DOUBLE) / g.n_all END, 6) AS loo_enc,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM base b JOIN s ON b.segment = s.segment CROSS JOIN g
    GROUP BY 1, 2, 3
    """,
    operators=("X-target-encoding", "X-leakage-free", "A1", "J1"),
)
def q273_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature — the
    leakage-free sibling of q261's WOE: each row's encoded value
    excludes its OWN label ((Σy_seg − y_i)/(n_seg − 1)), so a model
    trained on the encoding never sees its target reflected back (the
    q139 leakage discipline applied to feature engineering, not
    splitting); singleton categories fall back to the global prior.
    The plan is two tiny aggregates (segment grain and one global
    row) broadcast back onto the fact scan — no per-row shuffle
    beyond the encode's own group-by, and the output collapses to
    (segment, y) grain because LOO encoding takes exactly one value
    per (category, label) pair — a property the oracle gate proves
    for free (any within-pair variance would fan out extra rows).
    Integer-ratio divisions keep every value bit-identical across
    engines."""
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    base = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("segment"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    g = base.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("y").alias("y_all")
    )
    s = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_seg"), F.sum("y").alias("y_seg")
    )
    return (
        base.join(F.broadcast(s), "segment")
        .crossJoin(F.broadcast(g))
        .select(
            "segment",
            F.col("y").cast("long").alias("y"),
            F.round(
                F.when(
                    F.col("n_seg") > 1,
                    (F.col("y_seg") - F.col("y")).cast("double")
                    / (F.col("n_seg") - 1),
                ).otherwise(
                    F.col("y_all").cast("double") / F.col("n_all")
                ),
                6,
            ).alias("loo_enc"),
        )
        .groupBy("segment", "y", "loo_enc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q277 — Poisson-bootstrap confidence intervals (r11)
# ---------------------------------------------------------------------------

#: Poisson(1) CDF, written as identical decimal literals in BOTH
#: engines (each parses to the same nearest double); the inverse-CDF
#: CASE ladder turns a [0,1) uniform into a bootstrap weight.
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
    "0.999998874797402",
)

_BOOT_B = 64  # replicates; CI = 2nd / 63rd order statistics (~95%)


def _pois_case_sql(u: str) -> str:
    branches = "\n             ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 9 END"


@query(
    "q277_poisson_bootstrap_ci",
    sql=f"""
    WITH reps AS (SELECT unnest(range({_BOOT_B})) AS b),
    weighted AS (
      SELECT c.c_mktsegment AS segment, r.b,
             CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
             {_pois_case_sql(
                 "(('0x' || substr(md5('boot-' || r.b::VARCHAR || ':' "
                 "|| o.o_orderkey::VARCHAR), 1, 12))::BIGINT "
                 "/ 281474976710656.0)")} AS w
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      CROSS JOIN reps r),
    rep_means AS (
      SELECT segment, b,
             CAST(sum(w * cents) AS DOUBLE) / sum(w) AS mean_b
      FROM weighted GROUP BY 1, 2 HAVING sum(w) > 0),
    ranked AS (
      SELECT segment, mean_b,
             row_number() OVER (PARTITION BY segment
                                ORDER BY mean_b, b) AS rn,
             count(*) OVER (PARTITION BY segment) AS nb
      FROM rep_means),
    point AS (
      SELECT c.c_mktsegment AS segment,
             count(*) AS n_orders,
             sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS tot_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1)
    SELECT p.segment,
           CAST(p.n_orders AS BIGINT) AS n_orders,
           round(CAST(p.tot_cents AS DOUBLE) / p.n_orders / 100.0, 4)
               AS mean_order_value,
           round(max(CASE WHEN r.rn = 2 THEN r.mean_b END) / 100.0, 4)
               AS ci_lo,
           round(max(CASE WHEN r.rn = r.nb - 1 THEN r.mean_b END) / 100.0, 4)
               AS ci_hi
    FROM point p JOIN ranked r ON p.segment = r.segment
    GROUP BY 1, 2, 3
    """,
    operators=("X-bootstrap", "X-resampling", "A1", "W-rank"),
)
def q277_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence intervals for mean order value per
    segment — THE bootstrap that works on distributed data: classic
    resampling needs n draws WITH replacement from a shuffled global
    ordering (a driver-side loop at any scale), while Poisson(1)
    weights are independent per row, so each of the B=64 replicates is
    a narrow map (weight from the portable 48-bit md5 hash — q255's
    never-rand() reproducibility — through an inverse-CDF CASE ladder
    whose thresholds are written as IDENTICAL decimal literals in both
    engines) followed by a partial-aggregated group-by. The ×64 row
    fan-out never shuffles: weights collapse map-side to (segment, b)
    grain, ~320 rows at ANY corpus size, and the CI is the 2nd/63rd
    order statistic of the replicate means (exact row_number pick over
    integer-ratio doubles — deterministic, no percentile
    interpolation). u = h48/2^48 divides a 48-bit int by a power of
    two: exact, bit-identical."""
    from portfolio1_etl_spark.parallelism import spread_rows

    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    # spread the ×64 replicate fan-out across the configured
    # parallelism BEFORE it runs: the 64 md5 evaluations per base row
    # dwarf one round-robin shuffle of the 3-column base (the
    # shingle_hashes explode-parallelism class — scan splits budget
    # raw bytes, not the fan-out behind the crossJoin; at sf0.1 the
    # scan plans ONE split and 9.6 M hash evaluations ran on one core)
    base = spread_rows(
        o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
            F.col("c_mktsegment").alias("segment"),
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    reps = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    u = (
        F.expr(
            "cast(conv(substring(md5(concat('boot-', cast(b as string), ':', "
            "cast(o_orderkey as string))), 1, 12), 16, 10) as bigint)"
        )
        / F.lit(281474976710656.0)
    )
    w = F.when(u < float(_POIS_CDF[0]), 0)
    for k, cdf in enumerate(_POIS_CDF[1:], start=1):
        w = w.when(u < float(cdf), k)
    w = w.otherwise(9)
    weighted = base.crossJoin(F.broadcast(reps)).select(
        "segment", "b", "cents", w.alias("w")
    )
    rep_means = (
        weighted.groupBy("segment", "b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("swx"),
             F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select(
            "segment",
            "b",
            (F.col("swx").cast("double") / F.col("sw")).alias("mean_b"),
        )
    )
    wseg = W.partitionBy("segment")
    ranked = rep_means.select(
        "segment",
        "mean_b",
        F.row_number()
        .over(wseg.orderBy(F.col("mean_b"), F.col("b")))
        .alias("rn"),
        F.count(F.lit(1)).over(wseg).alias("nb"),
    )
    point = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("tot_cents"),
    )
    return (
        point.join(ranked, "segment")
        .groupBy(
            "segment",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(
                F.col("tot_cents").cast("double") / F.col("n_orders") / 100.0,
                4,
            ).alias("mean_order_value"),
        )
        .agg(
            F.round(
                F.max(F.when(F.col("rn") == 2, F.col("mean_b"))) / 100.0, 4
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("rn") == F.col("nb") - 1, F.col("mean_b")))
                / 100.0,
                4,
            ).alias("ci_hi"),
        )
    )
