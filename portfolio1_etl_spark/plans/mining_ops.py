"""[ext] Data-mining / customer-analytics queries (r9): association
rules over order baskets, RFM segmentation, year-over-year ABC class
migration, a Gini concentration coefficient, graph link prediction,
dyadic EWMA smoothing, marketing attribution, a mergeable histogram
quantile sketch, cohort LTV curves, a dyadic value histogram, and the
local clustering coefficient of the co-purchase graph.

These are the classic "mining on top of the warehouse" shapes a
training-data/analytics platform serves beside its relational core.
Reference analogue: none — the reference's pandas script stops at
flat aggregation (portfolio-etl.py:520-610); [ext] per SURVEY §6.

Float determinism strategy (the house rules):
- Money flows as exact integer CENTS (``CAST(round(x * 100, 0) AS
  BIGINT)`` of 2-dp doubles, or a DECIMAL spine sum scaled by 100) —
  every cumulative/cohort sum is integer-exact in both engines.
- Ratios (confidence, lift, Jaccard, shares, LTV) divide two exact
  integers with the IDENTICAL expression tree in both engines, then
  round; sign-indefinite outputs go through ``zround`` (+0.0).
- EWMA uses alpha = 0.5 so every decay weight ``pow(0.5, k)`` is a
  dyadic rational, exact in binary; the 16-step window keeps the
  weighted sum under 53 mantissa bits, so it is order-independent.

Scale notes (100 TB): baskets are bounded by order size (the within-
order self-join expands by basket width, never table size); candidate
link-prediction pairs come from a shared-neighbor join over a
df-capped graph (hub buckets excised before enumeration, the q71/q191
pattern); RFM/Pareto/Gini windows run over AGGREGATED dimension-grain
rows (customers, parts), not facts — the only fact-wide exchanges are
the initial keyed aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions.exact import CENTS_SQL as _CENTS
from portfolio1_etl_spark.functions.exact import cents_of as _cents
from portfolio1_etl_spark.functions.numeric import zround
from portfolio1_etl_spark.operators.ranks import ntile_from_rank, with_exact_rank
from portfolio1_etl_spark.plans.registry import query


def _copurchase_graph(spark: SparkSession, sf_dir: str, cap: int = 40):
    """Hub-capped co-purchase user graph shared by q224/q237/q254:
    distinct (user, purchase-hour) pairs, hours with more than ``cap``
    users excised BEFORE edge enumeration (the q71 heavy-hitter
    excision — bounds every downstream deg² self-join), then the
    within-hour pair explosion deduped to a canonical u<v edge list.
    Returns (edges, nbr): the canonical edges and the symmetric
    neighbor list."""
    e = catalog.load(spark, sf_dir, "events")
    ub = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .distinct()
    )
    hcnt = ub.groupBy("h").agg(F.count(F.lit(1)).alias("nu"))
    small = ub.join(
        F.broadcast(hcnt.filter(F.col("nu") <= cap).select("h")), "h"
    )
    a = small.select(F.col("user_id").alias("u"), "h")
    b = small.select(F.col("user_id").alias("v"), "h")
    edges = (
        a.join(b, "h").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    nbr = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    return edges, nbr


# ---------------------------------------------------------------------------
# q220 — association rules (market basket)
# ---------------------------------------------------------------------------


@query(
    "q220_association_rules",
    sql="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    item AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS support_cnt
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT p.part_a, p.part_b, p.support_cnt,
           round(CAST(p.support_cnt AS DOUBLE) / ia.cnt, 6) AS conf_ab,
           round(CAST(p.support_cnt AS DOUBLE) / ib.cnt, 6) AS conf_ba,
           round(CAST(p.support_cnt AS DOUBLE) * n.n_orders
                 / (CAST(ia.cnt AS DOUBLE) * ib.cnt), 6) AS lift
    FROM pair p
    JOIN item ia ON p.part_a = ia.l_partkey
    JOIN item ib ON p.part_b = ib.l_partkey
    CROSS JOIN n
    """,
    operators=("A-distinct", "J1", "X-assoc-rules", "A1"),
)
def q220_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: part pairs co-purchased in ≥2
    orders, with confidence both ways and lift. The within-order
    self-join expands by BASKET WIDTH (bounded by order size, ~4-7
    lines), never table size — the same bounded-block argument as the
    LSH bucket joins. Item supports are part-grain (dimension-sized →
    broadcast); N is a 1-row literal broadcast. Confidence and lift
    divide exact integer counts with identical expression trees."""
    l = catalog.load(spark, sf_dir, "lineitem")
    b = l.select("l_orderkey", "l_partkey").distinct()
    n = (
        b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .withColumn("jk", F.lit(1))
    )
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = b.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    c = b.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(c, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support_cnt"))
        .filter(F.col("support_cnt") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("ka"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("kb"), F.col("cnt").alias("cnt_b"))
    sup = F.col("support_cnt").cast("double")
    return (
        pair.join(F.broadcast(ia), F.col("part_a") == F.col("ka"))
        .join(F.broadcast(ib), F.col("part_b") == F.col("kb"))
        .withColumn("jk", F.lit(1))
        .join(F.broadcast(n), "jk")
        .select(
            "part_a",
            "part_b",
            "support_cnt",
            F.round(sup / F.col("cnt_a"), 6).alias("conf_ab"),
            F.round(sup / F.col("cnt_b"), 6).alias("conf_ba"),
            F.round(
                sup * F.col("n_orders")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q221 — RFM segmentation
# ---------------------------------------------------------------------------

_RFM_REF = "2001-09-01"


@query(
    "q221_rfm_segmentation",
    sql=f"""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       DATE '{_RFM_REF}') AS r_days,
             count(*) AS f_orders,
             sum({_CENTS.format(x="o_totalprice")}) AS m_cents
      FROM orders GROUP BY 1)
    SELECT o_custkey AS c_custkey,
           CAST(r_days AS BIGINT) AS r_days,
           CAST(f_orders AS BIGINT) AS f_orders,
           CAST(m_cents AS BIGINT) AS m_cents,
           CAST(ntile(5) OVER (ORDER BY r_days DESC, o_custkey) AS INT)
             AS r_score,
           CAST(ntile(5) OVER (ORDER BY f_orders, o_custkey) AS INT)
             AS f_score,
           CAST(ntile(5) OVER (ORDER BY m_cents, o_custkey) AS INT)
             AS m_score
    FROM rfm
    """,
    operators=("A1", "Window-ntile", "X-rfm", "C6"),
)
def q221_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days from last order to the
    fixed reference date — a literal, so no 1-row cross join plans a
    BNL), frequency, monetary (exact cents), each scored into ntile(5)
    quintiles with the customer key as the deterministic tie-break
    (ntile's remainder distribution is the SQL standard in both
    engines). Score 5 = best (most recent / most frequent / highest
    spend). The fact table is aggregated to customer grain first —
    and the three quintiles come from operators/ranks.with_exact_rank
    (count-per-cell + broadcast offsets + within-cell row_number +
    arithmetic ntile), NOT partitionless windows, which would funnel
    the whole customer dimension through one reducer at 100 TB.
    Cell choices, each monotone along its window order:

    - recency: 16-day cells of −r_days (the date span is a fixed
      ~2,500-day domain at every SF → ≤ 160 cells);
    - frequency: f_orders has ~dozens of distinct values no matter
      the scale — every cell of any value-only coarsening is a heavy
      hitter — so cells are (f_orders, custkey-sixteenth), the
      sixteenths cut by an in-plan percentile_approx on the TIEBREAK
      column (broadcast 1-row bounds; ties on f_orders are resolved
      by custkey, so refining by custkey keeps the cell order exact);
    - monetary: scale-free log2 histogram cells of cents (q223's)."""
    o = catalog.load(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(_RFM_REF).cast("date"), F.max("o_orderdate").cast("date")
        ).alias("r_days"),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("m_cents"),
    )
    probes = [i / 16 for i in range(1, 16)]
    bounds = rfm.agg(
        F.percentile_approx(
            "o_custkey", F.array(*[F.lit(p) for p in probes]), 1000
        ).alias("_kb")
    )
    rfm = rfm.join(F.broadcast(bounds))
    ck = F.col("o_custkey")
    sub16 = F.size(F.filter(F.col("_kb"), lambda bnd: bnd < ck))
    ranked = with_exact_rank(
        rfm,
        order_by=[F.col("r_days").desc(), ck],
        bucket=F.floor(-F.col("r_days") / 16).cast("long"),
        rank_name="_rr",
        n_name="_nn",
    )
    ranked = with_exact_rank(
        ranked,
        order_by=[F.col("f_orders"), ck],
        bucket=F.struct(F.col("f_orders"), sub16.alias("s")),
        rank_name="_rf",
        n_name="_nf",
    )
    ranked = with_exact_rank(
        ranked,
        order_by=[F.col("m_cents"), ck],
        bucket=F.floor(
            F.log2(F.col("m_cents").cast("double") + 2.0) * 8
        ).cast("long"),
        rank_name="_rm",
        n_name="_nm",
    )
    return ranked.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("r_days").cast("long").alias("r_days"),
        F.col("f_orders").cast("long").alias("f_orders"),
        F.col("m_cents").cast("long").alias("m_cents"),
        ntile_from_rank(F.col("_rr"), F.col("_nn"), 5).cast("int").alias("r_score"),
        ntile_from_rank(F.col("_rf"), F.col("_nf"), 5).cast("int").alias("f_score"),
        ntile_from_rank(F.col("_rm"), F.col("_nm"), 5).cast("int").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# q222 — ABC class migration (year-over-year)
# ---------------------------------------------------------------------------


@query(
    "q222_abc_migration",
    sql="""
    WITH pr AS (
      SELECT l_partkey, CAST(year(l_shipdate) AS BIGINT) AS y,
             CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(28,8))) * 100, 0) AS BIGINT)
               AS revenue_cents
      FROM lineitem GROUP BY 1, 2),
    c AS (
      SELECT l_partkey, y, revenue_cents,
             sum(revenue_cents) OVER (PARTITION BY y
               ORDER BY revenue_cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents,
             sum(revenue_cents) OVER (PARTITION BY y) AS total_cents
      FROM pr),
    cls AS (
      SELECT l_partkey, y,
             CASE WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.7
                    THEN 'A'
                  WHEN CAST(cum_cents AS DOUBLE) / total_cents <= 0.9
                    THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM c)
    SELECT a.y AS year_from, a.abc_class AS class_from,
           b.abc_class AS class_to,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM cls a JOIN cls b ON a.l_partkey = b.l_partkey AND b.y = a.y + 1
    GROUP BY 1, 2, 3
    """,
    operators=("A1", "Window-frame", "X-class-migration", "J2"),
)
def q222_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year ABC class migration: parts are Pareto-classified
    WITHIN each ship year, then consecutive years self-join on partkey
    to count the 9-cell transition matrix (how much of last year's A
    class decayed to B/C). A year is a ~7-value partition key — every
    per-year window partition is the WHOLE part dimension, the q170
    single-reducer hazard with a different label — so the per-year
    cumulative share runs through operators/ranks.with_exact_rank
    grouped by year over scale-free log2 revenue cells (per-cell
    integer-cent sums, broadcast offsets, within-cell running sum).
    Cumulative sums stay exact integer cents with pinned tie order, so
    class boundaries cannot flip on sum-order noise; everything
    downstream is integer counts. The self-join is at (part, year)
    grain — dimension-sized."""
    l = catalog.load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pr = l.groupBy(
        "l_partkey", F.year("l_shipdate").cast("long").alias("y")
    ).agg(
        F.round(F.sum(rev.cast("decimal(28,8)")) * 100, 0)
        .cast("long")
        .alias("revenue_cents")
    )
    share = F.col("cum_cents").cast("double") / F.col("total_cents")
    cls = (
        with_exact_rank(
            pr,
            order_by=[F.col("revenue_cents").desc(), F.col("l_partkey")],
            bucket=(
                -F.floor(
                    F.log2(F.col("revenue_cents").cast("double") + 2.0) * 8
                )
            ).cast("long"),
            group_cols=["y"],
            sum_col=F.col("revenue_cents"),
            sum_type="decimal(38,0)",
            cumsum_name="cum_cents",
            total_name="total_cents",
        )
        .select(
            "l_partkey",
            "y",
            F.when(share <= 0.7, "A")
            .when(share <= 0.9, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    a = cls.select(
        F.col("l_partkey").alias("k"),
        F.col("y").alias("year_from"),
        F.col("abc_class").alias("class_from"),
    )
    b = cls.select(
        F.col("l_partkey").alias("k"),
        (F.col("y") - 1).alias("year_from"),
        F.col("abc_class").alias("class_to"),
    )
    return (
        a.join(b, ["k", "year_from"])
        .groupBy("year_from", "class_from", "class_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# q223 — Gini coefficient
# ---------------------------------------------------------------------------


@query(
    "q223_gini_concentration",
    sql=f"""
    WITH cr AS (
      SELECT o_custkey, sum({_CENTS.format(x="o_totalprice")}) AS cents
      FROM orders GROUP BY 1),
    rk AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM cr),
    s AS (
      SELECT count(*) AS n,
             sum(CAST(cents AS DECIMAL(38,0))) AS sx,
             sum(CAST(i * cents AS DECIMAL(38,0))) AS six
      FROM rk)
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(2.0 * CAST(six AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE),
                 6) + 0.0 AS gini
    FROM s
    """,
    operators=("A1", "Window-rank", "X-gini", "A-stats"),
)
def q223_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration, via the
    rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    exact cents. Both Σ terms accumulate in DECIMAL(38,0) (integer-
    exact), so the only float ops are the final divisions — spelled
    with the identical expression tree in both engines, then a zround
    (a perfectly equal distribution yields a tiny negative that must
    canonicalize to +0.0, the q159 class).

    The exact global rank i comes from operators/ranks.with_exact_rank
    over log2-histogram cells of cents (≤ ~280 cells at ANY scale —
    log cells are scale-free), NOT a partitionless window: a
    customer-grain ``Window.orderBy`` is a single-reducer sort of the
    whole dimension at 100 TB. Count-per-cell + broadcast prefix
    offsets + within-cell row_number is exact regardless of cell
    balance."""
    o = catalog.load(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("cents")
    )
    rk = with_exact_rank(
        cr,
        order_by=[F.col("cents"), F.col("o_custkey")],
        bucket=F.floor(F.log2(F.col("cents").cast("double") + 2.0) * 8).cast(
            "long"
        ),
        rank_name="i",
    ).select("cents", "i")
    s = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)")).alias("six"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        zround(
            2.0 * F.col("six").cast("double") / (n_d * F.col("sx").cast("double"))
            - (n_d + 1.0) / n_d,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q224 — link prediction (common neighbors + Jaccard)
# ---------------------------------------------------------------------------


@query(
    "q224_link_prediction",
    sql="""
    WITH ub AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'),
    hc AS (SELECT h FROM (SELECT h, count(*) AS nu FROM ub GROUP BY 1)
           WHERE nu <= 40),
    sm AS (SELECT u, h FROM ub JOIN hc USING (h)),
    e AS (SELECT DISTINCT a.u AS u, b.u AS v
          FROM sm a JOIN sm b USING (h) WHERE a.u < b.u),
    nbr AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS (SELECT node, count(*) AS d FROM nbr GROUP BY 1),
    cand AS (
      SELECT a.node AS u, b.node AS v, count(*) AS common
      FROM nbr a JOIN nbr b ON a.nbr = b.nbr AND a.node < b.node
      GROUP BY 1, 2 HAVING count(*) >= 5),
    nonedge AS (
      SELECT c.* FROM cand c
      LEFT JOIN e ON c.u = e.u AND c.v = e.v
      WHERE e.u IS NULL)
    SELECT ne.u, ne.v, ne.common,
           round(CAST(ne.common AS DOUBLE)
                 / (du.d + dv.d - ne.common), 6) AS jaccard
    FROM nonedge ne
    JOIN deg du ON ne.u = du.node
    JOIN deg dv ON ne.v = dv.node
    """,
    operators=("J-anti", "A-distinct", "X-link-prediction", "A1"),
)
def q224_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph link prediction on the q191 co-purchase graph: for every
    NON-adjacent user pair sharing ≥5 common neighbors, the common-
    neighbor count and neighborhood Jaccard — the classic "who should
    be connected" primitive. Candidates come from a shared-neighbor
    self-join (O(Σ deg²), bounded because hub hours are df-capped
    before edge enumeration — the q71 heavy-hitter excision), then an
    anti-join removes existing edges. Jaccard divides exact integer
    counts; degrees broadcast at node grain.

    The shared-neighbor self-join is EXPLICITLY repartitioned to the
    configured shuffle parallelism: its shuffle INPUT (the edge list)
    is tiny in bytes, so AQE's byte-based coalescing collapses it to a
    few tasks — but the CPU cost is the deg² pair EXPLOSION on the
    probe side, which the byte estimate cannot see. Pinning the
    partition count keeps the explosion spread across the cluster
    (3x wall-clock on the bench board; the same reasoning holds at
    100 TB where per-bucket work, not bytes, is the bottleneck)."""
    edges, nbr = _copurchase_graph(spark, sf_dir)
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # explicit partition count disables AQE coalescing for this one
    # exchange — see the docstring's explosion-vs-bytes argument.
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    na = nbr.select(F.col("node").alias("cu"), "nbr").repartition(npart, "nbr")
    nb = nbr.select(F.col("node").alias("cv"), "nbr").repartition(npart, "nbr")
    cand = (
        na.join(nb, "nbr")
        .filter(F.col("cu") < F.col("cv"))
        .groupBy("cu", "cv")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 5)
    )
    nonedge = cand.join(
        edges,
        (cand["cu"] == edges["u"]) & (cand["cv"] == edges["v"]),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("ku"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("kv"), F.col("d").alias("dv"))
    return (
        nonedge.join(F.broadcast(du), F.col("cu") == F.col("ku"))
        .join(F.broadcast(dv), F.col("cv") == F.col("kv"))
        .select(
            F.col("cu").alias("u"),
            F.col("cv").alias("v"),
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q225 — dyadic EWMA smoothing
# ---------------------------------------------------------------------------

_EWMA_SPAN = 16


@query(
    "q225_dyadic_ewma",
    sql=f"""
    WITH rn AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS k
      FROM events WHERE event_type = 'view'),
    w AS (
      SELECT user_id,
             sum({_CENTS.format(x="value")} * pow(0.5, k - 1)) AS num,
             sum(pow(0.5, k - 1)) AS den
      FROM rn WHERE k <= {_EWMA_SPAN} GROUP BY 1)
    SELECT user_id, round(num / den / 100, 4) + 0.0 AS ewma_value
    FROM w
    """,
    operators=("Window-rank", "A1", "X-ewma", "C6"),
)
def q225_dyadic_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's last 16
    'view' values, alpha = 1/2 — chosen so every decay weight
    pow(0.5, k) is a DYADIC rational (exact in binary) and the
    weighted sum of integer cents spans < 53 mantissa bits, making the
    fold order-independent: both engines produce bit-identical sums
    with NO rounding tricks needed before the final display round.
    The per-user rank is a partitioned window (no global sort); rows
    beyond the 16-step horizon are filtered before aggregation."""
    e = catalog.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = (
        e.filter(F.col("event_type") == "view")
        .select("user_id", "value", F.row_number().over(w).alias("k"))
        .filter(F.col("k") <= _EWMA_SPAN)
    )
    wgt = F.pow(0.5, F.col("k") - 1)
    return (
        rn.groupBy("user_id")
        .agg(
            F.sum(_cents(F.col("value")) * wgt).alias("num"),
            F.sum(wgt).alias("den"),
        )
        .select(
            "user_id",
            zround(F.col("num") / F.col("den") / 100, 4).alias("ewma_value"),
        )
    )


# ---------------------------------------------------------------------------
# q226 — marketing attribution
# ---------------------------------------------------------------------------


@query(
    "q226_touch_attribution",
    sql="""
    SELECT p.event_id AS purchase_id,
           min(c.ts) AS first_click_ts,
           max(c.ts) AS last_click_ts,
           CAST(count(*) AS BIGINT) AS n_clicks
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 7 DAY
    WHERE p.event_type = 'purchase'
    GROUP BY 1
    """,
    operators=("J-range", "A1", "X-attribution", "W2"),
)
def q226_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch marketing attribution: for each
    purchase, the earliest and latest click by the same user in the
    preceding 7 days, plus the touch count. The range join shuffles
    ONCE on user_id with the time band as a secondary predicate —
    per-user expansion is bounded by a user's 7-day click activity,
    the same bounded-band argument as the as-of join family. Pure
    timestamp/int outputs: no float hazard."""
    e = catalog.load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    return (
        p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 7 DAY")),
        )
        .groupBy("purchase_id")
        .agg(
            F.min("cts").alias("first_click_ts"),
            F.max("cts").alias("last_click_ts"),
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
        )
    )


# ---------------------------------------------------------------------------
# q227 — mergeable histogram quantile sketch
# ---------------------------------------------------------------------------

_QSK_W = 2_500_000  #: histogram bucket width in cents ($25k)


@query(
    "q227_histogram_quantiles",
    sql=f"""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders),
    h AS (
      SELECT cents // {_QSK_W} AS b, count(*) AS bn
      FROM c GROUP BY 1),
    cum AS (
      SELECT b, bn,
             sum(bn) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
             sum(bn) OVER () AS n
      FROM h),
    ps AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                          CAST(0.99 AS DOUBLE)]) AS p),
    hit AS (
      SELECT p.p, c.b, c.bn, c.cb, c.n,
             CAST(ceil(p.p * c.n) AS BIGINT) AS t
      FROM ps p JOIN cum c
        ON c.cb >= CAST(ceil(p.p * c.n) AS BIGINT)
       AND c.cb - c.bn < CAST(ceil(p.p * c.n) AS BIGINT))
    SELECT p,
           CAST(n AS BIGINT) AS n_orders,
           CAST(b * {_QSK_W} AS DOUBLE)
             + (CAST(t - (cb - bn) AS DOUBLE) / CAST(bn AS DOUBLE))
               * {_QSK_W} AS est_cents
    FROM hit
    """,
    operators=("A1", "Window-frame", "X-quantile-sketch", "A-percentile"),
)
def q227_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width-histogram quantile sketch: order values
    bucket into fixed $25k cells (ONE map-side-combinable aggregate —
    the histogram is the sketch, and histograms merge by cell-wise
    addition exactly like the q212 HLL register fold, which is what
    makes this the 100 TB path where an exact global sort is not), and
    p50/p95/p99 are read off the cumulative cell counts with linear
    interpolation inside the hit cell. Every count is an exact
    integer; the interpolation divides exact integers with the
    identical expression tree in both engines and is emitted UNROUNDED
    (fully deterministic — no round boundary exists to straddle)."""
    o = catalog.load(spark, sf_dir, "orders")
    h = (
        o.select(_cents(F.col("o_totalprice")).alias("cents"))
        .groupBy((F.col("cents") / _QSK_W).cast("long").alias("b"))
        .agg(F.count(F.lit(1)).alias("bn"))
    )
    cum = h.select(
        "b",
        "bn",
        F.sum("bn")
        .over(
            Window.orderBy("b").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cb"),
        F.sum("bn").over(Window.partitionBy()).alias("n"),
    )
    ps = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "p double")
    t = F.ceil(F.col("p") * F.col("n")).cast("long")
    hit = F.broadcast(ps).join(
        cum, (F.col("cb") >= t) & ((F.col("cb") - F.col("bn")) < t)
    )
    return hit.select(
        "p",
        F.col("n").cast("long").alias("n_orders"),
        (
            (F.col("b") * _QSK_W).cast("double")
            + (
                (t - (F.col("cb") - F.col("bn"))).cast("double")
                / F.col("bn").cast("double")
            )
            * _QSK_W
        ).alias("est_cents"),
    )


# ---------------------------------------------------------------------------
# q228 — cohort LTV curves
# ---------------------------------------------------------------------------


@query(
    "q228_cohort_ltv",
    sql=f"""
    WITH first_m AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate)) AS cm
      FROM orders GROUP BY 1),
    sz AS (SELECT cm, count(*) AS cohort_size FROM first_m GROUP BY 1),
    rev AS (
      SELECT f.cm,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cm
               AS age_months,
             sum({_CENTS.format(x="o.o_totalprice")}) AS cents
      FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cm, age_months,
             sum(cents) OVER (PARTITION BY cm ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM rev)
    SELECT CAST(c.cm AS BIGINT) AS cohort_month_idx,
           CAST(c.age_months AS BIGINT) AS age_months,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           CAST(round(CAST(c.cum_cents AS DOUBLE) / s.cohort_size, 0)
                AS BIGINT) AS ltv_cents_per_customer
    FROM cum c JOIN sz s ON c.cm = s.cm
    """,
    operators=("A1", "Window-frame", "X-cohort-ltv", "J1"),
)
def q228_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month (an integer month index — never fractional months_between),
    cumulative exact-cents revenue by cohort age, and LTV per cohort
    member. The cumulative window is integer cents partitioned BY
    COHORT (parallel across cohorts, no global sort); cohort sizes
    broadcast. LTV is emitted as integer CENTS: an integer-ratio
    division either lands exactly on .5 (representable, rounds
    identically in both engines) or sits ≥ 1/(2·size) away from any
    round boundary — never the .xx5 shortest-decimal divergence a
    2-dp currency round would hit."""
    o = catalog.load(spark, sf_dir, "orders")
    midx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first_m = o.groupBy("o_custkey").agg(F.min(midx).alias("cm"))
    sz = first_m.groupBy("cm").agg(F.count(F.lit(1)).alias("cohort_size"))
    rev = (
        o.join(first_m, "o_custkey")
        .groupBy("cm", (midx - F.col("cm")).alias("age_months"))
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("cents"))
    )
    w = (
        Window.partitionBy("cm")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cm", "age_months", F.sum("cents").over(w).alias("cum_cents")
    )
    return (
        cum.join(F.broadcast(sz), "cm")
        .select(
            F.col("cm").cast("long").alias("cohort_month_idx"),
            F.col("age_months").cast("long").alias("age_months"),
            F.col("cum_cents").cast("long").alias("cum_cents"),
            F.round(F.col("cum_cents").cast("double") / F.col("cohort_size"), 0)
            .cast("long")
            .alias("ltv_cents_per_customer"),
        )
    )


# ---------------------------------------------------------------------------
# q234 — dyadic order-value histogram
# ---------------------------------------------------------------------------


@query(
    "q234_value_histogram",
    sql="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders)
    SELECT CAST(length(bin(cents)) AS INT) AS bucket_bits,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(cents) AS min_cents,
           max(cents) AS max_cents,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM c GROUP BY 1
    """,
    operators=("A1", "X-histogram", "C6"),
)
def q234_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (dyadic) histogram of order values: bucket = bit
    length of the exact cents amount, i.e. floor(log2)+1 computed
    WITHOUT floats — `length(bin(x))` is pure integer/string work in
    both engines (the q195 HLL rank lesson: never floor(log2(x)), the
    libm log2 of a value one ulp under a power of two differs across
    platforms). Log-spaced histograms are the standard first look at
    heavy-tailed value distributions; one map + ONE ~40-bucket
    aggregate, all exact integers."""
    o = catalog.load(spark, sf_dir, "orders")
    c = o.select(_cents(F.col("o_totalprice")).alias("cents"))
    return c.groupBy(
        F.length(F.bin(F.col("cents"))).cast("int").alias("bucket_bits")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# q237 — local clustering coefficient
# ---------------------------------------------------------------------------


@query(
    "q237_clustering_coefficient",
    sql="""
    WITH ub AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'),
    hc AS (SELECT h FROM (SELECT h, count(*) AS nu FROM ub GROUP BY 1)
           WHERE nu <= 40),
    sm AS (SELECT u, h FROM ub JOIN hc USING (h)),
    e AS (SELECT DISTINCT a.u AS u, b.u AS v
          FROM sm a JOIN sm b USING (h) WHERE a.u < b.u),
    nbr AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS (SELECT node, count(*) AS d FROM nbr GROUP BY 1
            HAVING count(*) >= 2),
    wedge AS (
      SELECT a.node, a.nbr AS wa, b.nbr AS wb
      FROM nbr a JOIN nbr b
        ON a.node = b.node AND a.nbr < b.nbr),
    tri AS (
      SELECT w.node, count(*) AS triangles
      FROM wedge w JOIN e ON w.wa = e.u AND w.wb = e.v
      GROUP BY 1)
    SELECT d.node AS user_id,
           CAST(d.d AS BIGINT) AS degree,
           CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
           round(2.0 * coalesce(t.triangles, 0)
                 / (CAST(d.d AS DOUBLE) * (d.d - 1)), 6) AS clustering_coef
    FROM deg d LEFT JOIN tri t ON d.node = t.node
    """,
    operators=("J-star", "A-distinct", "X-clustering-coef", "J2"),
)
def q237_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the q224 co-purchase graph: for
    every node of degree ≥ 2, the fraction of its neighbor pairs that
    are themselves connected, cc = 2·T/(d·(d−1)) — the standard
    community-density fingerprint next to q150's global triangle
    count. Counting routes through the DEGREE-ORIENTED
    operators.graph.triangle_counts (each triangle enumerated as
    exactly one oriented wedge, O(√m)-bounded out-degrees): the r10
    A/B had kept the naive center-keyed wedge join on this capped
    graph, but the r12 re-run at current constants flipped it —
    oriented wins at BOTH scales (sf0.1: 6.9 s vs 11.6 s naive;
    sf1: 44.3 s vs 57.7 s; min-of-2, same warm JVM back-to-back) —
    so the stale decision is reversed exactly as the r11 verdict
    asked (What's wrong #2). The d ≥ 2 filter makes the ratio's
    denominator structurally positive; counts are exact ints."""
    from portfolio1_etl_spark.operators.graph import triangle_counts

    edges, nbr = _copurchase_graph(spark, sf_dir)
    deg = (
        nbr.groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 2)
    )
    tri = triangle_counts(edges)
    return (
        deg.join(tri, "node", "left")
        .select(
            F.col("node").alias("user_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("triangles"),
            F.round(
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("d").cast("double") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coef"),
        )
    )


# ---------------------------------------------------------------------------
# q254 — GNN-style neighborhood feature aggregation (r10)
# ---------------------------------------------------------------------------


@query(
    "q254_neighborhood_features",
    sql="""
    WITH ub AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase'),
    hc AS (SELECT h FROM (SELECT h, count(*) AS nu FROM ub GROUP BY 1)
           WHERE nu <= 40),
    sm AS (SELECT u, h FROM ub JOIN hc USING (h)),
    e AS (SELECT DISTINCT a.u AS u, b.u AS v
          FROM sm a JOIN sm b USING (h) WHERE a.u < b.u),
    nbr AS (SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v, u FROM e),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY 1),
    hop1 AS (
      SELECT n.node,
             CAST(sum(d2.deg) AS BIGINT) AS nbr_deg_sum,
             CAST(max(d2.deg) AS BIGINT) AS nbr_deg_max
      FROM nbr n JOIN deg d2 ON n.nbr = d2.node
      GROUP BY 1),
    hop2 AS (
      SELECT a.node,
             CAST(count(DISTINCT b.nbr) AS BIGINT) AS two_hop_reach
      FROM nbr a JOIN nbr b ON a.nbr = b.node
      WHERE b.nbr <> a.node
      GROUP BY 1)
    SELECT d.node AS user_id, d.deg,
           h1.nbr_deg_sum, h1.nbr_deg_max,
           round(CAST(h1.nbr_deg_sum AS DOUBLE) / d.deg, 6) AS avg_nbr_deg,
           CAST(coalesce(h2.two_hop_reach, 0) AS BIGINT) AS two_hop_reach
    FROM deg d
    JOIN hop1 h1 ON d.node = h1.node
    LEFT JOIN hop2 h2 ON d.node = h2.node
    """,
    operators=("X-graph-features", "X-message-passing", "A1", "J1"),
)
def q254_neighborhood_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN-style neighborhood feature table on the q224 co-purchase
    graph — one round of message passing computed relationally: per
    node, its degree, the sum/max of neighbor degrees (the 2-walk
    count — exactly what a sum-aggregator GNN layer sees), the mean
    neighbor degree, and the distinct 2-hop reach (friends-of-friends
    minus self). This is the feature-prep pass a graph-ML pipeline
    runs before training an embedding model. Hub hours are df-capped
    BEFORE edge enumeration (q71 excision), so the hop-2 self-join is
    bounded deg² on a capped graph; both sides of that join are
    explicitly repartitioned — AQE's byte-based coalescing cannot see
    the probe-side pair explosion (the q224 lesson). All features are
    exact integers; the one division rounds to 6 dp and deg ≥ 1 by
    construction (nodes exist only via edges)."""
    _, nbr = _copurchase_graph(spark, sf_dir)
    # nbr fans out four ways (deg, hop1, both hop2 sides) — materialize
    # once instead of re-running the edge self-join per branch
    nbr = nbr.localCheckpoint(eager=True)
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    hop1 = (
        nbr.join(
            deg.select(F.col("node").alias("nbr"), F.col("deg").alias("d2")),
            "nbr",
        )
        .groupBy("node")
        .agg(
            F.sum("d2").cast("long").alias("nbr_deg_sum"),
            F.max("d2").cast("long").alias("nbr_deg_max"),
        )
    )
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    na = nbr.select(F.col("node").alias("src"), F.col("nbr").alias("mid")).repartition(
        npart, "mid"
    )
    nb = nbr.select(F.col("node").alias("mid"), F.col("nbr").alias("dst")).repartition(
        npart, "mid"
    )
    # SYMMETRY HALVING (r12): 2-hop reachability is symmetric in an
    # undirected graph, so enumerate each unordered pair ONCE
    # (dst > src — also subsumes the dst != src self-walk filter) and
    # credit both endpoints after the distinct. The Σdeg² join output
    # is unchanged, but the distinct-aggregation input halves — the
    # r12 sf1 profile put ~100% of this query's scale cost in exactly
    # that aggregate (scaling ratio 12.71× = 10× data × ~1.26×
    # throughput decay; Σdeg² itself measured EXACTLY 10.0× — linear).
    # Wider shuffles were A/B'd and rejected: npart 32 → 103 s,
    # 128 → 131 s, 400 → 151 s at sf1 for the old both-directions
    # shape; the aggregate is throughput-bound, not spill-bound.
    pairs = (
        na.join(nb, "mid")
        .filter(F.col("dst") > F.col("src"))
        .select("src", "dst")
        .distinct()
    )
    hop2 = (
        pairs.select(F.col("src").alias("node"))
        .unionAll(pairs.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("two_hop_reach"))
    )
    # LEFT join: a node whose only 2-hop walks backtrack to itself
    # (isolated single-edge component) still belongs in the feature
    # table, with two_hop_reach = 0
    return (
        deg.join(hop1, "node")
        .join(hop2, "node", "left")
        .select(
            F.col("node").alias("user_id"),
            "deg",
            "nbr_deg_sum",
            "nbr_deg_max",
            F.round(
                F.col("nbr_deg_sum").cast("double") / F.col("deg"), 6
            ).alias("avg_nbr_deg"),
            F.coalesce(F.col("two_hop_reach"), F.lit(0))
            .cast("long")
            .alias("two_hop_reach"),
        )
    )


# ---------------------------------------------------------------------------
# q255 — deterministic negative sampling for link-prediction training (r10)
# ---------------------------------------------------------------------------


@query(
    "q255_negative_sampling",
    sql="""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    pmax AS (SELECT max(p_partkey) AS pm FROM part),
    corrupted AS (
      SELECT u, p,
             1 + ('0x' || substr(md5('neg-' || u::VARCHAR || ':'
                                      || p::VARCHAR), 1, 12))::BIGINT
                 % pmax.pm AS p_neg
      FROM pos CROSS JOIN pmax),
    kept AS (
      SELECT c.u, c.p_neg,
             CASE WHEN pp.u IS NULL THEN 1 ELSE 0 END AS is_clean
      FROM corrupted c
      LEFT JOIN pos pp ON c.u = pp.u AND c.p_neg = pp.p),
    seg AS (SELECT c_custkey, c_mktsegment FROM customer)
    SELECT s.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_pos,
           CAST(sum(k.is_clean) AS BIGINT) AS n_neg_kept,
           CAST(count(*) - sum(k.is_clean) AS BIGINT) AS n_collisions,
           round(CAST(count(*) - sum(k.is_clean) AS DOUBLE)
                 / count(*), 6) AS collision_rate
    FROM kept k JOIN seg s ON k.u = s.c_custkey
    GROUP BY 1
    """,
    operators=("X-negative-sampling", "X-training-pairs", "J-anti", "A1"),
)
def q255_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for link-prediction /
    recommender training on the customer→part interaction bipartite
    graph: every positive (customer, part) pair is tail-corrupted to a
    pseudo-random part via the portable 48-bit md5 hash (Spark
    conv(md5) ≡ DuckDB '0x'||md5 cast, the dedup-layer family — NEVER
    rand(), so the sample is reproducible across engines and runs),
    then collisions with true positives are detected by a left
    anti-style join and reported per market segment. This is the
    labeled-pair factory a two-tower model trains on; the census
    output is its quality scoreboard (collision rate ≈ user activity
    density). Linear in the positive set — corruption is a map, the
    collision check shuffles on (u, p) — and the max-partkey rides in
    as a broadcast 1-row aggregate. Counts are exact integers; the one
    division rounds to 6 dp (n_pos ≥ 1 per emitted segment)."""
    o = catalog.load(spark, sf_dir, "orders")
    li = catalog.load(spark, sf_dir, "lineitem")
    part = catalog.load(spark, sf_dir, "part")
    cust = catalog.load(spark, sf_dir, "customer")
    pos = (
        o.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pmax = part.agg(F.max("p_partkey").alias("pm"))
    h48 = F.expr(
        "cast(conv(substring(md5(concat('neg-', cast(u as string), ':', "
        "cast(p as string))), 1, 12), 16, 10) as bigint)"
    )
    corrupted = pos.crossJoin(F.broadcast(pmax)).select(
        "u", "p", (F.lit(1) + h48 % F.col("pm")).alias("p_neg")
    )
    pos_probe = pos.select(
        F.col("u").alias("pu"), F.col("p").alias("pp")
    )
    kept = corrupted.join(
        pos_probe,
        (F.col("u") == F.col("pu")) & (F.col("p_neg") == F.col("pp")),
        "left",
    ).select(
        "u",
        F.when(F.col("pu").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_clean"
        ),
    )
    return (
        kept.join(
            cust.select(
                F.col("c_custkey").alias("u"),
                F.col("c_mktsegment").alias("segment"),
            ),
            "u",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.sum("is_clean").cast("long").alias("n_neg_kept"),
            (F.count(F.lit(1)) - F.sum("is_clean"))
            .cast("long")
            .alias("n_collisions"),
            F.round(
                (F.count(F.lit(1)) - F.sum("is_clean")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("collision_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q271 — synchronous label-propagation communities (r11)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_sql() -> str:
    ctes = [
        """ub AS (
      SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS h
      FROM events WHERE event_type = 'purchase')""",
        "hc AS (SELECT h FROM ub GROUP BY h HAVING count(*) <= 40)",
        "sm AS (SELECT ub.u, ub.h FROM ub JOIN hc ON ub.h = hc.h)",
        """edges AS (
      SELECT DISTINCT a.u AS u, b.u AS v
      FROM sm a JOIN sm b ON a.h = b.h AND a.u < b.u)""",
        """nbr AS (
      SELECT u AS node, v AS nbr FROM edges
      UNION ALL
      SELECT v AS node, u AS nbr FROM edges)""",
        "l0 AS (SELECT DISTINCT node, node AS label FROM nbr)",
    ]
    for t in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""ct{t} AS (
      SELECT g.node, l.label, count(*) AS c
      FROM nbr g JOIN l{t - 1} l ON g.nbr = l.node
      GROUP BY 1, 2)""",
        )
        ctes.append(
            f"""l{t} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM ct{t}) WHERE rn = 1)""",
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(node) AS BIGINT) AS sum_members
    FROM l{_LPA_ROUNDS} GROUP BY 1
    """


@query(
    "q271_label_propagation",
    sql=_lpa_sql(),
    operators=("X-community-detection", "X-lpa", "W-rank", "A1"),
)
def q271_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS majority label propagation
    on the hub-capped co-purchase graph (q224/q237/q254's shared
    builder): every node starts in its own community, and each round
    adopts the most frequent label among its neighbors with the
    deterministic tie-break (count DESC, label ASC) — the async
    random-order LPA of the literature is unreproducible across
    engines AND across Spark task schedules, so the synchronous
    variant is the only one an oracle gate can hold (same reasoning
    as q255's never-rand() sampling). Three rounds; each is one
    shuffle-join of the static neighbor list against the O(nodes)
    label frontier plus a node-partitioned window (bounded groups —
    never the partitionless shape ranks.py exists to kill), and each
    round's frontier routes through checkpointing.materialize (the
    pagerank/q243 discipline: bounded lineage, one round replayed on
    executor loss, not the unrolled tree). The oracle unrolls the
    identical rounds as CTEs — integer counts and min-label
    tie-breaks make every round bit-deterministic. Output is the
    community census with a membership checksum."""
    from portfolio1_etl_spark.operators.checkpointing import materialize

    _, nbr = _copurchase_graph(spark, sf_dir)
    nbr = materialize(nbr)
    labels = nbr.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label").asc())
    for _ in range(_LPA_ROUNDS):
        counts = (
            nbr.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = materialize(
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.groupBy(F.col("label").cast("long").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("node").cast("long").alias("sum_members"),
    )


# ---------------------------------------------------------------------------
# q281 — item-item collaborative-filtering similarity (r11)
# ---------------------------------------------------------------------------


@query(
    "q281_item_item_similarity",
    sql="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    item AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS co_cnt
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sym AS (
      SELECT part_a AS item, part_b AS other, co_cnt FROM pair
      UNION ALL
      SELECT part_b AS item, part_a AS other, co_cnt FROM pair),
    scored AS (
      SELECT s.item, s.other,
             s.co_cnt / sqrt(CAST(ia.cnt AS DOUBLE) * ib.cnt) AS sim,
             row_number() OVER (
               PARTITION BY s.item
               ORDER BY s.co_cnt / sqrt(CAST(ia.cnt AS DOUBLE) * ib.cnt)
                        DESC, s.other ASC) AS rn
      FROM sym s
      JOIN item ia ON s.item = ia.l_partkey
      JOIN item ib ON s.other = ib.l_partkey)
    SELECT item, other, round(sim, 6) AS cosine_sim,
           CAST(rn AS BIGINT) AS rank
    FROM scored WHERE rn <= 3
    """,
    operators=("X-recommender", "X-item-item-cf", "J1", "W-rank"),
)
def q281_item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering — the neighborhood
    recommender's core table (q220's association rules are the
    directional/confidence view; this is the symmetric cosine view a
    k-NN recommender serves from): co-occurrence counts over distinct
    order baskets, cosine similarity co/√(cnt_a·cnt_b), top-3
    neighbors per item. Determinism: the product of exact integer
    counts casts to double exactly (< 2^53) and IEEE sqrt is
    CORRECTLY ROUNDED in both engines, so sim is bit-identical and
    the (sim DESC, other ASC) rank never diverges. Scale shape: the
    basket self-join is support-floored (≥2 co-orders) and its
    candidate volume is bounded by per-order basket size (the q220
    bound); the rank window partitions by ITEM — never global; at
    100 TB the serving table shards on item, which is exactly this
    output's grain."""
    li = catalog.load(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a, c = b.alias("a"), b.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("c.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_cnt"))
        .filter(F.col("co_cnt") >= 2)
    )
    sym = pair.select(
        F.col("part_a").alias("item"), F.col("part_b").alias("other"), "co_cnt"
    ).unionAll(
        pair.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("other"),
            "co_cnt",
        )
    )
    ia = item.select(F.col("l_partkey").alias("item"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("other"), F.col("cnt").alias("cnt_b"))
    sim = F.col("co_cnt") / F.sqrt(
        F.col("cnt_a").cast("double") * F.col("cnt_b")
    )
    scored = (
        sym.join(ia, "item")
        .join(ib, "other")
        .select(
            "item",
            "other",
            sim.alias("sim"),
            F.row_number()
            .over(
                Window.partitionBy("item").orderBy(
                    sim.desc(), F.col("other").asc()
                )
            )
            .alias("rn"),
        )
    )
    return scored.filter(F.col("rn") <= 3).select(
        "item",
        "other",
        F.round("sim", 6).alias("cosine_sim"),
        F.col("rn").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q284 — recommender evaluation: leave-one-out basket hit rate (r11)
# ---------------------------------------------------------------------------


@query(
    "q284_recommender_eval",
    sql="""
    WITH days AS (
      SELECT d, row_number() OVER (ORDER BY d) AS rnk,
             count(*) OVER () AS nd
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)),
    cutoff AS (
      SELECT d AS cut FROM days
      WHERE rnk = CAST(ceil(0.8 * nd) AS BIGINT)),
    ob AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders),
    b AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey, ob.d
      FROM lineitem l JOIN ob ON l.l_orderkey = ob.o_orderkey),
    train AS (
      SELECT l_orderkey, l_partkey FROM b CROSS JOIN cutoff
      WHERE d <= cut),
    test AS (
      SELECT l_orderkey, l_partkey FROM b CROSS JOIN cutoff
      WHERE d > cut),
    item AS (SELECT l_partkey, count(*) AS cnt FROM train GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS co_cnt
      FROM train a JOIN train c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sym AS (
      SELECT part_a AS item, part_b AS other, co_cnt FROM pair
      UNION ALL
      SELECT part_b, part_a, co_cnt FROM pair),
    recs AS (
      SELECT item, other FROM (
        SELECT s.item, s.other,
               row_number() OVER (
                 PARTITION BY s.item
                 ORDER BY s.co_cnt / sqrt(CAST(ia.cnt AS DOUBLE) * ib.cnt)
                          DESC, s.other ASC) AS rn
        FROM sym s
        JOIN item ia ON s.item = ia.l_partkey
        JOIN item ib ON s.other = ib.l_partkey)
      WHERE rn <= 3),
    targets AS (
      SELECT t.l_orderkey, t.l_partkey AS target, q.l_partkey AS query_item
      FROM test t JOIN test q
        ON t.l_orderkey = q.l_orderkey AND t.l_partkey <> q.l_partkey),
    hits AS (
      SELECT DISTINCT tg.l_orderkey, tg.target
      FROM targets tg
      JOIN recs r ON tg.query_item = r.item AND tg.target = r.other),
    n_targets AS (
      SELECT count(*) AS nt FROM
        (SELECT DISTINCT l_orderkey, target FROM targets)),
    n_hits AS (SELECT count(*) AS nh FROM hits),
    counts AS (
      SELECT (SELECT count(DISTINCT l_orderkey) FROM train) AS n_train,
             (SELECT count(DISTINCT l_orderkey) FROM test) AS n_test)
    SELECT CAST(c.n_train AS BIGINT) AS n_train_orders,
           CAST(c.n_test AS BIGINT) AS n_test_orders,
           CAST(t.nt AS BIGINT) AS n_targets,
           CAST(h.nh AS BIGINT) AS n_hits,
           round(CAST(h.nh AS DOUBLE) / t.nt, 6) AS hit_rate
    FROM counts c CROSS JOIN n_targets t CROSS JOIN n_hits h
    """,
    operators=("X-recommender-eval", "X-temporal-split", "J1", "W-rank"),
)
def q284_recommender_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation — the scoreboard q281's serving
    table answers to (the q114/q129 recall-board pattern for the
    recommendation family): a TEMPORAL split (train = baskets up to
    the 80th-percentile order day, picked as an exact order statistic
    of the date domain — never a random split, which both leaks
    future co-purchases backwards in time and is unreproducible),
    the item-item cosine top-3 rebuilt on train baskets only, then
    leave-one-out basket evaluation on test: each held-out item is a
    hit if ANY other item in its basket recommends it. The hit rate
    over all (basket, target) pairs is the headline. Scale shape:
    identical to q281 for the model build; the eval stage's
    basket-pair explosion is bounded by basket size (TPC-H ~7), and
    the hit probe is an equi-join of (query_item, target) against
    the 3-rows-per-item rec table. Integer counts, one rounded
    division."""
    o = catalog.load(spark, sf_dir, "orders")
    li = catalog.load(spark, sf_dir, "lineitem")
    days = (
        o.select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
        .select(
            "d",
            F.row_number().over(Window.orderBy("d")).alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("nd"),
        )
    )
    cutoff = days.filter(
        F.col("rnk") == F.ceil(0.8 * F.col("nd")).cast("long")
    ).select(F.col("d").alias("cut"))
    b = (
        li.select("l_orderkey", "l_partkey")
        .join(
            o.select(
                "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_partkey", "d")
        .distinct()
        .crossJoin(F.broadcast(cutoff))
    )
    train = b.filter(F.col("d") <= F.col("cut")).select(
        "l_orderkey", "l_partkey"
    )
    test = b.filter(F.col("d") > F.col("cut")).select(
        "l_orderkey", "l_partkey"
    )
    item = train.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a, c = train.alias("a"), train.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("c.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_cnt"))
        .filter(F.col("co_cnt") >= 2)
    )
    sym = pair.select(
        F.col("part_a").alias("item"), F.col("part_b").alias("other"), "co_cnt"
    ).unionAll(
        pair.select(
            F.col("part_b").alias("item"),
            F.col("part_a").alias("other"),
            "co_cnt",
        )
    )
    ia = item.select(F.col("l_partkey").alias("item"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("other"), F.col("cnt").alias("cnt_b"))
    sim = F.col("co_cnt") / F.sqrt(F.col("cnt_a").cast("double") * F.col("cnt_b"))
    recs = (
        sym.join(ia, "item")
        .join(ib, "other")
        .select(
            "item",
            "other",
            F.row_number()
            .over(
                Window.partitionBy("item").orderBy(sim.desc(), F.col("other").asc())
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .select("item", "other")
    )
    t, q2 = test.alias("t"), test.alias("q")
    targets = t.join(
        q2,
        (F.col("t.l_orderkey") == F.col("q.l_orderkey"))
        & (F.col("t.l_partkey") != F.col("q.l_partkey")),
    ).select(
        F.col("t.l_orderkey").alias("okey"),
        F.col("t.l_partkey").alias("target"),
        F.col("q.l_partkey").alias("query_item"),
    )
    hits = (
        targets.join(
            recs,
            (F.col("query_item") == F.col("item"))
            & (F.col("target") == F.col("other")),
        )
        .select("okey", "target")
        .distinct()
    )
    nt = targets.select("okey", "target").distinct().agg(
        F.count(F.lit(1)).alias("nt")
    )
    nh = hits.agg(F.count(F.lit(1)).alias("nh"))
    cnts = train.agg(
        F.countDistinct("l_orderkey").alias("n_train")
    ).crossJoin(test.agg(F.countDistinct("l_orderkey").alias("n_test")))
    return (
        cnts.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            F.col("n_train").cast("long").alias("n_train_orders"),
            F.col("n_test").cast("long").alias("n_test_orders"),
            F.col("nt").cast("long").alias("n_targets"),
            F.col("nh").cast("long").alias("n_hits"),
            F.round(F.col("nh").cast("double") / F.col("nt"), 6).alias(
                "hit_rate"
            ),
        )
    )
