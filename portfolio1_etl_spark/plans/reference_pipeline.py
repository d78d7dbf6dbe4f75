"""The reference's EP3 analytics pipeline (portfolio-etl.py:581-775),
re-expressed Spark-first over the driver tables.

Transposition (FIXTURES.md §B): lineitem ≈ the unioned multi-channel
``sales`` frame (l_partkey ≈ sku, l_quantity ≈ qty), supplier ≈ the
channel/site tag, part ≈ skus_map / sales_map / inventory. Every stage
of the reference dataflow appears: canonical (sku, qty, site)
normalization → cleaning → retail aggregate → wholesale multiplier
join → inventory decrement (in relational.q11) → cost/brand/date
enrichment → brand reports → the weekly lookback window.

Typed keys, late rendering (late materialization, Abadi et al., ICDE
2007): the fact stream carries the integral ``l_partkey``, joins to
``part`` compare ``l_partkey = p_partkey``, the site tag is cleaned on
the broadcast supplier rows, and the wide strings — the ``sku`` text,
the month name — are built only above the aggregate, on the rows that
survive. No per-lineitem string is ever built. This is exact against
the reference's string keys: both part keys are integral
(``catalog.load`` fails on any other footer type), casting an integer
to a string is injective, and ``lower``/``trim`` leave its digits and
sign alone, so two cleaned key strings are equal exactly when the two
integers are — negative keys included — and a NULL key is NULL either
way. The oracle SQL keeps the reference's string form, so oracle parity
checks the equivalence.

Known reference bugs are consciously corrected per SURVEY.md §4.3
(no double union of a channel, masks computed on the frame's own
columns, qty kept numeric end-to-end).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions import dsum_product
from portfolio1_etl_spark.plans.registry import query


def canonical_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical (sku, qty, site) order-line model every connector
    emits (portfolio-etl.py:215, :252; projections :73, :226, :276,
    :328), built from lineitem with the channel tag joined from the
    broadcast supplier dim. Cleaning pass = lowercase keys (:605), trim
    (:607), numeric qty end-to-end (:613 — corrected per §4.3.5).

    The sku stays the typed ``l_partkey`` (bigint): its cleaned string
    ``lower(trim(cast(l_partkey as string)))`` is a one-to-one rendering
    (see the module docstring), so consumers group and join on the
    integer and render the string with :func:`_sku` above their
    aggregate. ``site`` is cleaned once per supplier row, before the
    join."""
    li = catalog.load(spark, sf_dir, "lineitem")
    s = catalog.load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.lower(F.trim(F.col("s_name"))).alias("site")
    )
    return li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).select(
        "l_partkey",
        F.col("l_quantity").cast("double").alias("qty"),
        "site",
        F.col("l_shipdate").alias("ship_ts"),
    )


def _sku() -> Column:
    """The reference's cleaned sku string, rendered from ``l_partkey``."""
    return F.lower(F.trim(F.col("l_partkey").cast("string"))).alias("sku")


def _part_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sales_map (portfolio-etl.py:661-668) keyed on the typed part key."""
    return catalog.load(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("cost"), F.col("p_brand").alias("brand")
    )


_CANONICAL_SALES_SQL = """
      SELECT
        lower(trim(CAST(l.l_partkey AS VARCHAR))) AS sku,
        CAST(l.l_quantity AS DOUBLE)              AS qty,
        lower(trim(s.s_name))                     AS site,
        l.l_shipdate                              AS ship_ts
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


@query(
    "q40_canonical_sales",
    sql=f"""
    WITH sales AS ({_CANONICAL_SALES_SQL})
    SELECT site, count(*) AS n_rows, sum(qty) AS qty
    FROM sales
    WHERE sku NOT LIKE '%sku%' AND sku IS NOT NULL
    GROUP BY site
    """,
    operators=("P1", "P2", "P3", "C1", "C2", "A4"),
)
def q40_canonical_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel row counts over the cleaned canonical model — the
    reference's per-channel operational prints (portfolio-etl.py
    :537-540, :599) as a real aggregate. The oracle's ``sku NOT LIKE
    '%sku%' AND sku IS NOT NULL`` is the stray-header/sentinel strip
    (:602-604) with the NULL-safety correction from SURVEY.md §2.4 W3."""
    sales = canonical_sales(spark, sf_dir)
    return (
        # The sentinel strip reduces to IS NOT NULL on the typed key: a
        # cleaned integer string holds only digits and a sign, so it
        # never contains 'sku'.
        sales.filter(F.col("l_partkey").isNotNull())
        .groupBy("site")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("qty").alias("qty"))
    )


@query(
    "q41_soldvalue_retail",
    sql=f"""
    WITH sales AS ({_CANONICAL_SALES_SQL})
    SELECT sku, sum(qty) AS qty
    FROM sales
    WHERE sku NOT LIKE '%sku%' AND sku IS NOT NULL
    GROUP BY sku
    """,
    operators=("A1", "C1", "C2", "C4", "C5", "P1"),
)
def q41_soldvalue_retail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retail aggregate ``soldvalue`` (portfolio-etl.py:610-615):
    project [sku, qty] → filter → cast → groupby-sum. The reference's
    cosmetic pre-sort (:614) is dropped — it feeds a groupby and is
    semantically dead (SURVEY.md §2.7 O1). Grouped on the typed key,
    with the sentinel strip as in q40; the sku string is rendered per
    group."""
    sales = canonical_sales(spark, sf_dir)
    return (
        sales.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.sum("qty").alias("qty"))
        .select(_sku(), "qty")
    )


@query(
    "q42_wholesale_multiplier",
    sql=f"""
    WITH sales AS ({_CANONICAL_SALES_SQL}),
    soldvalue AS (
      SELECT sku, sum(qty) AS qty FROM sales GROUP BY sku
    ),
    skus_map AS (
      SELECT lower(trim(CAST(p_partkey AS VARCHAR))) AS sku_part,
             p_brand AS sku_name,
             CAST(p_size AS DOUBLE) AS multiplier
      FROM part
    )
    SELECT m.sku_name AS sku, sum(s.qty * m.multiplier) AS qty
    FROM soldvalue s RIGHT JOIN skus_map m ON s.sku = m.sku_part
    GROUP BY m.sku_name
    """,
    operators=("J1", "P5", "A2"),
)
def q42_wholesale_multiplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retail→wholesale map (portfolio-etl.py:621-628): RIGHT join
    onto skus_map (every map row kept), result = qty × multiplier
    (:625), re-aggregated by wholesale name (:627-628). Unmatched map
    rows → NULL qty → NULL product → dropped by NULL-skipping SUM —
    replicated on purpose (SURVEY.md §4.3.6). skus_map derives from the
    part dim (sku_part = partkey, sku_name = brand, multiplier = size).

    No broadcast hint on ``skus_map``: the preserved side of a right
    outer join cannot be broadcast (HintErrorLogger WARN + silent
    fallback), and neither leg of the flipped LEFT form qualifies
    either — the planner's choice on the typed part key is the honest
    plan, and tools/plan_audit.py asserts the registry optimizes
    hint-WARN-free. The NULL-key group of ``soldvalue`` matches no map
    row, as the NULL sku string matches none in the oracle."""
    skus_map = catalog.load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_brand").alias("sku_name"),
        F.col("p_size").cast("double").alias("multiplier"),
    )
    soldvalue = (
        canonical_sales(spark, sf_dir)
        .groupBy("l_partkey")
        .agg(F.sum("qty").alias("qty"))
    )
    return (
        soldvalue.join(skus_map, soldvalue.l_partkey == skus_map.p_partkey, "right")
        .groupBy(F.col("sku_name").alias("sku"))
        .agg(F.sum(F.col("qty") * F.col("multiplier")).alias("qty"))
    )


@query(
    "q43_enriched_sales",
    sql=f"""
    WITH sales AS ({_CANONICAL_SALES_SQL}),
    sales_map AS (
      SELECT lower(trim(CAST(p_partkey AS VARCHAR))) AS map_sku,
             p_retailprice AS cost, p_brand AS brand
      FROM part
    )
    SELECT
      m.brand,
      year(s.ship_ts)      AS yr,
      monthname(s.ship_ts) AS month_name,
      count(*)             AS n_lines,
      CAST(round(SUM(CAST(s.qty * m.cost AS DECIMAL(28,8))), 2) AS DOUBLE) AS total
    FROM sales s LEFT JOIN sales_map m ON trim(s.sku) = trim(m.map_sku)
    GROUP BY 1, 2, 3
    """,
    operators=("J3", "C10", "C11", "P5", "P6"),
)
def q43_enriched_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cost/brand/date enrichment (portfolio-etl.py:659-691): sales
    LEFT JOIN sales_map on trimmed keys (:661-668), total = qty × cost
    (:683), Year + English month name (:674-675) — taken from the
    line's ship date rather than the reference's nondeterministic
    ``datetime.now()`` (:672) so the oracle is reproducible.

    The trimmed-key join is the typed ``l_partkey = p_partkey``, and the
    groups are (brand, year, month number): a month number names one
    month, so the groups are the oracle's, and the month name is
    formatted once per group."""
    sales_map = _part_map(spark, sf_dir)
    sales = canonical_sales(spark, sf_dir)
    return (
        sales.join(F.broadcast(sales_map), sales.l_partkey == sales_map.p_partkey, "left")
        .groupBy("brand", F.year("ship_ts").alias("yr"), F.month("ship_ts").alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_product(F.col("qty") * F.col("cost")).alias("total"),
        )
        .select(
            "brand",
            F.col("yr").cast("long").alias("yr"),
            F.date_format(F.make_date("yr", "m", F.lit(1)), "MMMM").alias("month_name"),
            "n_lines",
            "total",
        )
    )


@query(
    "q44_brand_report",
    sql=f"""
    WITH sales AS ({_CANONICAL_SALES_SQL}),
    sales_map AS (
      SELECT lower(trim(CAST(p_partkey AS VARCHAR))) AS map_sku,
             p_retailprice AS cost, p_brand AS brand
      FROM part
    ),
    enriched AS (
      SELECT s.sku, s.qty, m.cost, m.brand
      FROM sales s LEFT JOIN sales_map m ON s.sku = m.map_sku
    )
    SELECT sku, cost, sum(qty) AS qty,
           CAST(round(SUM(CAST(qty * cost AS DECIMAL(28,8))), 2) AS DOUBLE) AS total
    FROM enriched
    WHERE brand IN ('Brand#1', 'Brand#2', 'Brand#3')
    GROUP BY sku, cost
    """,
    operators=("A3", "W4", "W5", "P5", "C1", "C2", "C4"),
)
def q44_brand_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-brand report (portfolio-etl.py:688-689, :720-743):
    brand-filter then groupby (sku, cost) summing qty and total. The
    brand mask is computed on this frame's own ``brand`` column — the
    intended semantics of the reference's misaligned-index bug at :769
    (SURVEY.md §4.3.2). Grouped on the typed key; the sku string is
    rendered per group."""
    sales_map = _part_map(spark, sf_dir)
    sales = canonical_sales(spark, sf_dir)
    return (
        sales.join(F.broadcast(sales_map), sales.l_partkey == sales_map.p_partkey, "left")
        .filter(F.col("brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .groupBy("l_partkey", "cost")
        .agg(
            F.sum("qty").alias("qty"),
            dsum_product(F.col("qty") * F.col("cost")).alias("total"),
        )
        .select(_sku(), "cost", "qty", "total")
    )


@query(
    "q45_weekly_lookback",
    sql="""
    SELECT o_orderpriority AS priority, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >  TIMESTAMP '2001-08-01 00:00:00' - INTERVAL 7 DAY
      AND o_orderdate <= TIMESTAMP '2001-08-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    operators=("W2", "C12"),
)
def q45_weekly_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly 7-day lookback every connector pushes into its API
    query (portfolio-etl.py:42, :102, :158, :194, :287, :336, :379) —
    anchored at a fixed watermark instead of ``now()`` so the oracle is
    reproducible. At scale this predicate is the partition-pruning key."""
    o = catalog.load(spark, sf_dir, "orders")
    anchor = F.lit("2001-08-01").cast("timestamp_ntz")
    return (
        o.filter(
            (F.col("o_orderdate") > anchor - F.expr("INTERVAL 7 DAY"))
            & (F.col("o_orderdate") <= anchor)
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )
