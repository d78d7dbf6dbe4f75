"""Relational core queries — SURVEY.md §2.3-2.10 operator inventory.

Each query exercises one operator family from the reference
(`/root/reference/portfolio-etl.py`, cited per query) re-expressed as a
declarative Spark plan over the driver's TPC-H-ish tables, paired with
the ANSI-SQL oracle DuckDB runs over the same parquet.

Scale notes (the part that matters at 100 TB):
- dimension joins carry an explicit ``F.broadcast`` hint — part/nation/
  region/customer at dim scale must never shuffle the fact table;
- fact×fact joins (lineitem ⋈ orders) are left to Catalyst/AQE: they
  become sort-merge joins co-partitioned on the join key;
- every scan projects and filters as early as possible so Catalyst
  pushes the predicate + column pruning into the parquet reader;
- aggregates are expressed as groupBy().agg() → partial (map-side)
  aggregation happens before the shuffle automatically.

Float determinism: money aggregates go through DECIMAL (see
``functions/exact.py``) so results are bitwise-identical to the DuckDB
oracle with no rounding anywhere. Integer-valued quantity sums are
already exact in plain double.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions import dmoney, dsum_money, dsum_product
from portfolio1_etl_spark.plans.registry import query


def _ntz(s: str):
    return F.lit(s).cast("timestamp_ntz")


# ---------------------------------------------------------------------------
# Aggregation family (A1-A4) — flagship
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    sql="""
    SELECT
      l_returnflag, l_linestatus,
      sum(l_quantity)                                                 AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)     AS sum_base_price,
      CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE)
                                                                      AS sum_disc_price,
      CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,8))), 2) AS DOUBLE)
                                                                      AS sum_charge,
      sum(l_quantity) / count(*)                                      AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)      AS avg_disc,
      count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    operators=("A1", "A3", "W2", "P5", "C5"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's groupBy-sum pipeline (portfolio-etl.py
    :602-615) generalized to the TPC-H Q1 shape — filter → project →
    hash-aggregate with map-side partials. One shuffle, 6 groups."""
    li = catalog.load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= _ntz("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum_money("l_extendedprice").alias("sum_base_price"),
            dsum_product(disc_price).alias("sum_disc_price"),
            dsum_product(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (dsum_money("l_extendedprice") / n).alias("avg_price"),
            (dsum_money("l_discount") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q02_filter_range",
    sql="""
    SELECT
      count(*)          AS n_rows,
      sum(l_quantity)   AS sum_qty,
      CAST(round(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue_lost
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount > 0.02
      AND l_quantity < 24
      AND l_returnflag <> 'A'
    """,
    operators=("W1", "W2"),
)
def q02_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-window + inequality predicates (portfolio-etl.py:219,
    :263, :325). The conjunction is pushed into the parquet scan
    (PushedFilters) — the reference pushed the same window into its API
    query strings (:43, :109-110)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ntz("1996-01-01"))
        & (F.col("l_shipdate") < _ntz("1997-01-01"))
        & (F.col("l_discount") > 0.02)
        & (F.col("l_quantity") < 24)
        & (F.col("l_returnflag") != "A")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        dsum_product(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue_lost"
        ),
    )


# ---------------------------------------------------------------------------
# Projection family (P1-P7)
# ---------------------------------------------------------------------------


@query(
    "q03_project_derive",
    sql="""
    SELECT
      l_orderkey                      AS order_id,
      l_linenumber                    AS line_no,
      CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8)) AS DOUBLE) AS revenue,
      'walmart'                       AS site
    FROM lineitem
    WHERE l_linenumber = 1
    """,
    operators=("P1", "P2", "P3", "P5"),
)
def q03_project_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename + literal source-tag + derived arithmetic
    (portfolio-etl.py:70 ``df['site']='walmart'``, :625 ``qty*multiplier``,
    :73 projection). Narrow ops — no shuffle at any scale."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") == 1).select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        dmoney(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.lit("walmart").alias("site"),
    )


@query(
    "q04_string_clean",
    sql="""
    SELECT
      lower(trim(p_name))            AS sku,
      upper(p_brand)                 AS brand_uc,
      length(p_name)                 AS name_len,
      substr(p_type, 1, 5)           AS type_prefix,
      p_name || '/' || p_brand       AS tagged,
      replace(p_brand, 'Brand#', 'B') AS brand_short
    FROM part
    WHERE p_name LIKE '%a%'
    """,
    operators=("C1", "C2", "C3", "C4", "P1", "W3"),
)
def q04_string_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's string-cleaning pass — lowercase (portfolio-etl.py
    :605), trim (:607), contains-filter (:602-604) — as one codegen'd
    projection instead of three pandas materializations."""
    p = catalog.load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").contains("a")).select(
        F.lower(F.trim(F.col("p_name"))).alias("sku"),
        F.upper(F.col("p_brand")).alias("brand_uc"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
        F.substring(F.col("p_type"), 1, 5).alias("type_prefix"),
        F.concat(F.col("p_name"), F.lit("/"), F.col("p_brand")).alias("tagged"),
        F.regexp_replace(F.col("p_brand"), "Brand#", "B").alias("brand_short"),
    )


@query(
    "q05_safe_cast",
    sql="""
    SELECT
      p_partkey AS sku,
      try_cast(replace(p_brand, 'Brand#', '') AS DOUBLE) AS brand_num,
      try_cast(p_type AS DOUBLE)                         AS type_num,
      coalesce(try_cast(p_type AS DOUBLE), -1.0)         AS type_num_filled
    FROM part
    """,
    operators=("C6", "C13"),
)
def q05_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pd.to_numeric(errors='coerce')`` parity (portfolio-etl.py
    :680-681): try_cast yields NULL on unparseable input; coalesce is the
    ``fillna`` analogue (:638). Exercises both the success and failure
    paths of the cast."""
    p = catalog.load(spark, sf_dir, "part")
    type_num = F.expr("try_cast(p_type AS DOUBLE)")
    return p.select(
        F.col("p_partkey").alias("sku"),
        F.expr("try_cast(replace(p_brand, 'Brand#', '') AS DOUBLE)").alias("brand_num"),
        type_num.alias("type_num"),
        F.coalesce(type_num, F.lit(-1.0)).alias("type_num_filled"),
    )


@query(
    "q06_date_functions",
    sql="""
    SELECT
      year(o_orderdate)                  AS yr,
      monthname(o_orderdate)             AS month_name,
      strftime(o_orderdate, '%m-%d-%Y')  AS date_str,
      date_trunc('month', o_orderdate)   AS month_start,
      count(*)                           AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1, 2, 3, 4
    """,
    operators=("C8", "C10", "C11", "C12", "A1"),
)
def q06_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date enrichment (portfolio-etl.py:672-678: Year, English month
    name, MM-dd-yyyy formatting) over a pruned date window."""
    o = catalog.load(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= _ntz("1996-01-01"))
            & (F.col("o_orderdate") < _ntz("1996-04-01"))
        )
        .groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.date_format("o_orderdate", "MMMM").alias("month_name"),
            F.date_format("o_orderdate", "MM-dd-yyyy").alias("date_str"),
            F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Union family (U1-U2)
# ---------------------------------------------------------------------------


@query(
    "q07_union_channels",
    sql="""
    WITH unioned AS (
      SELECT o_custkey AS custkey, o_totalprice AS totalprice, 'api' AS site
      FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_custkey AS custkey, CAST(NULL AS DOUBLE) AS totalprice, 'file' AS site
      FROM orders WHERE o_orderpriority = '5-LOW'
    )
    SELECT site, count(*) AS n_rows,
           CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM unioned GROUP BY site
    """,
    operators=("U1", "U2", "P3", "S11"),
)
def q07_union_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-way channel concat (portfolio-etl.py:581-595) as
    ``unionByName(allowMissingColumns=True)`` — pandas concat aligns by
    name and NaN-fills missing columns; so does this (the 'file' branch
    lacks totalprice). NULL-skipping SUM matches pandas NaN-skip."""
    o = catalog.load(spark, sf_dir, "orders")
    api = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("totalprice"),
        F.lit("api").alias("site"),
    )
    file_ = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey"),
        F.lit("file").alias("site"),
    )
    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), [api, file_]
    )
    return unioned.groupBy("site").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum_money("totalprice").alias("total"),
    )


# ---------------------------------------------------------------------------
# Join family (J1-J4 + capability parity)
# ---------------------------------------------------------------------------


@query(
    "q08_broadcast_join",
    sql="""
    SELECT
      p.p_brand AS brand,
      count(*)  AS n_lines,
      CAST(round(SUM(CAST(l.l_quantity * p.p_retailprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_cost
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    operators=("J3", "A1", "P5"),
)
def q08_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × dimension enrichment (the sales×sales_map cost join,
    portfolio-etl.py:668, :683). The dim side carries an explicit
    broadcast hint: at 100 TB the fact table must not shuffle for a
    dimension lookup."""
    li = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_product(F.col("l_quantity") * F.col("p_retailprice")).alias(
                "total_cost"
            ),
        )
    )


@query(
    "q09_sortmerge_join",
    sql="""
    SELECT
      o.o_orderstatus AS status,
      year(o.o_orderdate) AS yr,
      count(*) AS n_lines,
      CAST(round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
    operators=("J2", "A3"),
)
def q09_sortmerge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × fact equi-join — both sides large, so no broadcast hint:
    Catalyst plans a sort-merge join with both sides shuffled on the
    join key (AQE can downgrade to broadcast at small SF)."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = catalog.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum_product(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@query(
    "q10_right_join_multiplier",
    sql="""
    WITH soldvalue AS (
      SELECT l_partkey AS sku, sum(l_quantity) AS qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      p.p_brand AS sku_name,
      sum(s.qty * p.p_size) AS qty
    FROM soldvalue s RIGHT JOIN part p ON s.sku = p.p_partkey
    GROUP BY p.p_brand
    """,
    operators=("J1", "A2", "P5"),
)
def q10_right_join_multiplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retail→wholesale multiplier join (portfolio-etl.py:623-628):
    aggregated sales RIGHT-joined to the component map so unmatched map
    rows survive with NULL qty, NULL×multiplier stays NULL, and the
    NULL-skipping SUM drops them — identical semantics in SQL (SURVEY.md
    §4.3.6, replicated on purpose).

    No broadcast hint on ``p``: the preserved side of a right outer
    join CANNOT be broadcast (Spark logs an unhonorable-hint WARN via
    HintErrorLogger and silently falls back), and sort-merge is the
    right 100× plan here anyway — both sides are key-partitioned fact
    data at scale. tools/plan_audit.py asserts the whole registry
    optimizes with ZERO hint WARNs so dead hints can't accumulate."""
    li = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    soldvalue = li.groupBy(F.col("l_partkey").alias("sku")).agg(
        F.sum("l_quantity").alias("qty")
    )
    return (
        soldvalue.join(p, soldvalue.sku == p.p_partkey, "right")
        .groupBy(F.col("p_brand").alias("sku_name"))
        .agg(F.sum(F.col("qty") * F.col("p_size")).alias("qty"))
    )


@query(
    "q11_inventory_decrement",
    sql="""
    WITH sold AS (
      SELECT l_partkey AS sku, sum(l_quantity) AS sold_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      p.p_partkey AS sku,
      CAST(p.p_size * 100 AS DOUBLE)  AS stock_qty,
      coalesce(s.sold_qty, 0.0)       AS sold_qty,
      CAST(p.p_size * 100 AS DOUBLE) - coalesce(s.sold_qty, 0.0) AS new_qty,
      p.p_brand  AS brand,
      p.p_type   AS subcategory
    FROM part p LEFT JOIN sold s ON p.p_partkey = s.sku
    """,
    operators=("J2", "C13", "P5", "P7"),
)
def q11_inventory_decrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inventory read-modify-write (portfolio-etl.py:634-646):
    stock LEFT JOIN sold, fillna(0) → coalesce, new_qty = qty_x − qty_y,
    column reorder. Idempotent snapshot semantics instead of the
    reference's self-overwriting CSV (:648)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    sold = li.groupBy(F.col("l_partkey").alias("sku")).agg(
        F.sum("l_quantity").alias("sold_qty")
    )
    stock_qty = (F.col("p_size") * 100).cast("double")
    sold_qty = F.coalesce(F.col("sold_qty"), F.lit(0.0))
    return p.join(sold, p.p_partkey == sold.sku, "left").select(
        F.col("p_partkey").alias("sku"),
        stock_qty.alias("stock_qty"),
        sold_qty.alias("sold_qty"),
        (stock_qty - sold_qty).alias("new_qty"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("subcategory"),
    )


@query(
    "q12_semi_join",
    sql="""
    SELECT c.c_mktsegment AS segment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c.c_mktsegment
    """,
    operators=("J-semi",),
)
def q12_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi join — no row multiplication, the probe side
    streams through; engine capability beyond the reference (SURVEY.md
    §2.5)."""
    c = catalog.load(spark, sf_dir, "customer")
    o = catalog.load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q13_anti_join",
    sql="""
    SELECT c.c_mktsegment AS segment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    operators=("J-anti",),
)
def q13_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti join (customers who never ordered)."""
    c = catalog.load(spark, sf_dir, "customer")
    o = catalog.load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q14_topk",
    sql="""
    SELECT o_orderkey AS order_id, o_custkey AS custkey, o_totalprice AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    operators=("O1", "O2"),
)
def q14_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (the Wayfair limit-1000 DESC fetch, portfolio-etl.py
    :385-388) → TakeOrderedAndProject: each partition keeps its local
    top-10, only 10×partitions rows reach the driver — no global sort
    at any scale. Tie-break on o_orderkey for determinism."""
    o = catalog.load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


@query(
    "q15_distinct",
    sql="SELECT DISTINCT l_returnflag AS returnflag, l_linestatus AS linestatus FROM lineitem",
    operators=("A-distinct",),
)
def q15_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = hash-aggregate without measures; partial distinct
    happens map-side before the shuffle."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).distinct()


@query(
    "q16_agg_multi",
    sql="""
    SELECT
      o_orderpriority AS priority,
      count(*)                          AS n_orders,
      count(DISTINCT o_custkey)         AS n_customers,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      min(o_totalprice)                 AS min_price,
      max(o_totalprice)                 AS max_price,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
    operators=("A1", "A3", "A4"),
)
def q16_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure aggregate incl. exact COUNT DISTINCT (expand +
    two-phase aggregation in Spark)."""
    o = catalog.load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (dsum_money("o_totalprice") / F.count(F.lit(1))).alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        dsum_money("o_totalprice").alias("sum_price"),
    )


@query(
    "q17_rollup",
    sql="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    operators=("A-rollup",),
)
def q17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy subtotals — single Expand + hash-aggregate."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return li.rollup(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q18_cube",
    sql="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    operators=("A-cube",),
)
def q18_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both group keys — all 4 grouping sets in one pass."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return li.cube(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "q19_window_rank",
    sql="""
    SELECT * FROM (
      SELECT
        o_custkey  AS custkey,
        o_orderkey AS order_id,
        o_totalprice AS totalprice,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    operators=("Window-rank",),
)
def q19_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the canonical top-k-per-group window.
    One shuffle on the partition key; deterministic tie-break."""
    o = catalog.load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("rn"),
        )
    )


@query(
    "q20_window_lag",
    sql="""
    SELECT
      o_custkey  AS custkey,
      o_orderkey AS order_id,
      o_totalprice - lag(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS delta_prev
    FROM orders
    """,
    operators=("Window-lag",),
)
def q20_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): per-customer order-over-order price delta (NULL for the
    first order — matches SQL). The subtraction operands are identical
    doubles in both engines, so the result is bitwise-deterministic."""
    o = catalog.load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_id"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("delta_prev"),
    )


@query(
    "q21_window_running_sum",
    sql="""
    SELECT
      o_custkey  AS custkey,
      o_orderkey AS order_id,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    """,
    operators=("Window-frame",),
)
def q21_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with an explicit ROWS frame (decimal-exact)."""
    o = catalog.load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_id"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


# ---------------------------------------------------------------------------
# Filters / conditionals / set ops
# ---------------------------------------------------------------------------


@query(
    "q22_in_filter",
    sql="""
    SELECT p_brand AS brand, count(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM part
    WHERE p_brand IN ('Brand#1', 'Brand#7', 'Brand#13') AND p_size >= 5
    GROUP BY p_brand
    """,
    operators=("W4", "W5"),
)
def q22_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + equality predicates (the brand splits, portfolio-etl.py
    :688-689 — implemented on the frame's *own* column, i.e. the intended
    semantics of the reference's misaligned-mask bug, SURVEY.md §4.3.2)."""
    p = catalog.load(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_brand").isin("Brand#1", "Brand#7", "Brand#13")
            & (F.col("p_size") >= 5)
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            dsum_money("p_retailprice").alias("total_price"),
        )
    )


@query(
    "q23_case_when",
    sql="""
    SELECT
      CASE WHEN o_totalprice < 50000 THEN 'small'
           WHEN o_totalprice < 200000 THEN 'medium'
           ELSE 'large' END AS bucket,
      count(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
    FROM orders GROUP BY 1
    """,
    operators=("C-case",),
)
def q23_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + aggregate."""
    o = catalog.load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (dsum_money("o_totalprice") / F.count(F.lit(1))).alias("avg_price"),
    )


@query(
    "q24_having",
    sql="""
    SELECT l_partkey AS sku, sum(l_quantity) AS qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_quantity) > 100
    """,
    operators=("A1", "W-having"),
)
def q24_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_partkey").alias("sku"))
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )


@query(
    "q25_intersect",
    sql="""
    SELECT o_custkey AS custkey FROM orders
    WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    WHERE year(o_orderdate) = 1997
    """,
    operators=("U-intersect",),
)
def q25_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — customers active in both years."""
    o = catalog.load(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y96.intersect(y97)


@query(
    "q26_except",
    sql="""
    SELECT o_custkey AS custkey FROM orders
    WHERE year(o_orderdate) = 1996
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE year(o_orderdate) = 1997
    """,
    operators=("U-except",),
)
def q26_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — churned customers. ``subtract`` is Spark's
    EXCEPT DISTINCT (``exceptAll`` would be bag difference — different
    semantics)."""
    o = catalog.load(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y96.subtract(y97)


@query(
    "q27_json_extract",
    sql="""
    SELECT
      CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
      count(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    operators=("C15", "F1"),
)
def q27_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string column parse (portfolio-etl.py:201 json.loads of curl
    stdout; :413-414 payload indexing) via from_json + struct access —
    stays inside codegen, no Python."""
    from portfolio1_etl_spark.schemas import EVENT_PROPS

    e = catalog.load(spark, sf_dir, "events")
    return (
        e.withColumn("props_s", F.from_json("props", EVENT_PROPS))
        .groupBy((F.col("props_s.k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_money("value").alias("total_value"),
        )
    )


@query(
    "q28_pivot",
    sql="""
    SELECT
      l_returnflag AS returnflag,
      sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
      sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
    operators=("A-pivot",),
)
def q28_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — Spark plans one
    pass; the oracle is the equivalent conditional aggregation."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )


@query(
    "q29_star_join",
    sql="""
    SELECT
      r.r_name AS region,
      n.n_name AS nation,
      count(*) AS n_orders,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    operators=("J3", "J-star", "A3"),
)
def q29_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: fact joined through two snowflake dims. All
    three dims broadcast — the fact table is never shuffled for the
    joins, only for the final aggregate."""
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    n = catalog.load(spark, sf_dir, "nation")
    r = catalog.load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_money("o_totalprice").alias("revenue"),
        )
    )


@query(
    "q30_grouping_sets",
    sql="""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    operators=("A-groupingsets",),
)
def q30_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the engine's SQL path (parser → same Catalyst
    pipeline as the DataFrame API). The temp view gets an engine-scoped
    name so we never clobber a view the caller's session may own."""
    catalog.load(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_p1etl_lineitem_v"
    )
    return spark.sql(
        """
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
               sum(l_quantity) AS sum_qty
        FROM _p1etl_lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )
