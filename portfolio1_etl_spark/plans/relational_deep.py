"""Deep relational analogues (r9): the remaining classic TPC-H query
shapes the registry had not yet exercised — multi-nation volume
shipping (Q7), regional market share (Q8), product profit (Q9),
returned-item report (Q10), customer order-count distribution (Q13),
promo revenue share (Q14), large-volume customers (Q18), and
disjunctive-predicate revenue (Q19) — adapted to this benchmark's
trimmed schemas (no partsupp/shipmode/commitdate; profit uses a
retail-price cost proxy).

Money determinism: every revenue aggregate flows through the decimal
spine (functions/exact.py — ``dsum_product`` ≡ the literal
``CAST(round(SUM(CAST(x AS DECIMAL(28,8))), 2) AS DOUBLE)`` twin);
shares/ratios divide two such exact decimal-backed doubles with the
identical expression tree in both engines.

Scale shapes: dimension joins broadcast (nation/region/part at any
SF; customer under AQE), fact-fact joins shuffle on their keys,
histograms aggregate twice (per-key then per-count) with map-side
partials, and every top-k breaks ties explicitly before LIMIT.

Reference analogue: none — the reference's pandas script has no
multi-table analytics; [ext] per SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions.exact import dsum_product
from portfolio1_etl_spark.plans.registry import query

#: the oracle twin of dsum_product, applied to a revenue expression
_DSUM = "CAST(round(SUM(CAST({x} AS DECIMAL(28,8))), 2) AS DOUBLE)"
_REV = "l.l_extendedprice * (1 - l.l_discount)"


@query(
    "q198_volume_shipping",
    sql=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {_DSUM.format(x=_REV)} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '2000-01-01'
    GROUP BY 1, 2, 3
    """,
    operators=("J3", "J1", "X-tpch-q7", "A1"),
)
def q198_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analogue — bilateral trade volume: revenue shipped
    between two specific nations, split by direction and ship year.
    Plan: the nation-filtered supplier and customer sides broadcast
    into the lineitem→orders fact join (two tiny dims prune the fact
    rows early), ONE shuffle pair for the fact-fact join, then a
    map-side-combinable decimal aggregate on (nation, nation, year)."""
    l = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    s = catalog.load(spark, sf_dir, "supplier")
    n = catalog.load(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "2000-01-01")
        )
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum_product(rev).alias("revenue"))
    )


@query(
    "q199_market_share",
    sql=f"""
    WITH sales AS (
      SELECT year(o.o_orderdate) AS o_year,
             {_REV} AS rev,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
      {_DSUM.format(x="CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END")}
        AS nation_revenue,
      {_DSUM.format(x="rev")} AS total_revenue,
      round({_DSUM.format(x="CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END")}
            / {_DSUM.format(x="rev")}, 6) AS mkt_share
    FROM sales GROUP BY 1
    """,
    operators=("J3", "J1", "X-tpch-q8", "A1"),
)
def q199_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analogue — market share: the fraction of ASIA's PROMO-
    part revenue supplied by NATION_3, per order year. Both the
    numerator and denominator are exact decimal sums; their single
    division is the only float op (identical operands → identical
    bits in both engines, then a stabilizing 6 dp round). Plan: every
    dimension broadcasts; the fact pair shuffles once; one aggregate."""
    l = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    s = catalog.load(spark, sf_dir, "supplier")
    n = catalog.load(spark, sf_dir, "nation")
    r = catalog.load(spark, sf_dir, "region")
    p = catalog.load(spark, sf_dir, "part")
    nc = n.select("n_nationkey", "n_regionkey")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0)
    )
    sales = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == nc["n_nationkey"])
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            F.broadcast(p.filter(F.col("p_type") == "PROMO")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
    )
    return sales.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        dsum_product(nat_rev).alias("nation_revenue"),
        dsum_product(rev).alias("total_revenue"),
        F.round(
            dsum_product(nat_rev) / dsum_product(rev), 6
        ).alias("mkt_share"),
    )


@query(
    "q205_profit_by_nation_year",
    sql=f"""
    SELECT ns.n_name AS nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
           {_DSUM.format(
               x="l.l_extendedprice * (1 - l.l_discount)"
                 " - 0.6 * p.p_retailprice * l.l_quantity")} AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    GROUP BY 1, 2
    """,
    operators=("J3", "X-tpch-q9", "A1"),
)
def q205_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue — product profit by supplier nation and ship
    year, with a retail-price cost proxy (this benchmark has no
    partsupp): profit = revenue − 0.6·retail·qty. The per-row profit
    double is computed with the IDENTICAL expression tree in both
    engines (same bits), then snapped to DECIMAL(28,8) for the exact
    order-independent sum. Part and supplier dims broadcast; one
    map-side-combinable aggregate."""
    l = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    s = catalog.load(spark, sf_dir, "supplier")
    n = catalog.load(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(
            "nation", F.year("l_shipdate").cast("long").alias("o_year")
        )
        .agg(dsum_product(profit).alias("profit"))
    )


@query(
    "q200_returned_items",
    sql=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           {_DSUM.format(x=_REV)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    operators=("J3", "O2", "X-tpch-q10", "A1"),
)
def q200_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue — the returned-item customer report: the 20
    customers losing the most revenue to returns in one order year.
    Ties break on custkey before the LIMIT (registry determinism
    contract). Plan: date + returnflag predicates prune the facts at
    the scan, customer/nation broadcast, one aggregate, then a
    TakeOrderedAndProject top-20 (never a global sort)."""
    l = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    n = catalog.load(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ),
            l["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            dsum_product(rev).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q201_order_count_distribution",
    sql="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    operators=("J2", "X-tpch-q13", "A1"),
)
def q201_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analogue — the customer order-count histogram,
    including the zero bucket the LEFT join exists for (an inner join
    silently drops order-less customers). Double aggregation: orders
    collapse to per-customer counts on ONE shuffle (count(o_orderkey)
    ignores the null-extended rows), then the tiny count-of-counts
    fold."""
    c = catalog.load(spark, sf_dir, "customer")
    o = catalog.load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return per_cust.groupBy(
        F.col("c_count").cast("long").alias("c_count")
    ).agg(F.count(F.lit(1)).cast("long").alias("custdist"))


@query(
    "q202_promo_revenue",
    sql=f"""
    SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS ship_month,
      {_DSUM.format(x=f"CASE WHEN p.p_type = 'PROMO' THEN {_REV} ELSE 0 END")}
        AS promo_revenue,
      {_DSUM.format(x=_REV)} AS total_revenue,
      round(100.0
            * {_DSUM.format(
                x=f"CASE WHEN p.p_type = 'PROMO' THEN {_REV} ELSE 0 END")}
            / {_DSUM.format(x=_REV)}, 4) AS promo_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
    operators=("J3", "X-tpch-q14", "A1", "C4"),
)
def q202_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue — promotional revenue share per ship month.
    Numerator and denominator are exact decimal sums; the percentage
    divides identical doubles in both engines and rounds to 4 dp.
    Part broadcasts; one monthly aggregate."""
    l = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.date_trunc("month", "l_shipdate").cast("date").alias(
                "ship_month"
            )
        )
        .agg(
            dsum_product(promo).alias("promo_revenue"),
            dsum_product(rev).alias("total_revenue"),
            F.round(
                F.lit(100.0) * dsum_product(promo) / dsum_product(rev), 4
            ).alias("promo_share_pct"),
        )
    )


@query(
    "q203_large_volume_customers",
    sql="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
             AS o_totalprice,
           CAST(b.sum_qty AS BIGINT) AS sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    operators=("J-semi", "X-tpch-q18", "A1", "W1"),
)
def q203_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analogue — large-volume customers: orders whose total
    line quantity exceeds 150 units, with their customer. The HAVING
    aggregate runs FIRST (one lineitem shuffle shrinking the facts to
    qualifying orderkeys), then the survivors join orders and the
    broadcast customer dim — never a lineitem-orders join before the
    filter. Quantities are integral doubles (exact sums, exact cast)."""
    l = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("o_totalprice"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
    )


@query(
    "q204_disjunctive_revenue",
    sql=f"""
    SELECT {_DSUM.format(x=_REV)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 20 AND 40
           AND l.l_quantity BETWEEN 25 AND 50)
    """,
    operators=("J3", "W5", "X-tpch-q19", "A1"),
)
def q204_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue — the disjunctive multi-attribute predicate
    (three OR'd brand/size/quantity envelopes) that exercises the
    optimizer's ability to keep an OR-of-ANDs as a post-join filter
    with the part dim broadcast, rather than exploding it into a
    union of three scans. One row out: exact decimal revenue and the
    qualifying line count."""
    l = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    pred = (
        ((br == "Brand#1") & sz.between(1, 10) & q.between(1, 15))
        | ((br == "Brand#13") & sz.between(5, 20) & q.between(10, 25))
        | ((br == "Brand#19") & sz.between(20, 40) & q.between(25, 50))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .filter(pred)
        .agg(
            dsum_product(rev).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "q216_forecast_revenue_change",
    sql=f"""
    SELECT {_DSUM.format(x="l_extendedprice * l_discount")} AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      AND l.l_discount >= CAST(0.05 AS DOUBLE)
      AND l.l_discount <= CAST(0.07 AS DOUBLE)
      AND l.l_quantity < 24
    """,
    operators=("W1", "W2", "X-tpch-q6", "A1"),
)
def q216_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 analogue — forecasting revenue change: the total
    discount given on small-quantity 1997 lines in a narrow discount
    band. Single-table scan-heavy shape: every predicate (timestamp
    range, double band, quantity cap) is pushdown-eligible at the
    parquet scan, then ONE exact decimal aggregate to a single row —
    the canonical 'filter reaches the scan' probe. Discount bounds
    are cast to DOUBLE on the oracle side so both engines compare
    against the identical IEEE literal, never a DECIMAL(3,2)."""
    l = catalog.load(spark, sf_dir, "lineitem")
    disc_rev = F.col("l_extendedprice") * F.col("l_discount")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum_product(disc_rev).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "q217_shipping_lag_priority",
    sql="""
    SELECT
      CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) <= 30 THEN 'fast'
           WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) <= 90 THEN 'normal'
           ELSE 'late' END AS ship_bucket,
      CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    operators=("J1", "C6", "X-tpch-q12", "A1"),
)
def q217_shipping_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue — this schema has no l_shipmode /
    l_receiptdate, so the mode axis becomes a DERIVED ship-lag bucket
    (order→ship day gap: fast ≤30, normal ≤90, late beyond), and the
    high/low priority split is preserved verbatim. Plan: one
    fact-fact shuffle join (both sides date-pruned lineitem + full
    orders), conditional-sum pairs fold map-side into 3 rows. Day
    arithmetic goes through DATE casts in BOTH engines so timestamp
    sub-day components can never skew the bucket edge."""
    l = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(lag <= 30, "fast").when(lag <= 90, "normal").otherwise("late")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q218_supplier_part_variety",
    sql="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         complaints AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM complaints)
    GROUP BY 1, 2, 3
    """,
    operators=("J-anti", "A-distinct", "X-tpch-q16", "W5"),
)
def q218_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analogue — supplier variety per (brand, type, size):
    how many distinct non-blacklisted suppliers ship each surviving
    part configuration. No partsupp table exists, so the part-supplier
    relation is the DISTINCT (l_partkey, l_suppkey) projection of
    lineitem — one exact-dedup shuffle that shrinks the fact to
    relation grain FIRST. The complaint exclusion (NOT IN, null-free
    key) compiles to a broadcast anti-join; the filtered part dim
    broadcasts; then one COUNT(DISTINCT) aggregate. At 100 TB the
    only wide exchange is the initial pair-dedup, keyed on two fixed
    bigints."""
    l = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    s = catalog.load(spark, sf_dir, "supplier")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    complaints = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = p.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        ps.join(
            F.broadcast(complaints),
            ps["l_suppkey"] == complaints["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(pf), F.col("l_partkey") == pf["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")
        )
    )


@query(
    "q219_dominant_suppliers",
    sql="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1, 2),
    tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1),
    qual AS (
      SELECT DISTINCT sh.l_suppkey
      FROM shipped sh
      JOIN tot t ON sh.l_partkey = t.l_partkey
      JOIN part p ON sh.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%bolt%'
        AND sh.qty > CAST(0.3 AS DOUBLE) * t.total_qty)
    SELECT s.s_name,
           CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS s_acctbal,
           n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM qual)
      AND n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
    """,
    operators=("J-semi", "A1", "X-tpch-q20", "W5"),
)
def q219_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue — suppliers who DOMINATE a bolt-like part's
    1997 volume (their shipped quantity exceeds 30% of the part's
    total). No partsupp/availqty exists, so the availability test
    becomes a two-level aggregate over the same shipped relation:
    per-(part,supplier) sums, re-aggregated per part, threshold
    compare, then a DISTINCT supplier set SEMI-joined into the
    supplier dim (nation-filtered). The share threshold multiplies
    the exact integral total by the same IEEE 0.3 literal in both
    engines, so the strict > lands identically. Plan: the 1997 filter
    prunes the scan; both aggregates reuse the l_partkey-clustered
    shuffle; part and nation broadcast; the final semi-join is
    against a tiny qualifying set."""
    l = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part")
    s = catalog.load(spark, sf_dir, "supplier")
    n = catalog.load(spark, sf_dir, "nation")
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    bolts = p.filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    qual = (
        shipped.join(tot, "l_partkey")
        .join(F.broadcast(bolts), F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("qty") > F.lit(0.3) * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(qual, s["s_suppkey"] == qual["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .filter(
            F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
        )
        .select(
            "s_name",
            F.col("s_acctbal")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("s_acctbal"),
            "n_name",
        )
    )
