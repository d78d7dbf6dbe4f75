"""Correlated-subquery relational shapes (r8) — the TPC-H Q17/Q21/Q22
patterns the reference's surface never needed but every warehouse
workload leans on: correlated scalar aggregates, multi-EXISTS/
NOT-EXISTS correlation, and the aggregate-threshold anti-join.

The Spark forms are written DECORRELATED on purpose — a per-group
aggregate joined back, semi/anti joins instead of EXISTS — because
that is the plan Catalyst's subquery decorrelation must reach anyway,
and writing it directly keeps the shape explicit and auditable
(tools/plan_audit.py: no CartesianProduct, broadcast where one side
is group-aggregate-sized). The DuckDB oracles use the classic
correlated-subquery spellings, so the gate also proves the
decorrelated plan IS the subquery's semantics.

Money sums ride the decimal-cast helper (functions/exact.py) per the
registry float-parity contract.

Reference analogue: none (portfolio-etl.py has no subquery shapes);
[ext] relational-depth surface per SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions import dsum_money
from portfolio1_etl_spark.plans.registry import query


@query(
    "q165_small_quantity_revenue",
    sql="""
    SELECT CAST(round(
      SUM(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0, 2) AS DOUBLE)
      AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size < 5
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
    operators=("X-correlated-scalar", "J3", "A1"),
)
def q165_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's shape: revenue lost to small-quantity orders —
    lines whose quantity sits under 20% of their part's own average.
    The correlated scalar subquery decorrelates into ONE per-part
    aggregate broadcast back onto the fact — the form Catalyst's
    decorrelation produces, written explicitly. The part filter
    (p_size < 5 standing in for the brand/container predicate) is a
    PART attribute, so the semi-join pushes BELOW the threshold
    aggregate safely: every line of a surviving part is retained, the
    per-part average is bit-identical for every part that can reach
    the final join, and both the aggregate input and the broadcast
    threshold table shrink to the selected slice instead of carrying
    full part cardinality (a line-level filter could NOT push down —
    the subquery averages a part's unfiltered lines)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part").filter(F.col("p_size") < 5).select("p_partkey")
    selected = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    thresholds = selected.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    picked = selected.join(F.broadcast(thresholds), "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return picked.agg(
        F.round(dsum_money("l_extendedprice") / F.lit(7.0), 2).alias(
            "avg_yearly"
        )
    )


@query(
    "q166_waiting_suppliers",
    sql="""
    SELECT s.s_suppkey AS suppkey, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_suppkey
    """,
    operators=("X-exists-correlated", "J-semi", "J-anti", "A1"),
)
def q166_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21's shape: suppliers who were the ONLY one to return
    goods on a multi-supplier order — the double-correlation pattern
    (EXISTS another supplier on the order; NOT EXISTS another supplier
    who also returned). Decorrelated as two ORDER-GRAIN aggregates
    from one scan each — per order: supplier NDV, and returned-line
    supplier min/max — joined back broadcast-size, instead of the
    naive per-row EXISTS probes (which at 100 TB are two extra
    shuffled self-joins of the full fact). A returned line qualifies
    when its order has >1 distinct supplier overall AND every returned
    line on it comes from this one supplier (min = max = mine)."""
    li = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    order_stats = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps")
    )
    returned_stats = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("rmin"),
            F.max("l_suppkey").alias("rmax"),
        )
    )
    base = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey, "left_semi")
        .join(order_stats, "l_orderkey")
        .join(returned_stats, "l_orderkey")
        .filter(
            (F.col("n_supps") > 1)
            & (F.col("rmin") == F.col("l_suppkey"))
            & (F.col("rmax") == F.col("l_suppkey"))
        )
    )
    s = catalog.load(spark, sf_dir, "supplier").select("s_suppkey")
    return (
        base.join(F.broadcast(s), base.l_suppkey == s.s_suppkey, "left_semi")
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q167_untapped_customers",
    sql="""
    SELECT substr(CAST(c.c_custkey AS VARCHAR), 1, 1) AS segment,
           count(*) AS numcust,
           CAST(round(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY 1
    """,
    operators=("X-anti-threshold", "J-anti", "A1"),
)
def q167_untapped_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape: promising customers with no URGENT order —
    above-average account balance (uncorrelated scalar subquery over
    the positive-balance population) anti-joined against the urgent
    slice of orders (the generated data gives every customer SOME
    order, so the plain no-orders correlate would gate 0-5 rows). The
    scalar average is a 1-row broadcast; the NOT EXISTS is a hash
    anti-join against the orders keys — both the shapes Catalyst
    reaches from the subquery spelling, written explicitly. Customer
    key's leading digit stands in for the country-code segment."""
    c = catalog.load(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("abal")
    )
    o = (
        catalog.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("abal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(
            F.substring(F.col("c_custkey").cast("string"), 1, 1).alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(dsum_money("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "q169_priority_late_orders",
    sql="""
    SELECT o.o_orderpriority AS priority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    operators=("X-exists-correlated", "J-semi", "W2"),
)
def q169_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4's shape: orders in a date window with at least one
    line shipped more than 60 days after ordering, counted by
    priority. The EXISTS is correlated on BOTH the key and a
    cross-table date comparison, so the decorrelation is a left-semi
    join with a non-key predicate in the join condition — the shape
    that forces the semi-join to carry the comparison into the join
    rather than pre-filtering either side alone. The date window on
    orders pushes to the scan; at scale the semi-join's build side is
    the window's slice of the fact, the classic Q4 plan."""
    from portfolio1_etl_spark.plans.relational import _ntz

    # timestamp_ntz literals (the q02 window pattern): a TIMESTAMP_LTZ
    # literal only matches the NTZ column under the UTC session pin —
    # the NTZ cast keeps the boundary timezone-independent
    o = catalog.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ntz("1996-01-01"))
        & (F.col("o_orderdate") < _ntz("1996-07-01"))
    )
    li = catalog.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("interval 60 days")),
        "left_semi",
    )
    return matched.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q187_national_market_share",
    sql="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(28,8))), 2) AS revenue
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, CAST(revenue AS DOUBLE) AS revenue
    FROM rev
    WHERE revenue * 20 > (SELECT sum(revenue) FROM rev)
    """,
    operators=("X-scalar-subquery", "J3", "A1", "W1"),
)
def q187_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape: groups whose aggregate exceeds a FRACTION of
    the global aggregate — a scalar subquery over the same derived
    relation. Decorrelated Spark form: compute the per-nation revenue
    ONCE, cross-join the single-row global sum (a broadcast of one
    row — Catalyst's scalar-subquery plan), filter. The nation-grain
    artifact is tiny, so the whole threshold stage costs nothing after
    the one fact shuffle; the oracle keeps the classic correlated
    spelling. Exact-decimal revenue makes the threshold comparison
    bit-deterministic — a group sitting exactly AT the boundary cannot
    flip on sum order."""
    li = catalog.load(spark, sf_dir, "lineitem")
    s = catalog.load(spark, sf_dir, "supplier")
    n = catalog.load(spark, sf_dir, "nation")
    from portfolio1_etl_spark.functions import dsum_product

    rev = (
        li.join(
            F.broadcast(s), li["l_suppkey"] == s["s_suppkey"]
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum_product(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            )
            .cast("decimal(18,2)")
            .alias("revenue")
        )
    )
    total = rev.agg(F.sum("revenue").alias("_total"))
    return (
        rev.crossJoin(F.broadcast(total))
        .filter(F.col("revenue") * 20 > F.col("_total"))
        .select("nation", F.col("revenue").cast("double").alias("revenue"))
    )


@query(
    "q188_min_balance_supplier",
    sql="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
      FROM lineitem
    )
    SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal
    FROM part p
    JOIN ps ON ps.partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.suppkey
    WHERE p.p_size < 10
      AND s.s_acctbal = (
        SELECT min(s2.s_acctbal)
        FROM ps ps2 JOIN supplier s2 ON s2.s_suppkey = ps2.suppkey
        WHERE ps2.partkey = p.p_partkey
      )
    """,
    operators=("X-correlated-scalar", "J-semi", "A1", "Window-rank"),
)
def q188_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape: per part, the supplier(s) achieving the
    group-minimum attribute — the correlated MIN subquery. Spark form:
    distinct (part, supplier) pairs from the fact (the partsupp stand-
    in), supplier attributes broadcast on, then ONE per-part window
    min compared against each row — equivalent to Q2's "equals the
    min" semantics, which keeps ALL tied suppliers (no artificial tie-
    break; exact doubles compare equal identically in both engines).
    The window partitions on p_partkey over pair-grain rows (bounded
    by |partsupp|, not |lineitem|); the p_size filter prunes parts
    BEFORE the window."""
    li = catalog.load(spark, sf_dir, "lineitem")
    p = catalog.load(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    s = catalog.load(spark, sf_dir, "supplier")
    from pyspark.sql import Window as W

    ps = li.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).distinct()
    pairs = (
        ps.join(F.broadcast(p), ps["partkey"] == p["p_partkey"])
        .join(F.broadcast(s), ps["suppkey"] == s["s_suppkey"])
        .select("p_partkey", "p_name", "s_name", "s_acctbal")
    )
    w = W.partitionBy("p_partkey")
    return pairs.withColumn(
        "_min_bal", F.min("s_acctbal").over(w)
    ).filter(F.col("s_acctbal") == F.col("_min_bal")).drop("_min_bal")


@query(
    "q189_top_revenue_supplier",
    sql="""
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             round(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(28,8))), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE)
             AS total_revenue
    FROM supplier s JOIN rev r ON r.suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    operators=("X-scalar-subquery", "J3", "A1", "O2"),
)
def q189_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15's shape: the revenue view and its global max — the
    supplier(s) whose quarterly revenue equals the maximum over the
    view. Spark computes the view once, cross-joins the single-row max
    (broadcast scalar), and keeps equality rows — ties all survive, as
    Q15 requires, and the exact-decimal revenue makes the equality
    engine-deterministic. The date filter pushes to the parquet scan
    (PushedFilters); the view is supplier-grain, so everything after
    the one fact shuffle is dimension-sized."""
    li = catalog.load(spark, sf_dir, "lineitem")
    s = catalog.load(spark, sf_dir, "supplier")
    from portfolio1_etl_spark.functions import dsum_product

    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            dsum_product(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            )
            .cast("decimal(18,2)")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_max"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max"))
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )
