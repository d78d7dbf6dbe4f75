"""Advanced engine capabilities beyond the reference's operator set:
full/cross joins, statistical and percentile aggregates, ordered
collect aggregates, unpivot, and the two classic time-series operators
Spark lacks natively — as-of join and range (interval) join — composed
from shuffles + windows so they scale (SURVEY.md §2.5/§2.6 capability
parity; pyspark guide "As-of / range join" pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions.numeric import zround
from portfolio1_etl_spark.operators.ranks import (
    cume_dist_from_rank,
    ntile_from_rank,
    percent_rank_from_rank,
    with_exact_rank,
)
from portfolio1_etl_spark.plans.registry import query


@query(
    "q31_full_outer_join",
    sql="""
    WITH big_cust AS (
      SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000
    ),
    ordered AS (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT
      coalesce(b.c_custkey, o.o_custkey) AS custkey,
      b.c_name  AS name,
      o.n_orders AS n_orders
    FROM big_cust b FULL OUTER JOIN ordered o ON b.c_custkey = o.o_custkey
    """,
    operators=("J-full",),
)
def q31_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: both unmatched sides survive with NULLs."""
    c = catalog.load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    o = (
        catalog.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("n_orders").cast("double").alias("n_orders"),
    )


@query(
    "q32_cross_join",
    sql="""
    SELECT r.r_name AS region, s.status
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) s
    """,
    operators=("J-cross",),
)
def q32_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (dimension grid) — only ever between
    dimension-sized inputs; both sides here are tiny and broadcast."""
    r = catalog.load(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    s = (
        catalog.load(spark, sf_dir, "orders")
        .select(F.col("o_orderstatus").alias("status"))
        .distinct()
    )
    return r.crossJoin(F.broadcast(s))


@query(
    "q33_stats_agg",
    sql="""
    SELECT
      l_returnflag AS returnflag,
      round(stddev_samp(l_quantity), 4)                 AS sd_qty,
      round(var_samp(l_quantity), 4)                    AS var_qty,
      round(corr(l_quantity, l_extendedprice), 6) + 0.0       AS corr_qty_price,
      round(covar_samp(l_quantity, l_extendedprice), 2) + 0.0 AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
    operators=("A-stats",),
)
def q33_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (sample stddev/variance, correlation,
    covariance). Rounded coarsely: the running-moment accumulations are
    order-dependent across engines at the 1e-9 level."""
    li = catalog.load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        # zround: signed-zero canonicalization (q159 class) — corr and
        # covariance are the sign-indefinite outputs here
        zround(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        zround(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
    )


@query(
    "q34_percentiles",
    sql="""
    SELECT
      l_returnflag AS returnflag,
      round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
      round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    operators=("A-percentile",),
)
def q34_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use the same
    (n−1)·q linear interpolation over the sorted values).

    Shape (r14): ONE ``percentile`` aggregate over the array of
    requested quantiles — three separate calls each built their own
    full value buffer per group (3× the accumulate/merge work for
    identical output: the interpolation reads the same sorted counts
    map). The 2-column projection is spread to the configured
    parallelism first so the partial aggregates don't inherit the
    scan's single split (guide §2) — the percentile buffer is a
    value→count map whose merge is order-free, so partition layout
    cannot move the exact result."""
    from portfolio1_etl_spark.parallelism import spread_rows

    li = catalog.load(spark, sf_dir, "lineitem")
    pct = F.percentile(
        "l_extendedprice",
        F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)),
    )
    return (
        spread_rows(li.select("l_returnflag", "l_extendedprice"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(pct.alias("_p"))
        .select(
            "returnflag",
            F.round(F.col("_p")[0], 4).alias("p25"),
            F.round(F.col("_p")[1], 4).alias("p50"),
            F.round(F.col("_p")[2], 4).alias("p75"),
        )
    )


@query(
    "q35_approx_aggregates",
    sql="""
    SELECT o_orderpriority AS priority,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS exact_customers,
           TRUE AS distinct_within_bound,
           TRUE AS median_within_bound
    FROM orders
    GROUP BY o_orderpriority
    """,
    operators=("A-approx",),
)
def q35_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL distinct + approximate quantiles.
    Spark's HyperLogLog++ and DuckDB's HLL are different sketches, so
    raw sketch values can never agree cross-engine; instead the query
    outputs the documented ERROR-BOUND CHECKS as booleans — HLL within
    3·rsd of the exact distinct (rsd=0.05), approx-median (rank error
    1/accuracy = 1e-3) inside the exact p40–p60 band — plus the exact
    values themselves. The oracle recomputes the exact values and
    asserts the bounds as literal TRUE, so a sketch drifting out of
    its guarantee fails the hash gate. At 100 TB the sketches are the
    default: exact distinct over a high-cardinality key is a full
    shuffle, the sketch is a map-side merge."""
    o = catalog.load(spark, sf_dir, "orders")
    rsd = 0.05
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("exact_customers"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd)
                - F.countDistinct("o_custkey")
            )
            <= 3 * rsd * F.countDistinct("o_custkey")
        ).alias("distinct_within_bound"),
        F.percentile_approx("o_totalprice", 0.5, 1000)
        .between(
            F.expr("percentile(o_totalprice, 0.4)"),
            F.expr("percentile(o_totalprice, 0.6)"),
        )
        .alias("median_within_bound"),
    )


@query(
    "q36_collect_agg",
    sql="""
    SELECT
      c_mktsegment AS segment,
      array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
      count(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
    operators=("A-collect",),
)
def q36_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregate, made deterministic (and engine-
    comparable) by sorting and joining to a string."""
    c = catalog.load(spark, sf_dir, "customer")
    return c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.concat_ws(",", F.sort_array(F.collect_set("c_nationkey"))).alias("nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "q37_asof_join",
    sql="""
    SELECT e.event_id, e.user_id, o.o_orderdate AS last_order_ts
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    operators=("J-asof",),
)
def q37_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each event ↔ the latest order at or before it) —
    Spark has no native ASOF, so this is the scalable composition: tag
    and union both streams, sort within each key partition, and carry
    the last seen order timestamp forward with last(ignorenulls) over
    an unbounded-preceding window. ONE shuffle on the join key — no
    per-group pandas, no broadcast of either side (pyspark guide's
    merge_asof alternative is the non-scalable fallback). Ties
    (order and event at the same instant) sort the order first,
    matching ASOF's >= semantics."""
    e = catalog.load(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("o_ts"),
        F.lit(1).alias("is_event"),
    )
    o = catalog.load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("o_ts"),
        F.lit(0).alias("is_event"),
    )
    tagged = e.unionByName(o)
    w = (
        W.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn("last_order_ts", F.last("o_ts", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", F.col("k").alias("user_id"), "last_order_ts")
    )


@query(
    "q38_range_join",
    sql="""
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '10 minutes'
    """,
    operators=("J-range",),
)
def q38_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: ordered event pairs of the same user
    within 10 minutes. The naive form is an inequality join (a per-key
    cross product); the scalable composition buckets time into
    10-minute cells and joins on (key, cell) with each left row probing
    its own and the next cell — candidates shrink from O(n²) per key to
    the events in two cells, then the exact predicate filters."""
    ev = catalog.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 600).alias("cell"),
    )
    left = ev.select(
        F.col("event_id").alias("event_a"),
        "user_id",
        F.col("ts").alias("ts_a"),
        F.explode(F.array(F.col("cell"), F.col("cell") + 1)).alias("probe_cell"),
    )
    right = ev.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        F.col("cell").alias("cell_b"),
    )
    return (
        left.join(
            right,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("probe_cell") == F.col("cell_b")),
        )
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES"))
        )
        .select("event_a", "event_b", "user_id")
    )


@query(
    "q55_window_range_frame",
    sql="""
    SELECT
      o_custkey  AS custkey,
      o_orderkey AS order_id,
      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY epoch(o_orderdate)::BIGINT
        RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
    FROM orders
    """,
    operators=("Window-rangeframe",),
)
def q55_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per-customer trailing-30-day revenue. A RANGE frame
    (unlike ROWS) includes every peer with the same ordering value, so
    same-day ties are frame-safe and the result is deterministic
    without a tie-break column. Ordering key is epoch seconds (both
    engines); the sum is decimal-exact."""
    o = catalog.load(spark, sf_dir, "orders")
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_id"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d"),
    )


@query(
    "q56_window_navigation",
    sql="""
    SELECT
      o_custkey  AS custkey,
      o_orderkey AS order_id,
      first_value(o_orderkey) OVER w AS first_order,
      last_value(o_orderkey)  OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate ASC, o_orderkey ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING) AS last_order,
      dense_rank()   OVER w AS drank,
      ntile(4)       OVER w AS quartile,
      round(percent_rank() OVER w, 6) AS prank,
      round(cume_dist()    OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    operators=("Window-nav",),
)
def q56_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation + distribution window functions: first/last value,
    dense_rank, ntile, percent_rank, cume_dist — fully ordered (orderkey
    tie-break) so every function is deterministic."""
    o = catalog.load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_id"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "q57_date_spine",
    sql="""
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '1996-01-01 00:00:00',
                                    TIMESTAMP '1996-01-31 00:00:00',
                                    INTERVAL 1 DAY)) AS day
    ),
    daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-02-01 00:00:00'
      GROUP BY 1
    )
    SELECT s.day AS day, coalesce(d.n, 0) AS n_orders
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
    operators=("C-generate", "J2", "C13"),
)
def q57_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date spine LEFT-joined to per-day order counts — the
    gaps-get-zero report shape (sequence() + explode is Spark's
    generate_series). The spine is generated, broadcastable, and
    pruned; the fact side keeps its pushed-down date window."""
    o = catalog.load(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("timestamp_ntz"),
                F.lit("1996-01-31").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp_ntz"))
        )
        .groupBy(
            F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_orders")
    )


@query(
    "q58_timestamp_parse",
    sql="""
    WITH strs AS (
      SELECT o_orderkey, strftime(o_orderdate, '%m-%d-%Y') AS date_str,
             o_orderpriority
      FROM orders
    )
    SELECT
      strptime(date_str, '%m-%d-%Y') AS parsed_ts,
      count(*) AS n_orders,
      count(try_strptime(o_orderpriority, '%m-%d-%Y')) AS n_bad_parses
    FROM strs
    GROUP BY 1
    """,
    operators=("C7", "C8", "C10"),
)
def q58_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→timestamp parsing with an explicit format (the
    reference's ``to_datetime(format='%m-%d-%Y')``, portfolio-etl.py
    :695) plus the coercing variant on garbage input
    (``errors='coerce'`` ≡ try_to_timestamp → NULL, counted as 0 by
    count())."""
    o = catalog.load(spark, sf_dir, "orders")
    strs = o.select(
        F.date_format("o_orderdate", "MM-dd-yyyy").alias("date_str"),
        "o_orderpriority",
    )
    return (
        strs.groupBy(
            F.to_timestamp("date_str", "MM-dd-yyyy")
            .cast("timestamp_ntz")
            .alias("parsed_ts")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(
                F.expr("try_to_timestamp(o_orderpriority, 'MM-dd-yyyy')")
            ).alias("n_bad_parses"),
        )
    )


@query(
    "q59_shipping_priority",
    sql="""
    SELECT
      l.l_orderkey AS order_id,
      CAST(round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
      o.o_orderdate AS orderdate,
      o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderdate ASC, order_id ASC
    LIMIT 10
    """,
    operators=("J2", "J3", "A3", "O2", "W2", "W4"),
)
def q59_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — the flagship composite: segment-filtered
    customer dim (broadcast) × orders × lineitem (key-shuffled), date
    predicates pushed into both fact scans, grouped revenue, top-10
    with a fully deterministic sort (exact decimal revenue, then
    date/key). TakeOrderedAndProject keeps only 10×partitions rows."""
    c = catalog.load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = catalog.load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = catalog.load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    from portfolio1_etl_spark.functions import dsum_product

    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_id"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            dsum_product(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(), F.col("orderdate").asc(), F.col("order_id").asc()
        )
        .limit(10)
        .select("order_id", "revenue", "orderdate", "priority")
    )


@query(
    "q39_unpivot",
    sql="""
    WITH agg AS (
      SELECT l_returnflag AS returnflag,
             sum(l_quantity) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT returnflag, 'qty' AS measure, qty AS value FROM agg
    UNION ALL
    SELECT returnflag, 'price' AS measure, price AS value FROM agg
    """,
    operators=("A-unpivot",),
)
def q39_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack()."""
    from portfolio1_etl_spark.functions import dsum_money

    li = catalog.load(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.sum("l_quantity").alias("qty"),
        dsum_money("l_extendedprice").alias("price"),
    )
    return agg.selectExpr(
        "returnflag", "stack(2, 'qty', qty, 'price', price) AS (measure, value)"
    )


@query(
    "q66_array_functions",
    sql="""
    SELECT
      vec_id,
      len(list_filter(embedding::DOUBLE[], x -> x > 0.1))      AS n_above,
      len(list_filter(embedding::DOUBLE[], x -> x > 0.1)) > 0  AS any_above,
      len(list_filter(embedding::DOUBLE[], x -> abs(x) >= 1.0)) = 0 AS all_below_one,
      list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))) AS l1_norm
    FROM embeddings
    """,
    operators=("A-array", "C-hof"),
)
def q66_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column:
    filter/exists/forall/aggregate — all JVM-side lambdas, the idiom
    that replaces per-row Python loops on array columns. l1_norm is a
    sequential fold → bitwise-identical to DuckDB's list_sum."""
    e = catalog.load(spark, sf_dir, "embeddings")
    v = "transform(embedding, x -> cast(x as double))"
    return e.select(
        "vec_id",
        F.expr(f"size(filter({v}, x -> x > 0.1))").cast("long").alias("n_above"),
        F.expr(f"exists({v}, x -> x > 0.1)").alias("any_above"),
        F.expr(f"forall({v}, x -> abs(x) < 1.0)").alias("all_below_one"),
        F.expr(
            f"aggregate({v}, cast(0.0 as double), (acc, x) -> acc + abs(x))"
        ).alias("l1_norm"),
    )


@query(
    "q67_string_extras",
    sql="""
    SELECT
      p_partkey AS sku,
      lpad(CAST(p_partkey AS VARCHAR), 8, '0')   AS padded_id,
      split_part(p_type, ' ', 1)                 AS type_head,
      left(p_name, 4)                            AS name_prefix,
      right(p_brand, 2)                          AS brand_tail,
      translate(p_brand, '#', '-')               AS brand_dashed,
      repeat('*', p_size % 5)                    AS stars
    FROM part
    """,
    operators=("C1", "C3", "C4"),
)
def q67_string_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string surface: lpad, split_part, left/right, translate,
    repeat — the remainder of the cleaning toolbox beyond q04."""
    p = catalog.load(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("sku"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_id"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.substring(F.col("p_name"), 1, 4).alias("name_prefix"),
        F.substring(F.col("p_brand"), -2, 2).alias("brand_tail"),
        F.translate(F.col("p_brand"), "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5)).alias("stars"),
    )


@query(
    "q68_null_functions",
    sql="""
    SELECT
      o_orderkey AS order_id,
      nullif(o_orderstatus, 'O')                     AS status_or_null,
      ifnull(nullif(o_orderstatus, 'O'), 'OPEN')     AS status_filled,
      greatest(o_totalprice, 100000.0)               AS floored_price,
      least(o_totalprice, 100000.0)                  AS capped_price,
      o_totalprice IS NULL                           AS price_missing
    FROM orders
    """,
    operators=("C13", "C-null"),
)
def q68_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: nullif / ifnull / greatest / least /
    IS NULL — the coalesce family beyond q05's fillna."""
    o = catalog.load(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        F.col("o_orderkey").alias("order_id"),
        status_or_null.alias("status_or_null"),
        F.ifnull(status_or_null, F.lit("OPEN")).alias("status_filled"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("floored_price"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("capped_price"),
        F.isnull(F.col("o_totalprice")).alias("price_missing"),
    )


@query(
    "q48_map_functions",
    sql="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS c,
             sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_sum
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN c END), 0)
                AS BIGINT) AS clicks,
           coalesce(string_agg(CASE WHEN c >= 5 THEN event_type END, ','
                               ORDER BY event_type), '') AS hot_types,
           CAST(sum(c) AS BIGINT) AS total_events,
           CAST(sum(k_sum) AS BIGINT) AS props_k_total
    FROM per_type
    GROUP BY user_id
    """,
    operators=("C-map", "C15", "A-collect"),
)
def q48_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: per-user event-type counts become a
    real ``map<string,bigint>`` (map_from_entries over sorted
    entries), then every downstream result is computed THROUGH map
    operators — size, element_at lookup, map_filter + map_keys
    (threshold selection), aggregate over map_values — plus a
    from_json ``map<string,bigint>`` parse of the props column. The
    oracle recomputes each result relationally, so the map semantics
    (entry order, missing-key lookup, lambda filters) are all value
    -checked. Maps shuffle as compact binary structs — at scale this
    is the pattern for per-entity feature bundles."""
    e = catalog.load(spark, sf_dir, "events").withColumn(
        "props_map", F.from_json("props", "map<string,bigint>")
    )
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.element_at("props_map", "k")).alias("k_sum"),
    )
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "c")))
        ).alias("tc"),
        F.sum("k_sum").alias("props_k_total"),
    )
    return m.select(
        "user_id",
        F.size("tc").cast("long").alias("n_types"),
        F.coalesce(F.element_at("tc", "click"), F.lit(0)).cast("long").alias("clicks"),
        F.concat_ws(
            ",", F.map_keys(F.map_filter("tc", lambda k, v: v >= F.lit(5)))
        ).alias("hot_types"),
        F.aggregate(
            F.map_values("tc"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_events"),
        F.col("props_k_total").cast("long"),
    )


@query(
    "q84_local_supplier_volume",
    sql="""
    SELECT n_name AS nation,
           CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    """,
    operators=("J3", "J-star", "A1", "W2", "P5"),
)
def q84_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-table join that stress-tests join
    ordering at scale: two facts (orders⋈lineitem) sort-merge on the
    order key; customer/supplier/nation/region are broadcast dims; the
    region filter prunes before any fact shuffles; revenue is the
    decimal-exact discounted price. The same-nation predicate
    (c_nationkey = s_nationkey) rides on the supplier join, not a
    post-filter, so mismatched rows never materialize."""
    from portfolio1_etl_spark.functions import dsum_product

    li = catalog.load(spark, sf_dir, "lineitem")
    o = catalog.load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    c = catalog.load(spark, sf_dir, "customer")
    s = catalog.load(spark, sf_dir, "supplier")
    n = catalog.load(spark, sf_dir, "nation")
    r = catalog.load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        dsum_product(disc_price).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "q88_lateral_topn",
    sql="""
    SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
           t.o_totalprice AS totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    operators=("J-lateral", "O2", "W4"),
)
def q88_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) through
    the SQL entry path — the one registered query issued via
    ``spark.sql`` rather than the DataFrame builder, proving both
    front-ends hit the same Catalyst plans. Spark de-correlates the
    lateral into a ranked window join (no per-row re-execution);
    deterministic via the (price DESC, orderkey ASC) tie-break."""
    catalog.load(spark, sf_dir, "customer").createOrReplaceTempView("q88_customer")
    catalog.load(spark, sf_dir, "orders").createOrReplaceTempView("q88_orders")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
               t.o_totalprice AS totalprice
        FROM q88_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM q88_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@query(
    "q170_balance_deciles",
    sql="""
    WITH ranked AS (
      SELECT c_mktsegment AS segment, c_acctbal,
        ntile(10) OVER w AS decile,
        percent_rank() OVER w AS pr,
        cume_dist() OVER w AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey)
    )
    SELECT segment, CAST(decile AS BIGINT) AS decile,
      count(*) AS n_customers,
      round(min(c_acctbal), 2) AS min_bal,
      round(max(c_acctbal), 2) AS max_bal,
      round(max(pr), 6) AS max_percent_rank,
      round(max(cd), 6) AS max_cume_dist
    FROM ranked
    GROUP BY segment, decile
    """,
    operators=("Window-ntile", "Window-rank", "A1"),
)
def q170_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile segmentation — the distribution-ranking window trio the
    registry had not exercised: ``ntile`` (equal-count buckets),
    ``percent_rank`` ((rank−1)/(n−1)), and ``cume_dist`` (inclusive
    CDF position), per market segment over account balance. The
    window ORDER BY carries the primary key as tiebreak, which is
    what makes ntile's bucket assignment deterministic under equal
    balances (both engines distribute rows, not values). percent_rank
    and cume_dist are exact small-integer ratios — identical doubles —
    rounded 6 dp per the registry contract.

    A 5-value partition key is the single-reducer hazard in disguise
    (each segment is ~1/5 of ALL customers — billions of rows per
    window partition at 100 TB), so the ranking trio is recomputed
    from operators/ranks.with_exact_rank over $100-wide balance cells
    (acctbal's domain is spec-fixed [−999.99, 9999.99] at every SF →
    ≤ 110 cells per segment; within-cell sorts stay bounded), then
    ntile/percent_rank/cume_dist derived arithmetically from the
    exact rank — same values, no partition holds more than one cell."""
    c = catalog.load(spark, sf_dir, "customer")
    rk = with_exact_rank(
        c.select(
            F.col("c_mktsegment").alias("segment"), "c_acctbal", "c_custkey"
        ),
        order_by=[F.col("c_acctbal"), F.col("c_custkey")],
        bucket=F.floor(F.col("c_acctbal") / 100).cast("long"),
        group_cols=["segment"],
    )
    ranked = rk.select(
        "segment",
        "c_acctbal",
        ntile_from_rank(F.col("_rank"), F.col("_n"), 10).alias("decile"),
        percent_rank_from_rank(F.col("_rank"), F.col("_n")).alias("pr"),
        cume_dist_from_rank(F.col("_rank"), F.col("_n")).alias("cd"),
    )
    return ranked.groupBy("segment", F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.max("pr"), 6).alias("max_percent_rank"),
        F.round(F.max("cd"), 6).alias("max_cume_dist"),
    )


# ---------------------------------------------------------------------------
# q245 — rollup with GROUPING labels (r10)
# ---------------------------------------------------------------------------


@query(
    "q245_rollup_grouping_labels",
    sql="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           CASE WHEN GROUPING(y) = 1 THEN -1 ELSE y END AS year,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(y) AS BIGINT)
             AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderpriority,
             CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders)
    GROUP BY ROLLUP(o_orderpriority, y)
    """,
    operators=("A-rollup", "X-grouping-id", "A1"),
)
def q245_rollup_grouping_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with ``grouping()``/``grouping_id()`` LABELS — the part
    of the hierarchical-agg surface q17/q18 left unexercised: report
    rows must distinguish a real NULL group from a rollup TOTAL row,
    which only the grouping indicator can do (a priority literally
    named 'ALL' would collide with the coalesced label otherwise; the
    indicator is authoritative). gid is the standard bit encoding
    (first grouping column = MSB — spelled explicitly in the oracle
    so both engines agree by construction, not by dialect accident).
    Exact integer cents; one map-side-combinable rollup pass."""
    o = catalog.load(spark, sf_dir, "orders")
    src = o.select(
        "o_orderpriority",
        F.year("o_orderdate").cast("long").alias("y"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    g = src.rollup("o_orderpriority", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.grouping("o_orderpriority").alias("gp"),
        F.grouping("y").alias("gy"),
    )
    return g.select(
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        F.when(F.col("gy") == 1, F.lit(-1)).otherwise(F.col("y")).alias("year"),
        (F.col("gp") * 2 + F.col("gy")).cast("long").alias("gid"),
        "n_orders",
        "sum_cents",
    )


# ---------------------------------------------------------------------------
# q246 — NEAREST-match as-of join (r10)
# ---------------------------------------------------------------------------


@query(
    "q246_asof_nearest",
    sql="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM events),
    w AS (
      SELECT user_id, event_type, us,
        last_value(CASE WHEN event_type = 'purchase' THEN us END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS UNBOUNDED PRECEDING) AS prev_p,
        last_value(CASE WHEN event_type = 'purchase' THEN us END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC
                ROWS UNBOUNDED PRECEDING) AS next_p
      FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_errors,
           CAST(sum(CASE WHEN prev_p IS NOT NULL OR next_p IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(least(coalesce(us - prev_p, next_p - us),
                          coalesce(next_p - us, us - prev_p)))
                AS BIGINT) AS sum_abs_gap_us
    FROM w WHERE event_type = 'error'
    GROUP BY 1
    """,
    operators=("J-asof", "X-asof-nearest", "Window-frame"),
)
def q246_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of — q37 covered the backward direction; this
    is the |Δt|-minimizing variant every incident-correlation join
    wants (which purchase is closest to each error, before OR after).
    Composed scalably as TWO running last(ignorenulls) frames over the
    same per-user sort — one forward (previous purchase), one
    REVERSE-ordered (next purchase; a (CURRENT ROW, UNBOUNDED
    FOLLOWING) frame would re-aggregate the tail per row, the
    documented O(n²) WindowExec trap) — then least() of the two gaps.
    All math in exact integer microseconds. Per-user windows, no
    single-partition hazard; ties on equidistant purchases don't
    affect the output (only the gap is emitted)."""
    e = catalog.load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    p_us = F.when(F.col("event_type") == "purchase", F.col("us"))
    fwd = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rev = (
        W.partitionBy("user_id")
        .orderBy(F.col("us").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w = e.select(
        "user_id",
        "event_type",
        "us",
        F.last(p_us, ignorenulls=True).over(fwd).alias("prev_p"),
        F.last(p_us, ignorenulls=True).over(rev).alias("next_p"),
    )
    gap = F.least(
        F.coalesce(F.col("us") - F.col("prev_p"), F.col("next_p") - F.col("us")),
        F.coalesce(F.col("next_p") - F.col("us"), F.col("us") - F.col("prev_p")),
    )
    return (
        w.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_errors"),
            F.sum(
                F.when(
                    F.col("prev_p").isNotNull() | F.col("next_p").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_matched"),
            F.sum(gap).cast("long").alias("sum_abs_gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# q247 — BAG set operations (INTERSECT ALL / EXCEPT ALL) (r10)
# ---------------------------------------------------------------------------


@query(
    "q247_bag_set_ops",
    sql="""
    WITH a AS (
      SELECT o_custkey AS ck, o_orderpriority AS pri FROM orders
      WHERE o_orderstatus = 'O'),
    b AS (
      SELECT o_custkey AS ck, o_orderpriority AS pri FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'),
    i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
    x AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    SELECT pri,
           (SELECT CAST(count(*) AS BIGINT) FROM i WHERE i.pri = p.pri)
             AS n_intersect_all,
           (SELECT CAST(count(*) AS BIGINT) FROM x WHERE x.pri = p.pri)
             AS n_except_all
    FROM (SELECT DISTINCT o_orderpriority AS pri FROM orders) p
    """,
    operators=("U-intersect-all", "U-except-all", "A1"),
)
def q247_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the BAG (multiset) semantics the
    q25/q26 DISTINCT set ops deliberately do not exercise: duplicates
    intersect by min(count) and subtract by count difference, which
    matters whenever (key, attr) pairs legitimately repeat (here a
    customer ordering at the same priority several times). Spark's
    intersectAll/exceptAll plan as count-aggregate + generate — one
    shuffle each, no row-by-row matching. Counts per priority keep
    the output grain bounded; the oracle spells the same bag algebra
    with SQL INTERSECT ALL / EXCEPT ALL."""
    o = catalog.load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("ck"), F.col("o_orderpriority").alias("pri")
    )
    b = o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")).select(
        F.col("o_custkey").alias("ck"), F.col("o_orderpriority").alias("pri")
    )
    i = a.intersectAll(b).groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_intersect_all")
    )
    x = a.exceptAll(b).groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n_except_all")
    )
    pris = o.select(F.col("o_orderpriority").alias("pri")).distinct()
    return (
        pris.join(i, "pri", "left")
        .join(x, "pri", "left")
        .select(
            "pri",
            F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
            F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
        )
    )


# ---------------------------------------------------------------------------
# q248 — null-safe equality join (r10)
# ---------------------------------------------------------------------------


@query(
    "q248_null_safe_join",
    sql="""
    WITH a AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 50 END AS k,
             count(*) AS na
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1),
    b AS (
      SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderkey % 50 END AS k,
             count(*) AS nb
      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
    SELECT CAST(coalesce(a.k, -1) AS BIGINT) AS k_label,
           CAST(a.na AS BIGINT) AS na, CAST(b.nb AS BIGINT) AS nb
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    operators=("J-null-safe", "A1"),
)
def q248_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): a
    NULL bucket on both sides MATCHES — the semantics a plain equi
    join silently drops (NULL = NULL is NULL, the row vanishes, and
    nobody notices the unattributed bucket is missing). This is the
    standard gotcha in sessionless/unattributed-key rollup joins.
    Spark plans ``eqNullSafe`` as a hash join on a null-safe key (no
    nested loop); both sides aggregate to the ≤51-key grain first, so
    the join is dimension-sized."""
    o = catalog.load(spark, sf_dir, "orders")

    def side(status: str, mod: int, alias: str) -> DataFrame:
        return (
            o.filter(F.col("o_orderstatus") == status)
            .select(
                F.when(F.col("o_orderkey") % mod == 0, F.lit(None))
                .otherwise(F.col("o_orderkey") % 50)
                .alias("k")
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    a = side("O", 7, "na")
    b = side("F", 11, "nb").withColumnRenamed("k", "kb")
    return a.join(b, F.col("k").eqNullSafe(F.col("kb"))).select(
        F.coalesce(F.col("k"), F.lit(-1)).cast("long").alias("k_label"),
        "na",
        "nb",
    )
