"""[ext] Warehouse-maintenance queries: SCD2 history build and
MERGE-style upsert — the Delta-less emulations of `MERGE INTO` and
slowly-changing-dimension maintenance that a plain-parquet lake runs
as batch jobs.

Both are pure DataFrame plans (window functions / full-outer join +
coalesce); at scale the MERGE shape is one shuffle on the merge key
and SCD2 is one shuffle on the entity key — no driver-side loops, no
row-at-a-time logic. The streaming twin of the MERGE lives in
``streaming/jobs.py`` (foreachBatch inventory merge).

Money parity note: balance arithmetic goes through DECIMAL(18,2) in
BOTH engines (see functions/exact.py rationale) — double addition of
2-decimal money diverges from DuckDB on .xx5 boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions import dsum_money
from portfolio1_etl_spark.operators.scd import scd2_rebuild
from portfolio1_etl_spark.plans.registry import query


@query(
    "q46_scd2_intervals",
    sql="""
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER w AS prev_type,
             row_number() OVER w AS seq
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type AS state, ts AS valid_from, seq
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current,
           CAST(row_number() OVER w2 AS BIGINT) AS version
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, seq)
    """,
    operators=("X-scd2", "Window-nav", "W-dedup-consecutive"),
)
def q46_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing-dimension) history build from an
    event stream: per user, consecutive duplicate states collapse
    (change detection via lag), each surviving change opens a validity
    interval closed by the next change's timestamp; the open interval
    is the current row. One shuffle on user_id serves all three window
    passes. This is the batch rebuild (operators/scd.scd2_rebuild);
    the incremental daily form is operators/scd.scd2_apply — replayed
    history of touched entities + new events through the same plan,
    equivalence asserted in tests/test_scd2.py."""
    return scd2_rebuild(catalog.load(spark, sf_dir, "events"))


#: Merge cutoff: customers below it form the base dimension; order
#: activity from customers at/above it arrives as "new" keys → INSERT.
_MERGE_CUTOFF = 500


@query(
    "q47_merge_upsert",
    sql=f"""
    WITH base AS (
      SELECT c_custkey AS custkey, c_acctbal AS balance
      FROM customer WHERE c_custkey < {_MERGE_CUTOFF}
    ),
    changes AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS delta,
             count(*) AS n_orders
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01'
      GROUP BY o_custkey
    )
    SELECT
      coalesce(b.custkey, c.custkey) AS custkey,
      CASE WHEN b.custkey IS NULL THEN 'insert'
           WHEN c.custkey IS NULL THEN 'keep'
           ELSE 'update' END AS action,
      CAST(coalesce(CAST(b.balance AS DECIMAL(18,2)), 0)
           + coalesce(CAST(c.delta AS DECIMAL(18,2)), 0) AS DOUBLE)
        AS new_balance,
      CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders
    FROM base b FULL OUTER JOIN changes c ON b.custkey = c.custkey
    """,
    operators=("X-merge-upsert", "J-full", "C13"),
)
def q47_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation on plain parquet: base dimension FULL
    OUTER JOIN the aggregated change set on the merge key, action
    classified per row (update / insert / keep), updated values via
    coalesce. The physical shape is ONE shuffle on the merge key
    (the aggregation and the join share it); matched-only bases
    ('keep') pass through untouched. The writer side (not part of the
    correctness surface) overwrites only the partitions containing
    touched keys — see operators/sinks.write_partitioned."""
    base = (
        catalog.load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _MERGE_CUTOFF)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("balance"),
        )
    )
    changes = (
        catalog.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("delta"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.custkey") == F.col("c.custkey"), "full_outer")
    return merged.select(
        F.coalesce(F.col("b.custkey"), F.col("c.custkey")).alias("custkey"),
        F.when(F.col("b.custkey").isNull(), F.lit("insert"))
        .when(F.col("c.custkey").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
        (
            F.coalesce(F.col("b.balance").cast("decimal(18,2)"), F.lit(0))
            + F.coalesce(F.col("c.delta").cast("decimal(18,2)"), F.lit(0))
        )
        .cast("double")
        .alias("new_balance"),
        F.coalesce(F.col("c.n_orders"), F.lit(0)).cast("long").alias("n_orders"),
    )


@query(
    "q138_table_stats",
    sql="""
    WITH cols(col_idx, col_name) AS (
      VALUES (1, 'l_orderkey'), (2, 'l_partkey'), (3, 'l_suppkey'),
             (4, 'l_quantity'), (5, 'l_extendedprice'), (6, 'l_discount')
    ),
    wide AS (
      SELECT count(*) AS n_rows,
        count(distinct l_orderkey) AS nd1, min(l_orderkey::DOUBLE) AS mn1, max(l_orderkey::DOUBLE) AS mx1,
        count(distinct l_partkey)  AS nd2, min(l_partkey::DOUBLE)  AS mn2, max(l_partkey::DOUBLE)  AS mx2,
        count(distinct l_suppkey)  AS nd3, min(l_suppkey::DOUBLE)  AS mn3, max(l_suppkey::DOUBLE)  AS mx3,
        count(distinct l_quantity) AS nd4, min(l_quantity::DOUBLE) AS mn4, max(l_quantity::DOUBLE) AS mx4,
        count(distinct l_extendedprice) AS nd5, min(l_extendedprice::DOUBLE) AS mn5, max(l_extendedprice::DOUBLE) AS mx5,
        count(distinct l_discount) AS nd6, min(l_discount::DOUBLE) AS mn6, max(l_discount::DOUBLE) AS mx6,
        sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1,
        sum(CASE WHEN l_partkey  IS NULL THEN 1 ELSE 0 END) AS nn2,
        sum(CASE WHEN l_suppkey  IS NULL THEN 1 ELSE 0 END) AS nn3,
        sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nn4,
        sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS nn5,
        sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS nn6
      FROM lineitem
    )
    SELECT c.col_name AS "column",
      CAST(w.n_rows AS BIGINT) AS n_rows,
      CAST(CASE c.col_idx WHEN 1 THEN nn1 WHEN 2 THEN nn2 WHEN 3 THEN nn3
           WHEN 4 THEN nn4 WHEN 5 THEN nn5 ELSE nn6 END AS BIGINT) AS n_nulls,
      CAST(CASE c.col_idx WHEN 1 THEN nd1 WHEN 2 THEN nd2 WHEN 3 THEN nd3
           WHEN 4 THEN nd4 WHEN 5 THEN nd5 ELSE nd6 END AS BIGINT) AS n_distinct,
      CASE c.col_idx WHEN 1 THEN mn1 WHEN 2 THEN mn2 WHEN 3 THEN mn3
           WHEN 4 THEN mn4 WHEN 5 THEN mn5 ELSE mn6 END AS min_val,
      CASE c.col_idx WHEN 1 THEN mx1 WHEN 2 THEN mx2 WHEN 3 THEN mx3
           WHEN 4 THEN mx4 WHEN 5 THEN mx5 ELSE mx6 END AS max_val
    FROM cols c, wide w
    """,
    operators=("X-table-stats", "A1"),
)
def q138_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style statistics over lineitem's numeric columns — the
    stats table that drives broadcast-vs-shuffle decisions, AQE skew
    thresholds, and layout choices at 100 TB. ONE scan computes every
    column's (nulls, NDV, min, max) as a fused single-row aggregate;
    the long-format stack is a narrow map. Exact NDV here because the
    oracle needs exact values — the operator takes
    ``exact_ndv=False`` for the HLL production form (same plan
    shape)."""
    from portfolio1_etl_spark.operators.stats import collect_table_stats

    li = catalog.load(spark, sf_dir, "lineitem")
    return collect_table_stats(
        li,
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        ],
    )


@query(
    "q151_change_data_feed",
    sql="""
    WITH base AS (
      SELECT o_orderkey AS id, o_custkey AS val FROM orders
    ),
    from_v AS (
      SELECT * FROM base WHERE id % 10 < 8
      UNION ALL
      SELECT * FROM base WHERE id % 100 = 7
    ),
    to_base AS (
      SELECT id,
             CASE WHEN id % 3 = 0 THEN val + 1000000 ELSE val END AS val
      FROM base WHERE id % 10 >= 2
    ),
    to_v AS (
      SELECT * FROM to_base
      UNION ALL
      SELECT * FROM to_base WHERE id % 100 = 13
    ),
    ins AS (SELECT * FROM to_v EXCEPT ALL SELECT * FROM from_v),
    del AS (SELECT * FROM from_v EXCEPT ALL SELECT * FROM to_v),
    ins_rn AS (
      SELECT id, val, row_number() OVER (
        PARTITION BY id ORDER BY val ASC NULLS FIRST) AS rn
      FROM ins
    ),
    del_rn AS (
      SELECT id, val, row_number() OVER (
        PARTITION BY id ORDER BY val ASC NULLS FIRST) AS rn
      FROM del
    )
    SELECT i.id AS id, i.val AS val,
           CASE WHEN d.id IS NULL THEN 'insert'
                ELSE 'update_postimage' END AS change_type
    FROM ins_rn i LEFT JOIN del_rn d ON i.id = d.id AND i.rn = d.rn
    UNION ALL
    SELECT d.id AS id, d.val AS val,
           CASE WHEN i.id IS NULL THEN 'delete'
                ELSE 'update_preimage' END AS change_type
    FROM del_rn d LEFT JOIN ins_rn i ON i.id = d.id AND i.rn = d.rn
    """,
    operators=("X-cdc-feed", "Window-rank", "U1"),
)
def q151_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC feed operator on the scoreboard (r8 — previously
    pytest-only): ``operators.sinks.change_feed`` diffing two
    synthesized versions of an order-derived state, with keyed
    Delta-CDF reclassification. The synthesis bakes in every feed
    class: keys leaving (delete), arriving (insert), value churn
    (update pre/post pairs via ``id % 3``), and DUPLICATE rows on
    both sides (``id % 100`` slices appear twice) so positional
    count-matching — one balanced update pair plus a plain
    insert/delete for the unpaired copy — is what the oracle gates,
    not just the set case. The DuckDB twin replays EXCEPT ALL both
    ways + the keyed reclassification as row_number CTEs. Reference
    analogue: the inventory read-modify-write cycle
    (portfolio-etl.py:634-650) published as deltas."""
    from portfolio1_etl_spark.operators.sinks import change_feed

    o = catalog.load(spark, sf_dir, "orders")
    base = o.select(F.col("o_orderkey").alias("id"), F.col("o_custkey").alias("val"))
    from_v = base.filter(F.col("id") % 10 < 8).unionAll(
        base.filter(F.col("id") % 100 == 7)
    )
    to_base = base.filter(F.col("id") % 10 >= 2).select(
        "id",
        F.when(F.col("id") % 3 == 0, F.col("val") + 1000000)
        .otherwise(F.col("val"))
        .alias("val"),
    )
    to_v = to_base.unionAll(to_base.filter(F.col("id") % 100 == 13))
    feed = change_feed(from_v, to_v, key_cols=["id"])
    return feed.withColumnRenamed("_change", "change_type")


@query(
    "q153_join_strategy_advisor",
    sql="""
    WITH n AS (SELECT count(*) AS rws, count(DISTINCT n_nationkey) AS ndv FROM nation),
    c1 AS (SELECT count(*) AS rws, count(DISTINCT c_nationkey) AS ndv FROM customer),
    c2 AS (SELECT count(*) AS rws, count(DISTINCT c_custkey) AS ndv FROM customer),
    o1 AS (SELECT count(*) AS rws, count(DISTINCT o_custkey) AS ndv FROM orders),
    o2 AS (SELECT count(*) AS rws, count(DISTINCT o_orderkey) AS ndv FROM orders),
    l AS (SELECT count(*) AS rws, count(DISTINCT l_orderkey) AS ndv FROM lineitem),
    pairs AS (
      SELECT 'nation' AS left_table, 'customer' AS right_table,
             n.rws AS lr, n.ndv AS lndv, 28 AS lw,
             c1.rws AS rr, c1.ndv AS rndv, 60 AS rw
      FROM n, c1
      UNION ALL
      SELECT 'customer', 'orders', c2.rws, c2.ndv, 60,
             o1.rws, o1.ndv, 72
      FROM c2, o1
      UNION ALL
      SELECT 'orders', 'lineitem', o2.rws, o2.ndv, 72,
             l.rws, l.ndv, 108
      FROM o2, l
    )
    SELECT left_table, right_table,
      CAST(lr AS BIGINT) AS left_rows, CAST(rr AS BIGINT) AS right_rows,
      CAST(lr * lw AS BIGINT) AS left_bytes,
      CAST(rr * rw AS BIGINT) AS right_bytes,
      CASE
        WHEN lr*lw <= 102400 AND rr*rw <= 102400 AND lr*lw <= rr*rw
          THEN 'broadcast_left'
        WHEN lr*lw <= 102400 AND rr*rw <= 102400 THEN 'broadcast_right'
        WHEN lr*lw <= 102400 THEN 'broadcast_left'
        WHEN rr*rw <= 102400 THEN 'broadcast_right'
        ELSE 'sort_merge' END AS strategy,
      CASE
        WHEN CAST(lr AS DOUBLE)/greatest(lndv,1) > 16.0
             AND CAST(rr AS DOUBLE)/greatest(rndv,1) > 16.0 THEN 'both'
        WHEN CAST(lr AS DOUBLE)/greatest(lndv,1) > 16.0 THEN 'left'
        WHEN CAST(rr AS DOUBLE)/greatest(rndv,1) > 16.0 THEN 'right'
        ELSE 'none' END AS skew_side
    FROM pairs
    """,
    operators=("X-join-advisor", "X-analyze-stats", "A1"),
)
def q153_join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats → planner feedback on the scoreboard (r8 — the r7
    verdict's 'nothing consumes ANALYZE' gap): for three prospective
    joins of the star schema, ``operators.advisor.join_advice_frame``
    profiles each side with ONE single-row aggregate scan (row count +
    join-key NDV, the q138 shape), estimates bytes from schema widths,
    and emits the broadcast-vs-sort-merge verdict plus an NDV-based
    skew flag — entirely as a lazy plan (1×1 cross joins of the
    aggregates; zero data collects). ``exact_ndv=True`` here because
    the oracle needs exact counts; production uses the HLL form with
    the identical plan shape, feeding a threshold compare where ±2%
    never flips a sane configuration. The 100 KiB threshold is scaled
    to the test SF; at production scale the default is Spark's own
    10 MiB. Width table: int 4, bigint 8, double 8, timestamp 8,
    string 20 (planning estimates — the SizeEstimator compromise)."""
    from portfolio1_etl_spark.operators.advisor import join_advice_frame

    thr = 100 * 1024
    pairs = [
        ("nation", "n_nationkey", "customer", "c_nationkey"),
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ]
    out = None
    for lt, lk, rt, rk in pairs:
        adv = join_advice_frame(
            catalog.load(spark, sf_dir, lt),
            catalog.load(spark, sf_dir, rt),
            lk,
            rk,
            how="inner",
            broadcast_threshold_bytes=thr,
            exact_ndv=True,
            names=(lt, rt),
        )
        out = adv if out is None else out.unionByName(adv)
    return out


def _chain_path(sf_dir: str) -> str:
    """Deterministic per-dataset location for the q168 manifest chain
    (the q135 ``index_path`` pattern, via the shared helper)."""
    return catalog.scratch_path("chain", sf_dir)


#: q168 state definitions — three snapshots of an order-derived table
#: whose membership/values are pure id arithmetic, so DuckDB replays
#: every version AND every step diff in closed form.
_V_SQL = {
    0: "SELECT o_orderkey AS id, o_custkey AS val FROM orders WHERE o_orderkey % 4 < 3",
    1: """SELECT o_orderkey AS id,
                 o_custkey + CASE WHEN o_orderkey % 5 = 0 THEN 100000 ELSE 0 END AS val
          FROM orders WHERE o_orderkey % 4 > 0""",
    2: """SELECT o_orderkey AS id,
                 o_custkey + CASE WHEN o_orderkey % 5 = 0 THEN 200000 ELSE 0 END AS val
          FROM orders WHERE o_orderkey % 2 = 0""",
}


@query(
    "q168_versioned_time_travel",
    sql=f"""
    WITH s0 AS ({_V_SQL[0]}), s1 AS ({_V_SQL[1]}), s2 AS ({_V_SQL[2]}),
    agg AS (
      SELECT 0 AS version, count(*) AS n_rows, sum(val) AS sum_val FROM s0
      UNION ALL
      SELECT 1, count(*), sum(val) FROM s1
      UNION ALL
      SELECT 2, count(*), sum(val) FROM s2
    ),
    feeds AS (
      SELECT 0 AS version,
             (SELECT count(*) FROM s0) AS n_inserts,
             0 AS n_deletes
      UNION ALL
      SELECT 1,
             (SELECT count(*) FROM (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s0)),
             (SELECT count(*) FROM (SELECT * FROM s0 EXCEPT ALL SELECT * FROM s1))
      UNION ALL
      SELECT 2,
             (SELECT count(*) FROM (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s1)),
             (SELECT count(*) FROM (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s2))
    )
    SELECT a.version, CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(a.sum_val AS BIGINT) AS sum_val,
           CAST(f.n_inserts AS BIGINT) AS n_inserts,
           CAST(f.n_deletes AS BIGINT) AS n_deletes
    FROM agg a JOIN feeds f ON a.version = f.version
    """,
    operators=("K-versioned", "X-manifest-commit", "X-cdc-feed", "X-time-travel"),
)
def q168_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-committed versioned chain ON the scoreboard (r8 —
    previously pytest-only): three snapshots of an order-derived state
    write through ``write_versioned(capture_changes=True)``, then
    every row of the result is read BACK through the transactional
    machinery — per-version row counts and value sums via
    ``read_version`` (time travel resolved through the manifest file
    lists) and per-step insert/delete counts via
    ``read_changes`` (served from the write-time delta files, not a
    snapshot re-diff). The oracle replays all three states and their
    multiset diffs in closed form, so a wrong manifest, a misrouted
    version read, or a corrupted captured feed all hash-mismatch.
    The chain rebuilds per run under a temp path (the q135 persisted-
    index pattern); build cost is three small writes + diffs."""
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        read_changes,
        read_version,
        write_versioned,
    )

    path = _chain_path(sf_dir)
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    base = o.select(F.col("o_orderkey").alias("id"), F.col("o_custkey").alias("val"))
    states = [
        base.filter(F.col("id") % 4 < 3),
        base.filter(F.col("id") % 4 > 0).select(
            "id",
            (
                F.col("val")
                + F.when(F.col("id") % 5 == 0, F.lit(100000)).otherwise(0)
            ).alias("val"),
        ),
        base.filter(F.col("id") % 2 == 0).select(
            "id",
            (
                F.col("val")
                + F.when(F.col("id") % 5 == 0, F.lit(200000)).otherwise(0)
            ).alias("val"),
        ),
    ]
    for st in states:
        write_versioned(st, path, capture_changes=True)
    out = None
    for v in range(3):
        agg = read_version(spark, path, v).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        if v == 0:
            # v0's feed is definitionally all-inserts: no join needed
            row = agg.select(
                F.lit(0).cast("long").alias("version"),
                "n_rows",
                "sum_val",
                F.col("n_rows").alias("n_inserts"),
                F.lit(0).cast("long").alias("n_deletes"),
            )
        else:
            # coalesce: SUM over an EMPTY feed (identical adjacent
            # states — degenerate fuzz tables hit this) is NULL while
            # the oracle's count(*) is 0
            feed = read_changes(spark, path, v - 1, v).agg(
                F.coalesce(
                    F.sum(F.when(F.col("_change") == "insert", 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_inserts"),
                F.coalesce(
                    F.sum(F.when(F.col("_change") == "delete", 1).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_deletes"),
            )
            row = agg.crossJoin(feed).select(
                F.lit(v).cast("long").alias("version"),
                "n_rows",
                "sum_val",
                "n_inserts",
                "n_deletes",
            )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "q172_replica_reconcile",
    sql="""
    WITH a AS (
      SELECT o_orderkey AS id, o_custkey AS val, o_orderstatus AS st
      FROM orders
    ),
    b AS (  -- replica with silent corruption on every 97th key
      SELECT id,
             CASE WHEN id % 97 = 0 THEN val + 1 ELSE val END AS val,
             st
      FROM a
    ),
    da AS (
      SELECT CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '|' ||
                   CAST(val AS VARCHAR) || '|' || st), 1, 12))::BIGINT
                  AS BIGINT) AS h,
             id % 16 AS bucket
      FROM a
    ),
    db AS (
      SELECT CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '|' ||
                   CAST(val AS VARCHAR) || '|' || st), 1, 12))::BIGINT
                  AS BIGINT) AS h,
             id % 16 AS bucket
      FROM b
    ),
    sa AS (SELECT bucket, count(*) AS n_a, sum(h) AS dig_a FROM da GROUP BY bucket),
    sb AS (SELECT bucket, count(*) AS n_b, sum(h) AS dig_b FROM db GROUP BY bucket)
    SELECT sa.bucket, CAST(sa.n_a AS BIGINT) AS n_a, CAST(sb.n_b AS BIGINT) AS n_b,
           CAST(sa.dig_a AS BIGINT) AS dig_a, CAST(sb.dig_b AS BIGINT) AS dig_b,
           CAST(CASE WHEN sa.dig_a = sb.dig_b AND sa.n_a = sb.n_b
                THEN 1 ELSE 0 END AS BIGINT) AS consistent
    FROM sa JOIN sb ON sa.bucket = sb.bucket
    """,
    operators=("X-reconcile", "X-anti-entropy", "A1"),
)
def q172_replica_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica reconciliation (anti-entropy audit) — how two copies of
    a 100 TB table are compared WITHOUT moving the data: each side
    reduces to per-bucket (count, content-digest) summaries — one scan,
    one small aggregate each — and only the handful of summary rows
    travel; mismatched buckets then scope the expensive row-level diff
    to 1/16th of the keyspace per bucket (the Cassandra/Dynamo repair
    pattern, Merkle depth 1). The digest is a SUM of per-row md5
    prefixes: order-independent (any partitioning), update-sensitive,
    and exactly replayable in both engines (48-bit prefixes summed
    over ≤millions of rows stay far under BIGINT range). The replica
    carries injected corruption on every 97th key, so the scoreboard
    gates both directions: corrupt buckets flag 0, clean buckets 1."""
    o = catalog.load(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("val"),
        F.col("o_orderstatus").alias("st"),
    )
    b = a.select(
        "id",
        F.when(F.col("id") % 97 == 0, F.col("val") + 1)
        .otherwise(F.col("val"))
        .alias("val"),
        "st",
    )

    def digest(df: DataFrame, n: str, d: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("id").cast("string"),
                        F.col("val").cast("string"),
                        F.col("st"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return (
            df.select((F.col("id") % 16).alias("bucket"), h.alias("h"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(n),
                F.sum("h").cast("long").alias(d),
            )
        )

    sa = digest(a, "n_a", "dig_a")
    sb = digest(b, "n_b", "dig_b")
    return sa.join(sb, "bucket").select(
        "bucket",
        "n_a",
        "n_b",
        "dig_a",
        "dig_b",
        F.when(
            (F.col("dig_a") == F.col("dig_b")) & (F.col("n_a") == F.col("n_b")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("consistent"),
    )


@query(
    "q180_pit_scd2_join",
    sql="""
    WITH st AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type <> 'purchase'
    ),
    ordered AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER w AS prev_type,
             row_number() OVER w AS seq
      FROM st
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type AS state, ts AS valid_from, seq
      FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    iv AS (
      SELECT user_id, state, valid_from,
             lead(valid_from) OVER w2 AS valid_to
      FROM changes
      WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, seq)
    ),
    p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT coalesce(iv.state, 'none') AS state,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM p LEFT JOIN iv
      ON p.user_id = iv.user_id
     AND p.ts >= iv.valid_from
     AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    GROUP BY 1
    """,
    operators=("X-scd2", "X-pit-join", "J-range", "A1"),
)
def q180_pit_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension: the user's state
    history (operators/scd.scd2_rebuild over non-purchase events) is
    the slowly-changing dimension; each purchase joins the ONE
    validity interval containing its timestamp — [valid_from,
    valid_to) half-open, so a purchase landing exactly on a change
    boundary reads the NEW state, the invariant every warehouse PIT
    join must pin. Purchases before the user's first recorded state
    fall through the left join as 'none'. The join is equality on
    user_id with an interval predicate inside the same user's (small)
    history — at 100 TB the dimension side is the per-entity interval
    table, orders of magnitude below the fact stream; a pathologically
    deep history would switch to the sorted merge-asof form
    (plans/advanced.q37's operator)."""
    e = catalog.load(spark, sf_dir, "events")
    iv = scd2_rebuild(e.filter(F.col("event_type") != "purchase")).select(
        F.col("user_id").alias("iv_user"),
        "state",
        "valid_from",
        "valid_to",
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = p.join(
        iv,
        (F.col("user_id") == F.col("iv_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "left",
    )
    return j.groupBy(
        F.coalesce(F.col("state"), F.lit("none")).alias("state")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dsum_money("value").alias("revenue"),
    )


#: q185 state definitions — two snapshots of an order-derived table in
#: closed form (id membership and value churn are pure id arithmetic),
#: so DuckDB recomputes version 1's aggregate directly while Spark
#: maintains it INCREMENTALLY from version 0 plus the captured feed.
_INCR_VAL = (
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " + CASE WHEN o_orderkey % 5 = 0 THEN {bump} ELSE 0 END"
)
_INCR_V1_SQL = f"""
    SELECT o_orderkey AS id, o_custkey % 7 AS grp,
           {_INCR_VAL.format(bump=12345)} AS val
    FROM orders WHERE o_orderkey % 4 > 0
"""


@query(
    "q185_incremental_agg",
    sql=f"""
    SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(val) AS BIGINT) AS sum_val
    FROM ({_INCR_V1_SQL}) GROUP BY grp
    """,
    operators=("X-matview-maintain", "K-versioned", "A1"),
)
def q185_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance on the scoreboard:
    version 0 of an order-derived state is aggregated ONCE
    (operators/matview.sum_count_view), version 1 commits through the
    versioned sink with write-time CDC capture, and the view refreshes
    from the CHANGE FEED alone (matview.apply_delta — insert adds,
    delete subtracts; cost scales with the delta, not the table). The
    oracle recomputes version 1's aggregate directly in closed form,
    so a wrong feed, a mis-signed delta, or a stale group would all
    hash-mismatch. The chain rebuilds per run under a temp path (the
    q135/q168 pattern); membership churn covers deletes (id%4==0
    leaves: v0 is id%4<3, v1 is id%4>0), inserts (id%4==3 arrives),
    and value updates (id%5==0 bumps)."""
    from portfolio1_etl_spark.operators.matview import (
        apply_delta,
        sum_count_view,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        read_changes,
        read_version,
        write_versioned,
    )

    path = catalog.scratch_path("incr_view", sf_dir)
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("long")
    bump = F.when(F.col("o_orderkey") % 5 == 0, F.lit(12345)).otherwise(
        F.lit(0)
    )
    base = o.select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_custkey") % 7).alias("grp"),
        cents.alias("val0"),
        (cents + bump).alias("val1"),
    )
    v0 = base.filter(F.col("id") % 4 < 3).select(
        "id", "grp", F.col("val0").alias("val")
    )
    v1 = base.filter(F.col("id") % 4 > 0).select(
        "id", "grp", F.col("val1").alias("val")
    )
    write_versioned(v0, path, capture_changes=True)
    write_versioned(v1, path, capture_changes=True)
    view0 = sum_count_view(read_version(spark, path, 0), ["grp"], "val")
    feed = read_changes(spark, path, 0, 1)
    return apply_delta(view0, feed, ["grp"], "val")


@query(
    "q192_merge_full_matrix",
    sql=f"""
    WITH base AS (
      SELECT c_custkey AS custkey, c_acctbal AS balance
      FROM customer WHERE c_custkey < {_MERGE_CUTOFF}
    ),
    changes AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS delta,
             (o_custkey % 10 = 0) AS close_flag
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01'
      GROUP BY o_custkey
    )
    SELECT custkey, new_balance, action FROM (
      SELECT
        coalesce(b.custkey, c.custkey) AS custkey,
        CAST(coalesce(CAST(b.balance AS DECIMAL(18,2)), 0)
             + coalesce(CAST(c.delta AS DECIMAL(18,2)), 0) AS DOUBLE)
          AS new_balance,
        CASE
          WHEN b.custkey IS NOT NULL AND c.custkey IS NOT NULL
               AND c.close_flag THEN 'delete'
          WHEN b.custkey IS NOT NULL AND c.custkey IS NOT NULL
            THEN 'update'
          WHEN b.custkey IS NULL AND NOT c.close_flag THEN 'insert'
          WHEN b.custkey IS NULL THEN 'skip'
          ELSE 'keep' END AS action
      FROM base b FULL OUTER JOIN changes c ON b.custkey = c.custkey
    ) WHERE action IN ('keep', 'update', 'insert')
    """,
    operators=("X-merge-upsert", "X-merge-delete", "J-full", "C13"),
)
def q192_merge_full_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Delta-style MERGE matrix on plain parquet — q47 plus
    the two clauses it lacked: WHEN MATCHED AND <cond> THEN DELETE
    (flagged keys vanish from the post-merge state) and WHEN NOT
    MATCHED AND <cond> THEN skip (a delete arriving for an absent key
    is a no-op, not an insert). Output is the SURVIVING state, so a
    misrouted clause changes the row set, not just a label. Same
    physical shape as q47 — ONE shuffle on the merge key shared by the
    change aggregation and the full outer join; the action matrix is a
    narrow projection. Balance arithmetic rides DECIMAL(18,2) per the
    money-parity contract."""
    base = (
        catalog.load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _MERGE_CUTOFF)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("balance"),
        )
    )
    changes = (
        catalog.load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("delta"),
        )
        .withColumn("close_flag", F.col("custkey") % 10 == 0)
    )
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.custkey") == F.col("c.custkey"), "full_outer")
    action = (
        F.when(
            F.col("b.custkey").isNotNull()
            & F.col("c.custkey").isNotNull()
            & F.col("c.close_flag"),
            F.lit("delete"),
        )
        .when(
            F.col("b.custkey").isNotNull() & F.col("c.custkey").isNotNull(),
            F.lit("update"),
        )
        .when(F.col("b.custkey").isNull() & ~F.col("c.close_flag"), F.lit("insert"))
        .when(F.col("b.custkey").isNull(), F.lit("skip"))
        .otherwise(F.lit("keep"))
    )
    out = merged.select(
        F.coalesce(F.col("b.custkey"), F.col("c.custkey")).alias("custkey"),
        (
            F.coalesce(F.col("b.balance").cast("decimal(18,2)"), F.lit(0))
            + F.coalesce(F.col("c.delta").cast("decimal(18,2)"), F.lit(0))
        )
        .cast("double")
        .alias("new_balance"),
        action.alias("action"),
    )
    return out.filter(F.col("action").isin("keep", "update", "insert"))


# ---------------------------------------------------------------------------
# q239 — MERGE into a manifest chain via row-level delta commits (r10)
# ---------------------------------------------------------------------------

#: q239 state definitions — closed-form id arithmetic so DuckDB
#: replays every version of the delta chain without any storage:
#:   v0  base snapshot: orders with id % 3 != 0
#:   v1  upsert of every id % 7 == 0 order (val + 55): matched ids
#:       update, the id % 21-ish ids absent from v0 insert
#:   v2  delete of every id % 11 == 0 key
_D_SQL = {
    0: "SELECT o_orderkey AS id, o_custkey AS val FROM orders "
       "WHERE o_orderkey % 3 <> 0",
    1: """SELECT o_orderkey AS id, o_custkey + 55 AS val FROM orders
          WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT o_orderkey, o_custkey FROM orders
          WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0""",
}
_D_SQL[2] = f"SELECT * FROM ({_D_SQL[1]}) WHERE id % 11 <> 0"


@query(
    "q239_merge_into_chain",
    sql=f"""
    WITH d0 AS ({_D_SQL[0]}), d1 AS ({_D_SQL[1]}), d2 AS ({_D_SQL[2]}),
    agg AS (
      SELECT 0 AS version, count(*) AS n_rows, sum(val) AS sum_val FROM d0
      UNION ALL SELECT 1, count(*), sum(val) FROM d1
      UNION ALL SELECT 2, count(*), sum(val) FROM d2
    ),
    feeds AS (
      SELECT 0 AS version, (SELECT count(*) FROM d0) AS n_inserts,
             0 AS n_deletes
      UNION ALL
      SELECT 1,
        (SELECT count(*) FROM (SELECT * FROM d1 EXCEPT ALL SELECT * FROM d0)),
        (SELECT count(*) FROM (SELECT * FROM d0 EXCEPT ALL SELECT * FROM d1))
      UNION ALL
      SELECT 2,
        (SELECT count(*) FROM (SELECT * FROM d2 EXCEPT ALL SELECT * FROM d1)),
        (SELECT count(*) FROM (SELECT * FROM d1 EXCEPT ALL SELECT * FROM d2))
    )
    SELECT a.version, CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(a.sum_val AS BIGINT) AS sum_val,
           CAST(f.n_inserts AS BIGINT) AS n_inserts,
           CAST(f.n_deletes AS BIGINT) AS n_deletes
    FROM agg a JOIN feeds f ON a.version = f.version
    """,
    operators=(
        "K-versioned",
        "X-row-delete",
        "X-merge-delta",
        "X-cdc-feed",
        "X-time-travel",
    ),
)
def q239_merge_into_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 row-level delta commits ON the scoreboard: a manifest
    chain takes a base snapshot, then a MERGE (``upsert_into_chain``:
    every id % 7 == 0 order updates val + 55, the ones absent from the
    base insert) and a DELETE (``delete_from_chain``: id % 11 == 0) —
    each an O(delta) commit that reuses the prior data files
    byte-for-byte and adds only equality-delete vectors + appended
    rows (the scale answer to the reference's read-modify-write
    inventory overwrite, portfolio-etl.py:634-648, which rewrites the
    whole table to change a slice). Every version then reads BACK
    through ``read_version`` (the anti-join delete resolution) and
    every step's captured feed through ``read_changes``; the oracle
    replays all three states and their multiset diffs in closed form,
    so a wrong seq rule (a delete suppressing its own commit's
    appends), a broken vector, or a corrupted feed all
    hash-mismatch."""
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        delete_from_chain,
        read_changes,
        read_version,
        upsert_into_chain,
        write_versioned,
    )

    path = catalog.scratch_path("deltachain", sf_dir)
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("id"), F.col("o_custkey").alias("val")
    )
    write_versioned(
        base.filter(F.col("id") % 3 != 0), path,
        capture_changes=True,
    )
    upsert_into_chain(
        spark,
        path,
        base.filter(F.col("id") % 7 == 0).select(
            "id", (F.col("val") + 55).alias("val")
        ),
        ["id"],
    )
    delete_from_chain(
        spark,
        path,
        base.filter((F.col("id") % 11 == 0)).select("id"),
        ["id"],
    )
    out = None
    for v in range(3):
        agg = read_version(spark, path, v).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        if v == 0:
            row = agg.select(
                F.lit(0).cast("long").alias("version"),
                "n_rows",
                "sum_val",
                F.col("n_rows").alias("n_inserts"),
                F.lit(0).cast("long").alias("n_deletes"),
            )
        else:
            feed = read_changes(spark, path, v - 1, v).agg(
                F.coalesce(
                    F.sum(F.when(F.col("_change") == "insert", 1).otherwise(0)),
                    F.lit(0),
                ).cast("long").alias("n_inserts"),
                F.coalesce(
                    F.sum(F.when(F.col("_change") == "delete", 1).otherwise(0)),
                    F.lit(0),
                ).cast("long").alias("n_deletes"),
            )
            row = agg.crossJoin(feed).select(
                F.lit(v).cast("long").alias("version"),
                "n_rows",
                "sum_val",
                "n_inserts",
                "n_deletes",
            )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# q240 — type-widening schema evolution on a versioned chain (r10)
# ---------------------------------------------------------------------------

#: q240 state definitions — v0 stores val as INT (small id arithmetic),
#: v1 rewrites it as BIGINT with values only a 64-bit column can hold
#: (custkey * 2^33 on id % 6 == 0), so the promotion is load-bearing:
#: an engine that silently kept INT would overflow, one that refused
#: the promotion could not commit v1 at all.
_W_SQL = {
    0: "SELECT o_orderkey AS id, CAST(o_custkey AS INTEGER) AS val "
       "FROM orders WHERE o_orderkey % 2 = 0",
    1: """SELECT o_orderkey AS id,
                 CAST(o_custkey AS BIGINT)
                   * CASE WHEN o_orderkey % 6 = 0
                          THEN CAST(8589934592 AS BIGINT) ELSE 1 END AS val
          FROM orders WHERE o_orderkey % 2 = 0""",
}


@query(
    "q240_widened_chain",
    sql=f"""
    WITH w0 AS ({_W_SQL[0]}), w1 AS ({_W_SQL[1]}),
    agg AS (
      SELECT 0 AS version, count(*) AS n_rows, sum(CAST(val AS BIGINT)) AS sum_val
      FROM w0
      UNION ALL SELECT 1, count(*), sum(val) FROM w1
    ),
    feeds AS (
      SELECT 0 AS version, (SELECT count(*) FROM w0) AS n_inserts,
             0 AS n_deletes
      UNION ALL
      SELECT 1,
        (SELECT count(*) FROM (SELECT id, CAST(val AS BIGINT) AS v FROM w1
                               EXCEPT ALL
                               SELECT id, CAST(val AS BIGINT) FROM w0)),
        (SELECT count(*) FROM (SELECT id, CAST(val AS BIGINT) AS v FROM w0
                               EXCEPT ALL
                               SELECT id, CAST(val AS BIGINT) FROM w1))
    )
    SELECT a.version, CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(a.sum_val AS BIGINT) AS sum_val,
           CAST(f.n_inserts AS BIGINT) AS n_inserts,
           CAST(f.n_deletes AS BIGINT) AS n_deletes
    FROM agg a JOIN feeds f ON a.version = f.version
    """,
    operators=("K-versioned", "X-type-widening", "X-cdc-feed", "X-time-travel"),
)
def q240_widened_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening ON the scoreboard (r10): a manifest chain whose
    value column promotes INT → BIGINT mid-history, with v1 values
    only the wide type can hold. The write path audits the promotion
    against the predecessor's footer schema and RECORDS it in the
    manifest (``type_promotions``); the captured change feed crosses
    the boundary by lifting both sides to the wide type (injective
    cast — unchanged rows net to zero); time travel returns each
    version's own schema. The query reads every version and the
    boundary feed back through the machinery; the oracle replays both
    states and the boundary diff in closed form over BIGINT-lifted
    values, so a dropped promotion record, an overflow, or a
    mis-folded boundary feed all hash-mismatch."""
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        _read_manifest,
        read_changes,
        read_version,
        write_versioned,
    )

    path = catalog.scratch_path("widechain", sf_dir)
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    even = o.filter(F.col("o_orderkey") % 2 == 0)
    write_versioned(
        even.select(
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").cast("int").alias("val"),
        ),
        path,
        capture_changes=True,
    )
    write_versioned(
        even.select(
            F.col("o_orderkey").alias("id"),
            (
                F.col("o_custkey").cast("long")
                * F.when(F.col("o_orderkey") % 6 == 0, F.lit(8589934592))
                .otherwise(F.lit(1))
            ).alias("val"),
        ),
        path,
        capture_changes=True,
    )
    # the promotion must actually be on record — fail the query loudly
    # if the manifest lost it (a driver row-count would not catch that)
    promos = (_read_manifest(spark, path, 1) or {}).get("type_promotions")
    if promos != {"val": {"from": "int", "to": "bigint"}}:
        raise AssertionError(f"manifest lost the promotion record: {promos}")
    v0 = read_version(spark, path, 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("val").cast("long")).cast("long").alias("sum_val"),
    )
    v1 = read_version(spark, path, 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val").cast("long").alias("sum_val"),
    )
    feed = read_changes(spark, path, 0, 1).agg(
        F.coalesce(
            F.sum(F.when(F.col("_change") == "insert", 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_inserts"),
        F.coalesce(
            F.sum(F.when(F.col("_change") == "delete", 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_deletes"),
    )
    r0 = v0.select(
        F.lit(0).cast("long").alias("version"), "n_rows", "sum_val",
        F.col("n_rows").alias("n_inserts"),
        F.lit(0).cast("long").alias("n_deletes"),
    )
    r1 = v1.crossJoin(feed).select(
        F.lit(1).cast("long").alias("version"), "n_rows", "sum_val",
        "n_inserts", "n_deletes",
    )
    return r0.unionByName(r1)


# ---------------------------------------------------------------------------
# q244 — incremental JOIN-view maintenance from two CDC chains (r10)
# ---------------------------------------------------------------------------

#: q244 state definitions, closed-form:
#:   fact A: v0 = orders with id % 3 <> 0; v1 drops id % 5 = 0 and
#:           adds the id % 3 = 0, id % 7 = 0 orders
#:   dim  B: v0 = customers as-is; v1 moves ck % 11 = 0 to 'MOVED'
#: The oracle only needs the FINAL states — the incremental algebra
#: under test must land on exactly the state a direct join computes.
_J_A1 = (
    "SELECT o_orderkey AS id, o_custkey AS ck, "
    "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders "
    "WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0) "
    "OR (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)"
)
_J_B1 = (
    "SELECT c_custkey AS ck, CASE WHEN c_custkey % 11 = 0 "
    "THEN 'MOVED' ELSE c_mktsegment END AS seg FROM customer"
)


@query(
    "q244_incremental_join_view",
    sql=f"""
    WITH a1 AS ({_J_A1}),
    b1 AS ({_J_B1})
    SELECT b1.seg AS segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(a1.cents) AS BIGINT) AS sum_cents
    FROM a1 JOIN b1 ON a1.ck = b1.ck
    GROUP BY 1
    """,
    operators=(
        "X-join-matview",
        "X-z-relation",
        "X-cdc-feed",
        "K-versioned",
        "A1",
    ),
)
def q244_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (r10): a fact chain and a
    dimension chain each advance one CDC-captured version (fact rows
    leave and arrive; a dimension slice re-segments), and the
    materialized fact⋈dim view refreshes from the TWO DELTA FEEDS via
    the Z-relation algebra ΔJ = ΔA⋈B₁ + A₁⋈ΔB − ΔA⋈ΔB
    (operators/matview.apply_join_delta) — cost O(|Δ|·fanout), never
    a full re-join; at 100 TB the deltas are the only thing that
    shuffles. The refreshed view then aggregates per segment, and the
    oracle computes the FINAL-STATE join in closed form — a wrong
    sign, a missed −ΔA⋈ΔB double-count, or a stale multiplicity all
    hash-mismatch. Exact integer cents throughout."""
    from portfolio1_etl_spark.operators.matview import (
        apply_join_delta,
        join_view,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        read_changes,
        read_version,
        write_versioned,
    )

    base = catalog.scratch_path("joinview", sf_dir)
    fs, jpath = _hadoop_fs(spark, base)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    ok = F.col("o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    a_states = [
        o.filter(ok % 3 != 0).select(
            ok.alias("id"), F.col("o_custkey").alias("ck"), cents.alias("cents")
        ),
        o.filter(
            ((ok % 3 != 0) & (ok % 5 != 0)) | ((ok % 3 == 0) & (ok % 7 == 0))
        ).select(
            ok.alias("id"), F.col("o_custkey").alias("ck"), cents.alias("cents")
        ),
    ]
    b_states = [
        c.select(F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")),
        c.select(
            F.col("c_custkey").alias("ck"),
            F.when(F.col("c_custkey") % 11 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
        ),
    ]
    # independent chains built from two driver threads (guide §2.6);
    # commits within each chain stay strictly ordered
    from portfolio1_etl_spark.parallelism import overlap_jobs

    def _build(states, sub):
        def _run():
            for st in states:
                write_versioned(
                    st, f"{base}/{sub}", capture_changes=True
                )
        return _run

    overlap_jobs(_build(a_states, "a"), _build(b_states, "b"))
    view0 = join_view(
        read_version(spark, f"{base}/a", 0),
        read_version(spark, f"{base}/b", 0),
        ["ck"],
    )
    refreshed = apply_join_delta(
        view0,
        read_version(spark, f"{base}/a", 1),
        read_version(spark, f"{base}/b", 1),
        read_changes(spark, f"{base}/a", 0, 1),
        read_changes(spark, f"{base}/b", 0, 1),
        ["ck"],
    )
    return refreshed.groupBy(F.col("seg").alias("segment")).agg(
        F.sum("_mult").cast("long").alias("n_rows"),
        F.sum(F.col("cents") * F.col("_mult")).cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# q263 — join view maintained through ROW-LEVEL delta commits (r11)
# ---------------------------------------------------------------------------

#: q263 closed-form final states. The fact chain advances by a DELETE
#: commit (keys ok % 10 = 1) then an UPSERT commit (ok % 10 = 2 gets
#: cents+7; the ok % 20 = 1 half of the DELETED keys re-inserts at
#: 2*cents — exercising Iceberg's strictly-older equality-delete rule
#: through the view); the dim chain re-segments ck % 7 = 0 by upsert.
_JRD_A = (
    "SELECT o_orderkey AS id, o_custkey AS ck, "
    "CASE WHEN o_orderkey % 10 = 2 "
    "  THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) + 7 "
    "WHEN o_orderkey % 20 = 1 "
    "  THEN 2 * CAST(round(o_totalprice * 100, 0) AS BIGINT) "
    "ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS cents "
    "FROM orders WHERE o_orderkey % 10 <> 1 OR o_orderkey % 20 = 1"
)
_JRD_B = (
    "SELECT c_custkey AS ck, CASE WHEN c_custkey % 7 = 0 "
    "THEN 'MOVED' ELSE c_mktsegment END AS seg FROM customer"
)


@query(
    "q263_joinview_row_deltas",
    sql=f"""
    WITH a1 AS ({_JRD_A}),
    b1 AS ({_JRD_B})
    SELECT b1.seg AS segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(a1.cents) AS BIGINT) AS sum_cents
    FROM a1 JOIN b1 ON a1.ck = b1.ck
    GROUP BY 1
    """,
    operators=(
        "X-join-matview",
        "X-z-relation",
        "X-row-level-delete",
        "K-versioned",
        "A1",
    ),
)
def q263_joinview_row_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q244's incremental join view driven by ROW-LEVEL delta commits
    instead of snapshot writes (r11 — the composition the r10 verdict
    flagged untested): the fact chain takes a DELETE commit
    (equality-delete key vector, prior files byte-identical) then an
    UPSERT commit whose source re-inserts HALF the deleted keys — the
    Iceberg strictly-older rule must let those re-appear — and the dim
    chain re-segments a slice by upsert. The view refreshes from the
    chains' captured CDC feeds alone (read_changes folds the fact
    span's two delta feeds into one net feed), via the same Z-relation
    algebra as q244: cost O(|Δ|·fanout), never a re-join of the full
    chains. Oracle = the closed-form final-state join; a delete that
    leaked through, a lost re-insert, or a stale segment all
    hash-mismatch. Exact integer cents throughout."""
    from portfolio1_etl_spark.operators.matview import (
        apply_join_delta,
        join_view,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        delete_from_chain,
        read_changes,
        read_version,
        upsert_into_chain,
        write_versioned,
    )

    base = catalog.scratch_path("joinview_rd", sf_dir)
    fs, jpath = _hadoop_fs(spark, base)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    c = catalog.load(spark, sf_dir, "customer")
    ok = F.col("o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    a0 = o.select(
        ok.alias("id"), F.col("o_custkey").alias("ck"), cents.alias("cents")
    )
    b0 = c.select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")
    )
    upsert_src = o.filter((ok % 10 == 2) | (ok % 20 == 1)).select(
        ok.alias("id"),
        F.col("o_custkey").alias("ck"),
        F.when(ok % 10 == 2, cents + 7).otherwise(cents * 2).alias("cents"),
    )

    # the two chains live under different paths with no cross-chain
    # dependency — build them from two driver threads (guide §2.6) so
    # the commit machinery's small sequential jobs back-fill each
    # other instead of serializing; within each chain the commits
    # stay strictly ordered
    def _chain_a():
        write_versioned(a0, f"{base}/a", capture_changes=True)
        delete_from_chain(
            spark,
            f"{base}/a",
            a0.filter(F.col("id") % 10 == 1).select("id"),
            ["id"],
        )
        upsert_into_chain(spark, f"{base}/a", upsert_src, ["id"])

    def _chain_b():
        write_versioned(b0, f"{base}/b", capture_changes=True)
        upsert_into_chain(
            spark,
            f"{base}/b",
            b0.filter(F.col("ck") % 7 == 0).withColumn("seg", F.lit("MOVED")),
            ["ck"],
        )

    from portfolio1_etl_spark.parallelism import overlap_jobs

    overlap_jobs(_chain_a, _chain_b)
    view0 = join_view(a0, b0, ["ck"])
    refreshed = apply_join_delta(
        view0,
        read_version(spark, f"{base}/a", 2),
        read_version(spark, f"{base}/b", 1),
        read_changes(spark, f"{base}/a", 0, 2),
        read_changes(spark, f"{base}/b", 0, 1),
        ["ck"],
    )
    return refreshed.groupBy(F.col("seg").alias("segment")).agg(
        F.sum("_mult").cast("long").alias("n_rows"),
        F.sum(F.col("cents") * F.col("_mult")).cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# q288 — incremental AGGREGATE-view maintenance from row-level deltas (r12)
# ---------------------------------------------------------------------------

#: q288 closed-form final state: a DELETE commit removes ok % 10 = 3
#: (minima leave — the dirty-group rescan path); an UPSERT commit gives
#: ok % 10 = 4 cents+13 and re-inserts the ok % 20 = 3 half of the
#: deleted keys at 3× cents (new maxima arrive — the monotone fold).
_AGV_A = (
    "SELECT o_orderkey AS id, o_orderpriority AS grp, "
    "CASE WHEN o_orderkey % 10 = 4 "
    "  THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) + 13 "
    "WHEN o_orderkey % 20 = 3 "
    "  THEN 3 * CAST(round(o_totalprice * 100, 0) AS BIGINT) "
    "ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS cents "
    "FROM orders WHERE o_orderkey % 10 <> 3 OR o_orderkey % 20 = 3"
)


@query(
    "q288_aggview_row_deltas",
    sql=f"""
    WITH a1 AS ({_AGV_A})
    SELECT grp,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM a1 GROUP BY 1
    """,
    operators=(
        "X-agg-matview",
        "X-cdc-feed",
        "X-row-level-delete",
        "K-versioned",
        "A1",
    ),
)
def q288_aggview_row_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental GROUP-BY aggregate-view maintenance (r12 — the r11
    verdict's Missing #2, the most common warehouse materialized-view
    shape; the reference recomputes this report grain from scratch
    every run, portfolio-etl.py:615,627): the base chain takes a
    DELETE commit (equality-delete key vector) then an UPSERT commit
    that re-inserts half the deleted keys at 3× value, and the per-
    priority n_rows/sum/min/max view refreshes from the chain's
    captured CDC feed alone (operators/matview.apply_agg_delta).
    COUNT/SUM fold additively from the signed delta — one key-grain
    shuffle of the CHANGE volume; MIN/MAX fold monotonically for
    inserts, and only groups whose deleted values reach the current
    extremum re-aggregate, semi-joined to the dirty-key set against
    the chain head. Oracle = the closed-form final state recomputed
    whole: a missed dirty group (stale min after its row left), a
    double-subtracted update, or a lost re-insert all hash-mismatch.
    Exact integer cents throughout."""
    from portfolio1_etl_spark.operators.matview import agg_view, apply_agg_delta
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        delete_from_chain,
        read_changes,
        read_version,
        upsert_into_chain,
        write_versioned,
    )

    base = catalog.scratch_path("aggview_rd", sf_dir)
    fs, jpath = _hadoop_fs(spark, base)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    a0 = o.select(
        ok.alias("id"),
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
    )
    write_versioned(a0, f"{base}/a", capture_changes=True)
    delete_from_chain(
        spark, f"{base}/a", a0.filter(F.col("id") % 10 == 3).select("id"), ["id"]
    )
    upsert_src = o.filter((ok % 10 == 4) | (ok % 20 == 3)).select(
        ok.alias("id"),
        F.col("o_orderpriority").alias("grp"),
        F.when(ok % 10 == 4, cents + 13).otherwise(cents * 3).alias("cents"),
    )
    upsert_into_chain(spark, f"{base}/a", upsert_src, ["id"])
    view0 = agg_view(a0, ["grp"], "cents")
    refreshed = apply_agg_delta(
        view0,
        read_changes(spark, f"{base}/a", 0, 2),
        read_version(spark, f"{base}/a", 2),
        ["grp"],
        "cents",
    )
    return refreshed.select(
        "grp",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_val").cast("long").alias("sum_cents"),
        F.col("min_val").cast("long").alias("min_cents"),
        F.col("max_val").cast("long").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# q289 — incremental DISTINCT-COUNT view from row-level deltas (r12)
# ---------------------------------------------------------------------------

#: q289 closed-form final state: DELETE removes ok % 10 = 5; the
#: UPSERT commit re-keys ok % 10 = 6 to a shifted customer (the value
#: the distinct count tracks CHANGES — a delete+insert pair in the
#: feed) and re-inserts the ok % 20 = 5 half of the deleted keys at
#: another shifted customer.
_DCV_A = (
    "SELECT o_orderkey AS id, o_orderpriority AS grp, "
    "CASE WHEN o_orderkey % 10 = 6 THEN o_custkey + 7 "
    "WHEN o_orderkey % 20 = 5 THEN o_custkey + 3 "
    "ELSE o_custkey END AS ck "
    "FROM orders WHERE o_orderkey % 10 <> 5 OR o_orderkey % 20 = 5"
)


@query(
    "q289_distinctview_row_deltas",
    sql=f"""
    WITH a1 AS ({_DCV_A})
    SELECT grp,
           CAST(count(DISTINCT ck) AS BIGINT) AS n_distinct
    FROM a1 GROUP BY 1
    """,
    operators=(
        "X-distinct-matview",
        "X-cdc-feed",
        "X-row-level-delete",
        "K-versioned",
        "A-distinct",
    ),
)
def q289_distinctview_row_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-key COUNT DISTINCT under deletes (r12 — the
    aggregate the module docstring long refused as non-invertible,
    now maintained exactly via the (key, value) multiplicity sidecar:
    the DBSP ``distinct`` operator): the base chain takes a DELETE
    commit then an UPSERT that RE-KEYS a slice to different customers
    (the tracked value itself changes — the hardest feed shape, a
    delete+insert pair per row), and the per-priority distinct
    customer count refreshes from the captured CDC feed alone
    (operators/matview.apply_distinct_delta). The sidecar merge is
    one value-domain-grain shuffle, the view fold is ±1s from cells
    crossing zero — delta-proportional; the base table is never
    rescanned. Oracle = the final state recomputed whole: a cell that
    failed to cross zero, a double-counted re-key, or a leaked delete
    all move the distinct counts."""
    from portfolio1_etl_spark.operators.matview import (
        apply_distinct_delta,
        distinct_view,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _hadoop_fs,
        delete_from_chain,
        read_changes,
        upsert_into_chain,
        write_versioned,
    )

    base = catalog.scratch_path("distinctview_rd", sf_dir)
    fs, jpath = _hadoop_fs(spark, base)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    o = catalog.load(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    a0 = o.select(
        ok.alias("id"),
        F.col("o_orderpriority").alias("grp"),
        F.col("o_custkey").alias("ck"),
    )
    write_versioned(a0, f"{base}/a", capture_changes=True)
    delete_from_chain(
        spark, f"{base}/a", a0.filter(F.col("id") % 10 == 5).select("id"), ["id"]
    )
    upsert_src = o.filter((ok % 10 == 6) | (ok % 20 == 5)).select(
        ok.alias("id"),
        F.col("o_orderpriority").alias("grp"),
        F.when(ok % 10 == 6, F.col("o_custkey") + 7)
        .otherwise(F.col("o_custkey") + 3)
        .alias("ck"),
    )
    upsert_into_chain(spark, f"{base}/a", upsert_src, ["id"])
    aux0, view0 = distinct_view(a0, ["grp"], "ck")
    _, refreshed = apply_distinct_delta(
        aux0, view0, read_changes(spark, f"{base}/a", 0, 2), ["grp"], "ck"
    )
    return refreshed.select("grp", F.col("n_distinct").cast("long").alias("n_distinct"))
