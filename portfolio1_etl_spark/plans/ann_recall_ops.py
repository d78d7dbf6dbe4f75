"""[ext] On-scoreboard ANN quality: recall@3 of every approximate
nearest-neighbor variant against the exact brute-force baseline, as a
registry query (r6 — q104's measured-FP-rate pattern applied to the
similarity family).

Both sides are COMPOSED FROM THE REGISTERED QUERIES THEMSELVES: the
Spark body calls each method's registered fn, the oracle splices each
method's registered SQL in as a subquery — so the recall on the board
is the recall of exactly the pipelines the correctness gate checks,
and the two can never drift apart. A method losing recall (a probe
bug, a quantization regression, a codebook seed change) moves a
value-hashed number the driver compares, instead of only failing a
local pytest bar.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark.plans.registry import REGISTRY, query

#: every ANN variant reports top-3; the exact q80 baseline reports
#: top-5 and is truncated to rank ≤ 3 as the shared ground truth.
_K = 3
_METHODS = (
    "q82_lsh_ann",
    "q83_ivf_ann",
    "q95_quantized_ann",
    "q99_pq_ann",
    "q265_ivfpq_index_probe",
)


def _recall_sql() -> str:
    exact = REGISTRY["q80_cosine_topk"].sql
    union = " UNION ALL ".join(
        f"SELECT '{m}' AS method, query_id, neighbor_id FROM ({REGISTRY[m].sql})"
        for m in _METHODS
    )
    values = ",".join(f"('{m}')" for m in _METHODS)
    return f"""
    WITH exact3 AS (
      SELECT query_id, neighbor_id FROM ({exact}) WHERE rank <= {_K}
    ),
    methods(method) AS (VALUES {values}),
    results AS ({union}),
    hits AS (
      SELECT r.method, count(*) AS n_hits
      FROM results r JOIN exact3 e USING (query_id, neighbor_id)
      GROUP BY r.method
    ),
    truth AS (SELECT count(*) AS n_truth FROM exact3)
    SELECT m.method,
           CAST({_K} AS BIGINT) AS k,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(t.n_truth AS BIGINT) AS n_truth,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_truth, 4) AS recall
    FROM methods m LEFT JOIN hits h ON m.method = h.method, truth t
    """


@query(
    "q114_ann_recall",
    sql=_recall_sql(),
    operators=("X-sim-recall", "X-sim-lsh", "X-sim-ivf", "X-sim-quantized", "X-sim-pq"),
)
def q114_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 per ANN method vs the exact top-3: |method ∩ exact| /
    |exact| over the 8 scoreboard queries. LEFT join from the method
    list so a method that collapses to zero hits still reports its
    row (recall 0.0) instead of vanishing. The documented recall bars
    are pinned in tests/test_quantized_ann.py against THIS query's
    output, so the bars and the scoreboard read the same number.

    Truth-caching note (r7, measured): the exact truth feeds both the
    hit join and the denominator, but an explicit
    ``checkpointing.materialize`` on it is a measured LOSS (sf0.1
    warm min: 4.27s raw vs 4.53s materialized; q129's heavier truth
    8.38s vs 11.53s) — Spark's ReusedExchange already computes the
    duplicated subplan once within this query, while the eager
    checkpoint adds a full barrier (no overlap with the method legs)
    plus a store-and-reload. Left deliberately uncached."""
    # The six legs are independent pipelines; one of them (q265)
    # BUILDS a persisted index eagerly inside its fn — dozens of small
    # sequential driver actions. Constructing the legs from driver
    # threads overlaps that build with the other legs' planning
    # (guide §2.6): total build cost drops from the sum of the legs
    # to roughly the slowest leg.
    from portfolio1_etl_spark.parallelism import overlap_jobs

    exact, *method_dfs = overlap_jobs(
        lambda: REGISTRY["q80_cosine_topk"].fn(spark, sf_dir),
        *[
            (lambda m=m: REGISTRY[m].fn(spark, sf_dir))
            for m in _METHODS
        ],
    )
    exact3 = exact.filter(F.col("rank") <= _K).select(
        "query_id", "neighbor_id"
    )
    results = reduce(
        DataFrame.unionByName,
        [
            df.select(F.lit(m).alias("method"), "query_id", "neighbor_id")
            for m, df in zip(_METHODS, method_dfs)
        ],
    )
    hits = results.join(exact3, ["query_id", "neighbor_id"]).groupBy("method").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    truth = exact3.agg(F.count(F.lit(1)).alias("n_truth"))
    methods = spark.createDataFrame([(m,) for m in _METHODS], "method string")
    return (
        methods.join(hits, "method", "left")
        .crossJoin(F.broadcast(truth))
        .select(
            "method",
            F.lit(_K).cast("long").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_truth"), 4
            ).alias("recall"),
        )
    )
