"""Distributed logistic-regression training as DataFrame algebra —
the trainable counterpart of the heuristic quality gate (q62): learn
a classifier over per-document features with full-batch gradient
descent, every round ONE tiny aggregate + a broadcast weight update.

Cross-engine determinism (the same trick as q123's training replay):
round the weight vector to 8 dp after every update. Feature values
are pre-rounded decimals and the dot product w·x is pure IEEE
multiply/add (bit-identical in Spark and DuckDB); only exp() can
differ in the last ulp, and its ~1e-15 contribution to an averaged
gradient is far below the 8th decimal — so each round's input is
IDENTICAL in both engines and errors never compound. The oracle
replays training with unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from portfolio1_etl_spark.functions.numeric import zround
from portfolio1_etl_spark.operators import checkpointing

#: feature column names; x0 is the intercept (always 1.0)
FEATURES = ("x0", "x1", "x2")


def train_logreg(
    feats: DataFrame,
    rounds: int = 10,
    lr: float = 2.0,
) -> DataFrame:
    """Train on ``feats`` (x0, x1, x2, y) and emit one row per round:
    (round, w0, w1, w2, n_correct) — the 8-dp-rounded weights after
    the round's update and the training-set correct count under them
    (prediction = w·x ≥ 0, engine-exact as pure multiply/add).

    Scale: the feature table is materialized once; each round is ONE
    1-row mean-gradient aggregate broadcast back into the update —
    O(rounds) cheap passes, weights never touch the driver."""
    f = checkpointing.materialize(feats)
    # weights live in the data path as a 1-row DataFrame (never the
    # driver), exactly like the k-means codebook
    spark = feats.sparkSession
    wdf = spark.createDataFrame([(0.0, 0.0, 0.0)], "w0 double, w1 double, w2 double")
    margin = "(w0 * x0 + w1 * x1 + w2 * x2)"
    p = f"(1.0 / (1.0 + exp(-{margin})))"

    def _stats(w: DataFrame) -> DataFrame:
        """ONE pass over the features per round: the mean gradient
        (for the next update) AND the correct count (this round's
        metric) under the same weights — halves the feature scans vs
        separate gradient/accuracy passes."""
        return checkpointing.materialize(
            f.crossJoin(F.broadcast(w)).agg(
                *[
                    F.avg(F.expr(f"({p} - y) * {x}")).alias(f"g{i}")
                    for i, x in enumerate(FEATURES)
                ],
                F.sum(
                    F.when(
                        (F.expr(margin) >= 0) == (F.col("y") >= 0.5), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_correct"),
            )
        )

    stats = _stats(wdf)
    out: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        # the weight update is MATERIALIZED per round deliberately: an
        # r13 A/B left it lazy and the per-round crossJoin chain then
        # re-spawned its broadcast jobs inside every later round's
        # evaluation — 66 → 111 Spark jobs, 3.7 s → 7.3 s at sf0.1 —
        # so the one tiny checkpoint job per round is the cheaper
        # side of the trade at any scale
        wdf = checkpointing.materialize(
            wdf.crossJoin(stats).select(
                *[
                    # zround canonicalizes signed zero (the q159
                    # class) — mirrored in the oracle's w-update CTE
                    zround(
                        F.col(f"w{i}") - F.lit(lr) * F.col(f"g{i}"), 8
                    ).alias(f"w{i}")
                    for i in range(3)
                ]
            )
        )
        stats = _stats(wdf)  # gradient for round rnd+1, metric for rnd
        out.append(
            wdf.crossJoin(stats.select("n_correct")).select(
                F.lit(rnd).cast("long").alias("round"),
                "w0",
                "w1",
                "w2",
                "n_correct",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res
