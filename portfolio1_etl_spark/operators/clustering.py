"""Clustering operator library: deterministic distributed Lloyd's
k-means over an embedding column — the "train the codebook" step that
IVF indexing (plans/similarity_ops.q83) stands in for with per-label
means.

Scale shape per iteration: the codebook (k rows) folds into ONE
array-of-structs row that a broadcast nested-loop join appends to
every corpus partition, and the assignment is then a ZERO-SHUFFLE
narrow map — ``array_min(transform(cents, ...))`` computes the
argmin per vector inside whole-stage codegen, so the corpus is never
hash-partitioned (the earlier revision ranked a k×n crossJoin with a
``row_number`` window on vec_id, which shuffled n·k rows every
round). The update is one explode + groupBy (cell, dim) aggregate
whose map-side partial aggregation caps shuffle traffic at k·dim rows
per partition. Centroids are materialized each round (k·dim
values — tiny) so the unrolled lineage never re-executes earlier
rounds.

Determinism (the q83 recipe): centroid components round to 4 dp
(per-dimension mean order differs across engines at ~1e-16) and
squared distances round to 6 dp before the argmin ranks on
(distance, centroid id) — assignments are bitwise-reproducible and a
DuckDB oracle replays the identical iterations. Seeding is
deterministic by construction (caller-supplied predicate, default the
k smallest vec_ids); real pipelines would seed with k-means|| — the
iteration shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import materialize

#: Argmin over the folded codebook column `cents`
#: (array<struct<c_id, cvec>>): 6 dp squared distance per centroid,
#: then `array_min` on (d2, c_id) structs — struct ordering compares
#: d2 first, c_id second, so ties break on centroid id exactly like
#: the old (dist asc, c_id asc) window rank, with zero shuffle.
BEST_CELL = (
    "array_min(transform(cents, c -> struct("
    "round(aggregate(zip_with(v, c.cvec, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6) as d2, "
    "c.c_id as c_id)))"
)


def assign_cells(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, v, cell, d2): nearest centroid per vector; ties break
    on centroid id. ``cent`` (c_id, cvec) folds into one
    array-of-structs row — broadcast-appended to every partition — so
    the argmin is a narrow map: no corpus shuffle, no window.

    An EMPTY codebook yields zero rows (``array_min`` over the empty
    folded array is null and the null-best filter drops every vector)
    — the same contract as the pre-fold crossJoin implementation."""
    cents = cent.agg(
        F.collect_list(F.struct("c_id", "cvec")).alias("cents")
    )
    return (
        vecs.select("vec_id", "v")
        .crossJoin(F.broadcast(cents))
        .withColumn("best", F.expr(BEST_CELL))
        .filter(F.col("best").isNotNull())
        .select(
            "vec_id",
            "v",
            F.col("best.c_id").alias("cell"),
            F.col("best.d2").alias("d2"),
        )
    )


def sample_for_training(
    vecs: DataFrame, fraction: float | None, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic map-only training sample: keep ids whose 48-bit
    md5 hash lands in the first ``fraction`` of 10,000 buckets (the
    q85 salted-hash recipe — no RNG, stable across runs and engines,
    no shuffle). ``None`` or ≥1.0 keeps everything. Codebook TRAINING
    is the only consumer — a k-means codebook estimates k·dim means,
    so a small uniform sample trains a statistically-identical
    codebook at a fraction of the per-iteration cost; the final
    ASSIGNMENT still covers every vector."""
    if fraction is None or fraction >= 1.0:
        return vecs
    bucket = F.expr(
        f"cast(conv(substring(md5(cast({id_col} as string)), 1, 12), 16, 10)"
        " as bigint) % 10000"
    )
    return vecs.filter(bucket < int(fraction * 10000))


def update_centroids(assigned: DataFrame) -> DataFrame:
    """(c_id, cvec): per-cell, per-dimension mean (4 dp), reassembled
    in dimension order. Cells that lost every point disappear."""
    return (
        assigned.select("cell", F.posexplode("v").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.round(F.avg("x"), 4).alias("cx"))
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)"
            ).alias("cvec")
        )
        .select(F.col("cell").alias("c_id"), "cvec")
    )


def lloyd_kmeans(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 3,
    train_fraction: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd rounds from the deterministic seed set (the
    k smallest vec_ids — computed, not assumed: id spaces need not be
    dense or zero-based) and return ``(assigned, cent)``: the FINAL
    assignment (vec_id, v, cell, d2) against the last-updated codebook,
    and that codebook (c_id, cvec).

    ``train_fraction`` (``sample_for_training``) runs every training
    round — seeding, assignment, update — on a deterministic hash
    sample; only the single final assignment touches the full corpus.
    At 100 TB that turns O(iters) full-corpus passes into O(iters)
    sample passes + ONE full pass, which is the difference between a
    codebook you can afford to retrain and one you can't. ``None``
    (the default) trains on everything — bit-identical to the
    unsampled implementation."""
    train = sample_for_training(vecs, train_fraction)
    seed_ids = train.select("vec_id").orderBy("vec_id").limit(k)
    cent = train.join(F.broadcast(seed_ids), "vec_id", "left_semi").select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cvec")
    )
    assigned = assign_cells(train, cent)
    for _ in range(iters - 1):
        cent = materialize(update_centroids(assigned))
        assigned = assign_cells(train, cent)
    if train is not vecs:  # sampled: assignment must cover every vector
        assigned = assign_cells(vecs, cent)
    return assigned, cent
