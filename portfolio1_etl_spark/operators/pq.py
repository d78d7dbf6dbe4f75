"""Product quantization (PQ) — the faiss-style compressed ANN index.

The vector splits into ``n_sub`` subspaces; each subspace gets its own
small k-means codebook; a vector's code is one centroid id per
subspace (here 8×4 bits of payload per 64-dim vector — a 64×
compression). Search uses ADC (asymmetric distance computation): the
query precomputes its distance to every subspace centroid (a
``n_sub × k`` table — tiny, broadcast), and a database vector's
approximate distance is the SUM of table lookups selected by its code
— no float vector is touched during the scan.

Scale shape: codebook training is ONE grouped k-means (the subspace id
is just another grouping key — no per-subspace loop); encoding is a
ZERO-SHUFFLE narrow map (the codebook folds to one array row per
subspace, broadcast, and ``array_min(transform(...))`` takes the
argmin in codegen — no window); the ADC scan joins the byte-code
table against the broadcast distance table and group-sums — the
full-precision corpus is read only by the final re-rank join on the
shortlist ids.

Determinism: centroid means round to 4 dp and distances to 6 dp (the
q83/q93 recipe); ADC sums run in DECIMAL(18,6) so the 8-term addition
is exact and order-independent — the oracle matches bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.operators.clustering import sample_for_training
from portfolio1_etl_spark.operators.similarity import _queries_view, cosine

#: distance between a subvector and a subspace centroid, 6 dp.
_SUBDIST = (
    "round(aggregate(zip_with(sv, cvec, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6)"
)

#: Argmin over the per-subspace folded codebook `cents`
#: (array<struct<c_id, cvec>>): 6 dp distance per centroid, then
#: `array_min` on (d, c_id) structs — ties break on centroid id, same
#: ranking as the old (dist asc, c_id asc) window, with zero shuffle.
_BEST_CODE = (
    "array_min(transform(cents, c -> struct("
    "round(aggregate(zip_with(sv, c.cvec, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6) as d, "
    "c.c_id as c_id)))"
)


def split_subspaces(
    vecs: DataFrame, n_sub: int, sub_dim: int, id_col: str = "vec_id"
) -> DataFrame:
    """(id, sub, sv): the vector column ``v`` cut into ``n_sub``
    contiguous ``sub_dim``-wide subvectors.

    The input is spread to the configured parallelism first (r13):
    every consumer runs the folded per-(vector, subspace) distance
    argmin — k rounded subvector distances per output row — and the
    ×n_sub explode amplifies rows behind the scan's byte-budgeted
    splits (ONE split at sf0.1 put the whole encode on one core; the
    shingle_hashes class)."""
    from portfolio1_etl_spark.parallelism import spread_rows

    vecs = spread_rows(vecs)
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice("v", s * sub_dim + 1, sub_dim).alias("sv"),
            )
            for s in range(n_sub)
        ]
    )
    return vecs.select(id_col, F.explode(subs).alias("x")).select(
        id_col, "x.sub", "x.sv"
    )


def _assign(sub: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """(id, sub, sv, code): nearest centroid per (vector, subspace).
    The codebook folds to one array-of-structs row PER SUBSPACE
    (n_sub rows, broadcast hash join on sub), so the argmin is a
    narrow map over the split corpus — no shuffle, no window (the
    earlier revision ranked an n·k join with a row_number window on
    (id, sub), hash-partitioning n·k·n_sub rows per training round)."""
    folded = cent.groupBy("sub").agg(
        F.collect_list(F.struct("c_id", "cvec")).alias("cents")
    )
    return (
        sub.join(F.broadcast(folded), "sub")
        .withColumn("best", F.expr(_BEST_CODE))
        .select(id_col, "sub", "sv", F.col("best.c_id").alias("code"))
    )


def train_codebook(
    sub: DataFrame,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    train_fraction: float | None = None,
) -> DataFrame:
    """(sub, c_id, cvec): per-subspace k-means codebook — one GROUPED
    Lloyd's run (subspace is a grouping key everywhere, so all
    subspaces train in the same jobs). Seeds: subvectors of the k
    smallest ids (computed — id spaces need not be dense/zero-based).

    ``train_fraction`` trains on a deterministic hash sample of the
    VECTOR ids (sampling by id keeps all of a vector's subvectors
    together — ``sample_for_training``); encoding afterwards still
    covers the full corpus. At 100 TB the codebook needs n_sub·k·dim
    means, not a full-corpus pass per training round. ``None`` trains
    on everything — bit-identical to the unsampled implementation."""
    train = sample_for_training(sub, train_fraction, id_col=id_col)
    seed_ids = train.select(id_col).distinct().orderBy(id_col).limit(k)
    cent = train.join(F.broadcast(seed_ids), id_col, "left_semi").select(
        "sub", F.col(id_col).alias("c_id"), F.col("sv").alias("cvec")
    )
    sub = train
    for _ in range(iters - 1):
        assigned = _assign(sub, cent, id_col)
        cent = (
            assigned.select("sub", "code", F.posexplode("sv").alias("i", "x"))
            .groupBy("sub", "code", "i")
            .agg(F.round(F.avg("x"), 4).alias("cx"))
            .groupBy("sub", "code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, cx))), s -> s.cx)"
                ).alias("cvec")
            )
            .select("sub", F.col("code").alias("c_id"), "cvec")
        )
        cent = materialize(cent)
    return cent


def pq_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_cent: int = 16,
    shortlist: int = 32,
    id_col: str = "vec_id",
    train_fraction: float | None = None,
) -> DataFrame:
    """Two-stage PQ/ADC search: approximate distances from the byte
    codes + broadcast query distance table, exact cosine re-rank on
    the shortlist (joined back to full vectors by id).

    PRECONDITION: ``queries`` rows must be a subset of ``vecs`` (with
    a ``nrm`` column, as produced by ``with_norms``) — query
    subvectors are looked up by id in the corpus split; external
    query vectors would need their own split/normalize pass."""
    sub = materialize(split_subspaces(vecs, n_sub, sub_dim, id_col))
    cent = train_codebook(
        sub,
        n_cent,
        id_col=id_col,
        train_fraction=train_fraction,
    )
    codes = _assign(sub, cent, id_col).select(id_col, "sub", "code")
    qids = queries.select(F.col(id_col).alias("query_id"))
    qsub = sub.join(
        qids, sub[id_col] == qids.query_id
    ).select("query_id", "sub", "sv")
    qdist = qsub.join(F.broadcast(cent), "sub").select(
        "query_id",
        "sub",
        F.col("c_id").alias("code"),
        F.expr(_SUBDIST).cast("decimal(18,6)").alias("qd"),
    )
    adc = (
        codes.join(
            F.broadcast(qdist),
            ["sub", "code"],
        )
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("qd").cast("double").alias("adc"))
    )
    w_s = W.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    short = (
        adc.withColumn("srn", F.row_number().over(w_s))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id", "adc")
    )
    qside = _queries_view(queries, id_col)
    rerank = (
        short.join(vecs.select(id_col, "v", "nrm"), short.neighbor_id == F.col(id_col))
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc",
            cosine("qv", "v", "qnrm", "nrm").alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "sim", "rank")
    )
