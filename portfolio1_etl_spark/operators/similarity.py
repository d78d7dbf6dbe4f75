"""Similarity-search operator library (generic, DataFrame-based).

Oracle-checked query forms live in ``plans/similarity_ops``; these are
the composable primitives:

    vecs = with_norms(embeddings, "embedding", id_col="vec_id")
    knn  = brute_force_topk(vecs, vecs.filter(...), k=5)   # exact baseline
    nd   = threshold_pairs(vecs, 0.9, block_col="label")    # near-dup pairs
    ann  = signbit_lsh_topk(vecs, queries, k=3)             # scale path

Numerics: element-wise float→double casts + sequential folds — bitwise
equal to DuckDB's ``list_dot_product`` over DOUBLE[], so similarity
values are exact across engines (no rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import materialize

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)


def with_norms(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, *, v double[], nrm): double-cast vectors with precomputed
    L2 norms — norms are computed once per vector, not per pair."""
    others = [c for c in emb.columns if c != vec_col]
    return emb.select(
        *others,
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).withColumn("nrm", F.expr("sqrt(" + DOT.format(a="v", b="v") + ")"))


def _queries_view(queries: DataFrame, id_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )


def cosine(a: str, b: str, anrm: str, bnrm: str):
    return F.expr(DOT.format(a=a, b=b)) / (F.col(anrm) * F.col(bnrm))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k per query: query set broadcast, corpus
    streams; ranking is a per-query window (per-partition top-k before
    the final shuffle). The correctness baseline for the ANN variants."""
    from portfolio1_etl_spark.parallelism import spread_rows

    q = _queries_view(queries, id_col)
    # spread the corpus before the per-(query, vector) cosine folds:
    # |queries| full-dimension dot products per corpus row dwarf one
    # round-robin shuffle of the vector rows, and the scan's byte-
    # budgeted splits can't see that (ONE split at sf0.1 — r13)
    sims = spread_rows(corpus).join(
        F.broadcast(q), F.col("query_id") != F.col(id_col)
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine("qv", "v", "qnrm", "nrm").alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def threshold_pairs(
    vecs: DataFrame, threshold: float, block_col: str, id_col: str = "vec_id"
) -> DataFrame:
    """All pairs above a cosine threshold within a blocking key — the
    block turns O(n²) into per-block joins (with no natural key, use a
    signbit bucket as the block).

    The probe side is spread to the configured parallelism first
    (r13): each probe row fans out into deg(block) pairs, each paying
    a full-dimension dot product — work the scan's byte-budgeted
    splits cannot see (ONE split at sf0.1 put every pair's cosine on
    a single core). The build side stays as scanned — the join
    broadcasts or hashes it anyway."""
    from portfolio1_etl_spark.parallelism import spread_rows

    a, b = spread_rows(vecs).alias("a"), vecs.alias("b")
    sim = F.expr(DOT.format(a="a.v", b="b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.col(f"a.{block_col}").alias(block_col),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


#: Integer squared L2 distance between two quantized int arrays.
QDIST2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "cast(0 as bigint), (acc, x) -> acc + x)"
)


def scalar_quantize(vecs: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, qv bigint[]): 8-bit scalar quantization with global
    per-dimension bounds — bucket = clamp(⌊(x−mn)/(mx−mn)·256⌋, 0, 255).
    This is the 100 TB embedding-storage path: 4× smaller vectors whose
    distances are exact integer arithmetic (SIMD-friendly, and — here —
    bit-reproducible across engines with NO rounding recipe, unlike
    float folds). The 64-row bounds table broadcasts; quantization is
    one explode + join + regroup. Constant dims quantize to 0."""
    expl = vecs.select(id_col, F.posexplode("v").alias("i", "x"))
    bounds = expl.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    q = (
        expl.join(F.broadcast(bounds), "i")
        .select(
            id_col,
            "i",
            F.when(
                F.col("mx") > F.col("mn"),
                F.least(
                    F.floor(
                        (F.col("x") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * 256
                    ),
                    F.lit(255),
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("q"),
        )
    )
    return q.groupBy(id_col).agg(
        F.expr("transform(array_sort(collect_list(struct(i, q))), s -> s.q)").alias(
            "qv"
        )
    )


def quantized_topk(
    vecs: DataFrame,
    queries: DataFrame,
    k: int = 3,
    shortlist: int = 32,
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN over scalar-quantized vectors: a cheap integer-L2
    pass over the int8 corpus shortlists ``shortlist`` candidates per
    query, then the exact cosine re-ranks only the shortlist (joined
    back to the full-precision corpus by id — the wide float vectors
    never ride through the shortlist shuffle). At scale the quantized
    corpus is the only full scan; the re-rank touches
    queries × shortlist rows.

    PRECONDITION: ``queries`` rows must be a subset of ``vecs`` (the
    query side is matched by id against the corpus quantization —
    external query vectors would need their own quantize pass against
    the corpus bounds; ids absent from the corpus contribute no
    results)."""
    from portfolio1_etl_spark.parallelism import spread_rows

    # the quantized table feeds both join sides — materialize once.
    # Spread BEFORE the checkpoint (r13): AQE coalesces the tiny
    # regroup shuffle to ~1 partition, the checkpoint freezes that
    # layout, and the integer-L2 shortlist pass then ran single-core;
    # the explicit width is pinned through the checkpoint instead.
    qv = materialize(spread_rows(scalar_quantize(vecs, id_col)))
    corpus_q = qv
    queries_q = queries.select(F.col(id_col).alias("query_id")).join(
        qv.select(F.col(id_col).alias("query_id"), F.col("qv").alias("qqv")),
        "query_id",
    )
    qd2 = F.expr(QDIST2.format(a="qqv", b="qv"))
    cand = corpus_q.join(
        F.broadcast(queries_q), F.col("query_id") != F.col(id_col)
    ).select("query_id", F.col(id_col).alias("neighbor_id"), qd2.alias("qd2"))
    w_q = W.partitionBy("query_id").orderBy(
        F.col("qd2").asc(), F.col("neighbor_id").asc()
    )
    short = (
        cand.withColumn("srn", F.row_number().over(w_q))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id", "qd2")
    )
    qside = _queries_view(queries, id_col)
    rerank = (
        short.join(
            vecs.select(id_col, "v", "nrm"),
            short.neighbor_id == F.col(id_col),
        )
        .join(F.broadcast(qside), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "qd2",
            cosine("qv", "v", "qnrm", "nrm").alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qd2", "sim", "rank")
    )


def signbit_bucket(n_bits: int = 8):
    """Bit-sampling LSH bucket: sign pattern of the first n dims."""
    return F.expr(
        f"concat_ws('', transform(slice(v, 1, {n_bits}), "
        "x -> if(x >= 0.0d, '1', '0')))"
    )


def _probe_buckets(bucket_col, n_bits: int, n_probes: int):
    """Array of bucket signatures to probe: the exact bucket plus the
    ``n_probes - 1`` single-bit-flip neighbors (standard multi-probe
    LSH — nearby buckets catch vectors that straddle a hyperplane).
    Probing stays an equi-join: the query side fans out ×n_probes
    (still tiny), the corpus is untouched."""
    probes = [bucket_col]
    for i in range(1, min(n_probes, n_bits + 1)):
        flipped = F.when(
            F.substring(bucket_col, i, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        probes.append(
            F.concat(
                F.substring(bucket_col, 1, i - 1),
                flipped,
                F.substring(bucket_col, i + 1, n_bits - i),
            )
        )
    return F.array(*probes)


def signbit_lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 3, n_bits: int = 8,
    id_col: str = "vec_id", n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's signbit bucket
    (pure equi-join — no cross product at any corpus size), exact
    cosine re-ranks within the bucket. ``n_probes > 1`` enables
    multi-probe LSH: the query also probes single-bit-flip neighbor
    buckets (recall knob — trades ×n_probes candidate volume for the
    vectors a single hyperplane split hides). No dedup is needed: a
    corpus row has exactly one bucket and the probe signatures are
    distinct, so each (query, neighbor) pair matches at most once."""
    from portfolio1_etl_spark.parallelism import spread_rows

    # spread before the in-bucket cosine re-rank (r13): candidate
    # volume per corpus row is bucket-collision-bound, each paying a
    # full-dimension dot product the scan's splits can't see
    bucketed = spread_rows(corpus).withColumn("bucket", signbit_bucket(n_bits))
    q = (
        queries.withColumn("qbucket0", signbit_bucket(n_bits))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.explode(
                _probe_buckets(F.col("qbucket0"), n_bits, n_probes)
            ).alias("qbucket"),
        )
    )
    sims = bucketed.join(
        F.broadcast(q),
        (F.col("qbucket") == F.col("bucket"))
        & (F.col("query_id") != F.col(id_col)),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.col("bucket"),
        cosine("qv", "v", "qnrm", "nrm").alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "bucket", "sim", "rank")
    )
