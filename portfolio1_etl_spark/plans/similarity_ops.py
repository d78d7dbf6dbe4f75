"""[ext] Similarity search over the ``embeddings`` table (SURVEY.md
§2.13): brute-force cosine top-k as the exact baseline, plus two
scale paths — label-blocked threshold joins and sign-bit LSH
bucketing (bit-sampling ANN).

Numerics: vectors are cast float→double element-wise, dot products are
sequential folds (``aggregate(zip_with(...))``) — bitwise identical to
DuckDB's ``list_dot_product`` over DOUBLE[] (verified empirically), so
similarities compare exactly with no rounding.

Scale notes: the query side of a top-k search is broadcast (queries ≪
corpus); the corpus side streams. The LSH variant turns the cross
product into an equi-join on bucket signature — the 100 TB path where
even a broadcast cross-product is too wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.operators.similarity import (
    DOT as _DOT,
    QDIST2,
    brute_force_topk,
    quantized_topk,
    scalar_quantize,
    signbit_lsh_topk,
    threshold_pairs,
    with_norms,
)
from portfolio1_etl_spark.plans.registry import query


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, v double[], nrm) with precomputed L2 norm."""
    return with_norms(catalog.load(spark, sf_dir, "embeddings"))


_VECTORS_SQL = """
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
"""


@query(
    "q80_cosine_topk",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    q AS (SELECT * FROM vecs WHERE vec_id < 8),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      FROM q JOIN vecs c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
    operators=("X-sim-topk",),
)
def q80_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN baseline: brute-force cosine of a small query set
    (broadcast) against the whole corpus, top-5 per query via a ranking
    window. This is the correctness reference for the ANN variants —
    at scale the corpus side stays partitioned and only per-partition
    top-k survives to the final shuffle."""
    vecs = _vectors(spark, sf_dir)
    return brute_force_topk(vecs, vecs.filter(F.col("vec_id") < 8), k=5)


@query(
    "q81_threshold_pairs_blocked",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
    FROM vecs a JOIN vecs b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
    """,
    operators=("X-sim-threshold", "J2"),
)
def q81_threshold_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold, blocked
    by label — the blocking key turns an all-pairs O(n²) into
    per-block joins (the same trick as partition-level dedup in corpus
    pipelines; with no natural key, q82's LSH bucket plays this role)."""
    return threshold_pairs(_vectors(spark, sf_dir), 0.35, block_col="label")


_BUCKET_SPARK = (
    "concat_ws('', transform(slice({v}, 1, 8), x -> if(x >= 0.0d, '1', '0')))"
)
_BUCKET_SQL = (
    "list_aggregate(list_transform(v[1:8], x -> CASE WHEN x >= 0.0 THEN '1' ELSE '0' END), 'string_agg', '')"
)


@query(
    "q78_embedding_neardup",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    b AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM vecs)
    SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, a.bucket AS bucket,
           list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) AS sim
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) >= 0.3
    """,
    operators=("X-dedup-embedding", "X-sim-threshold"),
)
def q78_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection with NO metadata
    blocking key — the missing-label case a real corpus dedup faces.
    The sign-bit LSH bucket (first 8 dims) is the blocking key: the
    self-join is a pure equi-join on an 8-bit signature (≤256
    buckets), never all-pairs, and exact cosine filters within the
    bucket. Registered under dedup (vs q81's label-blocked variant and
    q82's top-k ANN) because its output is the near-dup PAIR SET a
    dedup survivor pass consumes. Recall knob at scale: multiple
    independent bucket families (OR of equi-joins), same plan shape."""
    vecs = _vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(_BUCKET_SPARK.format(v="v"))
    )
    return threshold_pairs(vecs, 0.3, block_col="bucket")


@query(
    "q82_lsh_ann",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    bucketed AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM vecs),
    q AS (SELECT * FROM bucketed WHERE vec_id < 8),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      FROM q JOIN bucketed c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, bucket, sim, rank FROM (
      SELECT query_id, neighbor_id, bucket, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
    operators=("X-sim-lsh",),
)
def q82_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via bit-sampling LSH: the bucket is the sign
    pattern of the first 8 dimensions; candidates come only from the
    query's bucket (equi-join on the signature — the O(n²) cross
    product never materializes). Exact cosine re-ranks within the
    bucket. Trades recall for a pure equi-join shape that scales to
    any corpus size; more planes / multi-probe raise recall."""
    vecs = _vectors(spark, sf_dir)
    return signbit_lsh_topk(vecs, vecs.filter(F.col("vec_id") < 8), k=3)


_DIST2_SPARK = (
    "round(aggregate(zip_with(v, cvec, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6)"
)
_DIST2_SQL = (
    "round(list_sum(list_transform(generate_series(1, 64), "
    "i -> (v.v[i] - c.cvec[i]) * (v.v[i] - c.cvec[i]))), 6)"
)


@query(
    "q83_ivf_ann",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    expl AS (
      SELECT vec_id, label, unnest(v) AS x, generate_subscripts(v, 1) AS i
      FROM vecs
    ),
    cent AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cvec
      FROM (SELECT label, i, round(avg(x), 4) AS c FROM expl GROUP BY label, i)
      GROUP BY label
    ),
    assigned AS (
      SELECT vec_id, label, v, nrm, cell FROM (
        SELECT v.vec_id, v.label, v.v, v.nrm, c.c_label AS cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_DIST2_SQL} ASC, c.c_label ASC) AS rn
        FROM vecs v CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, qnrm, probe_cell FROM (
        SELECT v.vec_id AS query_id, v.v AS qv, v.nrm AS qnrm,
               c.c_label AS probe_cell,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_DIST2_SQL} ASC, c.c_label ASC) AS rn
        FROM vecs v CROSS JOIN cent c WHERE v.vec_id < 8
      ) WHERE rn <= 2
    ),
    sims AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.cell,
             list_dot_product(p.qv, a.v) / (p.qnrm * a.nrm) AS sim
      FROM probes p JOIN assigned a
        ON a.cell = p.probe_cell AND p.query_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cell, sim, rank FROM (
      SELECT query_id, neighbor_id, cell, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
    operators=("X-sim-ivf",),
)
def q83_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: an inverted-file index with deterministic
    centroids (per-label mean vectors — a stand-in for a k-means
    codebook, chosen so the oracle can recompute them), nearest-cell
    assignment for every vector, and queries probing their top-2 cells
    before exact cosine re-ranking.

    Scale shape: the codebook is tiny and broadcast; corpus-side
    assignment folds it into ONE array-of-structs row and takes the
    argmin per vector with ``array_min(transform(...))`` — a
    ZERO-SHUFFLE narrow map in whole-stage codegen (an earlier
    revision ranked the corpus × codebook join with a row_number
    window on vec_id, hash-partitioning n·k rows — the q93
    scale-killer shape, eliminated here the same way); the search
    space per query shrinks to two cells joined by an equi-key.
    Determinism: centroid components round to 4 dp (averaging order
    differs across engines at 1e-16) and cell distances round to 6 dp
    before ranking, so assignments and probe choices are bitwise-
    reproducible; the output ``sim`` is the exact sequential-fold
    cosine (bitwise equal cross-engine)."""
    vecs = _vectors(spark, sf_dir)
    expl = vecs.select("vec_id", "label", F.posexplode("v").alias("i", "x"))
    cent = (
        expl.groupBy("label", "i")
        .agg(F.round(F.avg("x"), 4).alias("c"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, c))), s -> s.c)"
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    # struct ordering compares d2 first, c_label second — identical
    # tie-break to the old (dist asc, c_label asc) window rank
    best_cell = (
        "array_min(transform(cents, c -> struct("
        "round(aggregate(zip_with(v, c.cvec, (a, b) -> (a - b) * (a - b)), "
        "cast(0.0 as double), (acc, x) -> acc + x), 6) as d2, "
        "c.c_label as c_label)))"
    )
    folded = cent.agg(
        F.collect_list(F.struct("c_label", "cvec")).alias("cents")
    )
    assigned = (
        vecs.crossJoin(F.broadcast(folded))
        .withColumn("best", F.expr(best_cell))
        .select("vec_id", "v", "nrm", F.col("best.c_label").alias("cell"))
    )
    dist2 = F.expr(_DIST2_SPARK)
    rn_w = W.partitionBy("vec_id").orderBy(dist2.asc(), F.col("c_label").asc())
    probes = (
        vecs.filter(F.col("vec_id") < 8)
        .crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.col("c_label").alias("probe_cell"),
        )
    )
    sims = assigned.join(
        F.broadcast(probes),
        (F.col("probe_cell") == F.col("cell"))
        & (F.col("query_id") != F.col("vec_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (F.expr(_DOT.format(a="qv", b="v")) / (F.col("qnrm") * F.col("nrm"))).alias(
            "sim"
        ),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cell", "sim", "rank")
    )


def _quantized_sql() -> str:
    return f"""
    WITH vecs AS ({_VECTORS_SQL}),
    expl AS (
      SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM vecs
    ),
    bounds AS (SELECT i, min(x) AS mn, max(x) AS mx FROM expl GROUP BY i),
    qs AS (
      SELECT vec_id, i,
             CASE WHEN mx > mn
                  THEN CAST(least(floor((x - mn) / (mx - mn) * 256), 255) AS BIGINT)
                  ELSE 0 END AS q
      FROM expl JOIN bounds USING (i)
    ),
    qvt AS (SELECT vec_id, list(q ORDER BY i) AS qv FROM qs GROUP BY vec_id),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
               i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT) AS qd2
      FROM qvt q JOIN qvt c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8
    ),
    short AS (
      SELECT query_id, neighbor_id, qd2 FROM (
        SELECT query_id, neighbor_id, qd2,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qd2 ASC, neighbor_id ASC) AS srn
        FROM cand
      ) WHERE srn <= 32
    ),
    rerank AS (
      SELECT s.query_id, s.neighbor_id, s.qd2,
             list_dot_product(qv2.v, c.v) / (qv2.nrm * c.nrm) AS sim
      FROM short s
      JOIN vecs c   ON s.neighbor_id = c.vec_id
      JOIN vecs qv2 ON s.query_id = qv2.vec_id
    )
    SELECT query_id, neighbor_id, qd2, sim, rank FROM (
      SELECT query_id, neighbor_id, qd2, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM rerank
    ) WHERE rank <= 3
    """


@query(
    "q95_quantized_ann",
    sql=_quantized_sql(),
    operators=("X-sim-quantized", "X-sim-topk"),
)
def q95_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN over 8-bit scalar-quantized vectors: global
    per-dim bounds (broadcast, 64 rows) quantize the corpus to int
    codes (4× smaller — at 100 TB the quantized table is the ONLY
    full scan); an exact integer-L2 pass shortlists 32 candidates per
    query; exact cosine re-ranks the shortlist after joining back to
    the full-precision vectors by id. Unlike the float paths, the
    quantized distances are integer arithmetic — bit-reproducible
    across engines with no rounding recipe at all."""
    vecs = _vectors(spark, sf_dir)
    return quantized_topk(vecs, vecs.filter(F.col("vec_id") < 8), k=3, shortlist=32)


@query(
    "q125_embedding_decontaminate",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    ev AS (SELECT * FROM vecs WHERE vec_id % 50 = 0),
    corpus AS (SELECT * FROM vecs WHERE vec_id % 50 <> 0),
    sims AS (
      SELECT c.vec_id, c.label, e.vec_id AS eval_id,
             list_dot_product(c.v, e.v) / (c.nrm * e.nrm) AS sim
      FROM corpus c, ev e
    ),
    best AS (
      SELECT vec_id, label, eval_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, eval_id ASC) AS rn
      FROM sims
    )
    SELECT vec_id, label, eval_id AS nearest_eval_id, sim
    FROM best WHERE rn = 1 AND sim >= 0.35
    """,
    operators=("X-decontaminate", "X-sim-threshold", "J-semi"),
)
def q125_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space counterpart of
    q97's n-gram overlap check: flag corpus vectors whose cosine to
    ANY benchmark/eval vector reaches 0.35, reporting the nearest
    eval item as evidence (the audit row a decontamination pass files
    with each removal). Paraphrased leakage that shares no shingles
    still lands here.

    Scale shape: eval sets are small by nature, so the eval side
    broadcasts and the corpus streams through ONE narrow pass (the
    q80 brute-force pattern — a |corpus| × |eval| loop, not corpus ×
    corpus); per-vector argmax is a window keyed on the uniform
    vec_id. At eval sets beyond broadcast size, the q82 sign-bucket
    equi-join replaces the loop with identical output columns. The
    dot product folds in the same order in both engines, so sims
    compare exactly with no rounding."""
    vecs = _vectors(spark, sf_dir)
    ev = vecs.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("ev_v"),
        F.col("nrm").alias("ev_nrm"),
    )
    corpus = vecs.filter(F.col("vec_id") % 50 != 0)
    sim = F.expr(_DOT.format(a="v", b="ev_v")) / (F.col("nrm") * F.col("ev_nrm"))
    sims = corpus.crossJoin(F.broadcast(ev)).select(
        "vec_id", "label", "eval_id", sim.alias("sim")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("eval_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("sim") >= 0.35))
        .select("vec_id", "label", F.col("eval_id").alias("nearest_eval_id"), "sim")
    )


# ---------------------------------------------------------------------------
# q250 — label centroid separation (r10)
# ---------------------------------------------------------------------------


@query(
    "q250_label_centroid_separation",
    sql="""
    WITH comp AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS idx,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
                  AS BIGINT) AS v6
      FROM embeddings),
    cent AS (
      SELECT label, idx,
             sum(v6) AS s, count(*) AS n
      FROM comp GROUP BY 1, 2),
    pair AS (
      SELECT a.label AS label_a, b.label AS label_b,
             max(a.n) AS n_a, max(b.n) AS n_b,
             sum((CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n)
                 * (CAST(a.s AS HUGEINT) * b.n - CAST(b.s AS HUGEINT) * a.n))
               AS num2
      FROM cent a JOIN cent b ON a.idx = b.idx AND a.label < b.label
      GROUP BY 1, 2)
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(sqrt(CAST(num2 AS DOUBLE)) / (CAST(n_a AS DOUBLE) * n_b)
                 / 1000000.0, 6) AS centroid_dist
    FROM pair
    """,
    operators=("X-centroid", "X-class-separation", "A1", "J1"),
)
def q250_label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise L2 distance between per-label embedding CENTROIDS —
    the class-separability readout a labeled-corpus audit runs before
    training a classifier head (labels whose centroids collapse are
    either mislabeled or indistinguishable). Cross-row float summation
    is the cross-engine hazard here, so the math stays INTEGER until
    one terminal sqrt: components snap to scaled BIGINT (round(x·1e6)
    — float32 inputs land far from .5 ties), per-(label, dim) sums
    are exact, and the squared distance accumulates as
    Σ(s_a·n_b − s_b·n_a)² in DECIMAL(38,0)/HUGEINT over the common
    denominator (n_a·n_b)² — order-independent, bit-identical. The
    pair join is at (label × dim) grain — 10 × 64 rows — after one
    map-side-combinable aggregate over the corpus; the components
    explode as a narrow posexplode map, no UDF."""
    e = catalog.load(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("idx"),
        F.round(F.col("x").cast("double") * 1000000, 0)
        .cast("long")
        .alias("v6"),
    )
    cent = comp.groupBy("label", "idx").agg(
        F.sum("v6").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "idx",
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "idx",
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    # cast BEFORE the multiplies: s*n in 64-bit wraps (silently with
    # ANSI off) at ~2M rows/label; decimal(38,0) ≡ HUGEINT headroom
    dec = "decimal(38,0)"
    num = F.col("sa").cast(dec) * F.col("nb") - F.col("sb").cast(dec) * F.col(
        "na"
    )
    pair = (
        a.join(b, (a.idx == b.idx) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.sum((num * num).cast(dec)).alias("num2"),
        )
    )
    # Loud overflow guard: num ≈ 2·n_a·n_b·1e6, so Σ_dims num² clears
    # decimal(38,0) once n_a·n_b passes ~6e11 (~800k rows/label at 64
    # dims) — with ANSI off Spark would return a silent NULL there,
    # while DuckDB throws on HUGEINT overflow. Fail the same way DuckDB
    # does, at the same edge, instead of emitting a NULL distance.
    n_guard = F.when(
        F.col("n_a").cast("double") * F.col("n_b") > 6.0e11,
        F.raise_error(
            F.lit(
                "q250: label pair too large for exact decimal(38,0) "
                "centroid accumulation (~>800k rows/label); pre-scale "
                "or sample the labels"
            )
        ).cast("long"),
    ).otherwise(F.col("n_a").cast("long"))
    return pair.select(
        F.col("label_a").cast("long").alias("label_a"),
        F.col("label_b").cast("long").alias("label_b"),
        n_guard.alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.sqrt(F.col("num2").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b"))
            / 1000000.0,
            6,
        ).alias("centroid_dist"),
    )


# ---------------------------------------------------------------------------
# q252 — reciprocal-rank fusion of two retrievers (r10)
# ---------------------------------------------------------------------------


def _rrf_sql() -> str:
    return f"""
    WITH vecs AS ({_VECTORS_SQL}),
    expl AS (
      SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM vecs
    ),
    bounds AS (SELECT i, min(x) AS mn, max(x) AS mx FROM expl GROUP BY i),
    qs AS (
      SELECT vec_id, i,
             CASE WHEN mx > mn
                  THEN CAST(least(floor((x - mn) / (mx - mn) * 256), 255) AS BIGINT)
                  ELSE 0 END AS q
      FROM expl JOIN bounds USING (i)
    ),
    qvt AS (SELECT vec_id, list(q ORDER BY i) AS qv FROM qs GROUP BY vec_id),
    exact_r AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
                          c.vec_id ASC) AS rnk
        FROM vecs q JOIN vecs c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 8
      ) WHERE rnk <= 20),
    quant_r AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY CAST(list_sum(list_transform(generate_series(1, 64),
                   i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT)
                   ASC, c.vec_id ASC) AS rnk
        FROM qvt q JOIN qvt c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 8
      ) WHERE rnk <= 20),
    fused AS (
      SELECT coalesce(e.query_id, u.query_id) AS query_id,
             coalesce(e.neighbor_id, u.neighbor_id) AS neighbor_id,
             CAST(coalesce(e.rnk, 0) AS BIGINT) AS rank_exact,
             CAST(coalesce(u.rnk, 0) AS BIGINT) AS rank_quant,
             round(coalesce(CAST(1 AS DOUBLE) / (60 + e.rnk), 0.0)
                   + coalesce(CAST(1 AS DOUBLE) / (60 + u.rnk), 0.0), 6)
               AS rrf
      FROM exact_r e FULL OUTER JOIN quant_r u
        ON e.query_id = u.query_id AND e.neighbor_id = u.neighbor_id)
    SELECT query_id, neighbor_id, rank_exact, rank_quant, rrf, fused_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, neighbor_id ASC) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 5
    """


@query(
    "q252_rrf_fusion",
    sql=_rrf_sql(),
    operators=("X-rank-fusion", "X-sim-topk", "X-sim-quantized"),
)
def q252_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrievers — the exact
    cosine ranker and the int8 scalar-quantized L2 ranker — the list
    merge a hybrid retrieval stack runs when no single ranker is
    trusted alone. Each ranker contributes its top-20 per query (rank
    via a per-query PARTITIONED window — candidate lists are capped
    before fusion, so the fused join is k×queries, never corpus-wide);
    a neighbor absent from one list simply contributes no term. Score
    = Σ 1/(60+rank) — at most two IEEE terms per row, so the float
    math is a single deterministic addition (ranks are integers; the
    quantized ranker is bit-reproducible integer L2, q95's recipe).
    Missing ranks surface as 0 sentinels, not NULLs (nullable-int
    hash parity)."""
    vecs = _vectors(spark, sf_dir)
    anchors = vecs.filter(F.col("vec_id") < 8)
    # the canonical brute-force baseline IS ranker A — reuse it
    exact_r = brute_force_topk(vecs, anchors, k=20).select(
        "query_id", "neighbor_id", F.col("rank").alias("rnk")
    )
    qv = materialize(scalar_quantize(vecs))
    qcand = (
        qv.crossJoin(
            F.broadcast(
                qv.filter(F.col("vec_id") < 8).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("qv").alias("qqv"),
                )
            )
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(QDIST2.format(a="qqv", b="qv")).alias("qd2"),
        )
    )
    w_q = W.partitionBy("query_id").orderBy(
        F.asc("qd2"), F.asc("neighbor_id")
    )
    quant_r = (
        qcand.withColumn("rnk", F.row_number().over(w_q))
        .filter(F.col("rnk") <= 20)
        .select("query_id", "neighbor_id", "rnk")
    )
    e = exact_r.select(
        "query_id", "neighbor_id", F.col("rnk").alias("re")
    )
    u = quant_r.select(
        F.col("query_id").alias("query_id_q"),
        F.col("neighbor_id").alias("neighbor_id_q"),
        F.col("rnk").alias("rq"),
    )
    fused = (
        e.join(
            u,
            (e.query_id == u.query_id_q)
            & (e.neighbor_id == u.neighbor_id_q),
            "full_outer",
        )
        .select(
            F.coalesce("query_id", "query_id_q").alias("query_id"),
            F.coalesce("neighbor_id", "neighbor_id_q").alias("neighbor_id"),
            F.coalesce("re", F.lit(0)).cast("long").alias("rank_exact"),
            F.coalesce("rq", F.lit(0)).cast("long").alias("rank_quant"),
            F.round(
                F.coalesce(F.lit(1.0) / (F.col("re") + 60), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.col("rq") + 60), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w_f = W.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rank") <= 5)
        .select(
            "query_id", "neighbor_id", "rank_exact", "rank_quant",
            "rrf", "fused_rank",
        )
    )


# ---------------------------------------------------------------------------
# q253 — hard-negative mining with positive margin (r10)
# ---------------------------------------------------------------------------


@query(
    "q253_hard_negative_mining",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    sims AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             c.vec_id AS neighbor_id,
             CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS side,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      FROM vecs q JOIN vecs c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8),
    best AS (
      SELECT query_id, qlabel, neighbor_id, side, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id, side
                   ORDER BY sim DESC, neighbor_id ASC) AS rn
        FROM sims) WHERE rn = 1)
    SELECT query_id,
           CAST(max(qlabel) AS BIGINT) AS label,
           CAST(max(CASE WHEN side = 'neg' THEN neighbor_id END)
                AS BIGINT) AS hard_neg_id,
           max(CASE WHEN side = 'neg' THEN sim END) AS neg_sim,
           CAST(max(CASE WHEN side = 'pos' THEN neighbor_id END)
                AS BIGINT) AS nearest_pos_id,
           max(CASE WHEN side = 'pos' THEN sim END) AS pos_sim,
           max(CASE WHEN side = 'pos' THEN sim END)
             - max(CASE WHEN side = 'neg' THEN sim END) AS margin,
           CAST(CASE WHEN max(CASE WHEN side = 'neg' THEN sim END)
                       < max(CASE WHEN side = 'pos' THEN sim END)
                THEN 1 ELSE 0 END AS BIGINT) AS is_semi_hard
    FROM best GROUP BY query_id
    """,
    operators=("X-hard-negatives", "X-contrastive-mining", "X-sim-topk"),
)
def q253_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    most-similar vector with a DIFFERENT label (the hardest negative)
    and the most-similar same-label vector (the nearest positive),
    plus the margin between them — the readout that decides whether a
    triplet is semi-hard (positive still closer than the negative) or
    a label-noise suspect (negative closer than every positive). One
    broadcast anchors×corpus pass is tagged pos/neg and a PARTITIONED
    (query, side) window keeps rank 1 of each side; the conditional
    aggregate pivots the two rows per anchor into one. Cosines are
    sequential double folds — bit-identical across engines — and the
    margin is one IEEE subtraction of those, so no rounding recipe is
    needed; the flag is 0/1 BIGINT, never nullable BOOLEAN. At scale
    the anchor set broadcasts and the corpus streams; the blocked/LSH
    variants (q78, q82) are the corpus×corpus path."""
    vecs = _vectors(spark, sf_dir)
    anchors = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv_f"),
        F.col("nrm").alias("qnrm"),
    )
    sims = (
        vecs.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("label") == F.col("qlabel"), "pos")
            .otherwise("neg")
            .alias("side"),
            (
                F.expr(_DOT.format(a="qv_f", b="v"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("sim"),
        )
    )
    w = W.partitionBy("query_id", "side").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    best = sims.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    neg_sim = F.max(F.when(F.col("side") == "neg", F.col("sim")))
    pos_sim = F.max(F.when(F.col("side") == "pos", F.col("sim")))
    return best.groupBy("query_id").agg(
        F.max("qlabel").cast("long").alias("label"),
        F.max(F.when(F.col("side") == "neg", F.col("neighbor_id")))
        .cast("long")
        .alias("hard_neg_id"),
        neg_sim.alias("neg_sim"),
        F.max(F.when(F.col("side") == "pos", F.col("neighbor_id")))
        .cast("long")
        .alias("nearest_pos_id"),
        pos_sim.alias("pos_sim"),
        (pos_sim - neg_sim).alias("margin"),
        F.when(neg_sim < pos_sim, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_semi_hard"),
    )


# ---------------------------------------------------------------------------
# q260 — multi-probe LSH ANN (r10)
# ---------------------------------------------------------------------------

#: probe list: the signature itself plus each single-bit flip (Hamming
#: radius 1 over the 8-bit sign signature) — 9 probes per query.
_PROBES_SPARK = (
    "transform(sequence(0, 8), i -> CASE WHEN i = 0 THEN {sig} "
    "ELSE concat(substring({sig}, 1, i - 1), "
    "if(substring({sig}, i, 1) = '1', '0', '1'), "
    "substring({sig}, i + 1, 8 - i)) END)"
)
_PROBES_SQL = (
    "list_transform(generate_series(0, 8), i -> CASE WHEN i = 0 THEN {sig} "
    "ELSE substr({sig}, 1, i - 1) || "
    "(CASE WHEN substr({sig}, i, 1) = '1' THEN '0' ELSE '1' END) || "
    "substr({sig}, i + 1, 8 - i) END)"
)


@query(
    "q260_multiprobe_lsh_ann",
    sql=f"""
    WITH vecs AS ({_VECTORS_SQL}),
    bucketed AS (SELECT vec_id, v, nrm, {_BUCKET_SQL} AS bucket FROM vecs),
    q AS (SELECT * FROM bucketed WHERE vec_id < 8),
    probes AS (
      SELECT vec_id, v, nrm,
             unnest({_PROBES_SQL.format(sig="bucket")}) AS probe
      FROM q),
    sims AS (
      SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(p.v, c.v) / (p.nrm * c.nrm) AS sim
      FROM probes p JOIN bucketed c
        ON p.probe = c.bucket AND p.vec_id <> c.vec_id),
    cand AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS candidates_seen
      FROM sims GROUP BY 1)
    SELECT s.query_id, s.neighbor_id, s.sim, s.rank, c.candidates_seen
    FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM sims
    ) s JOIN cand c ON s.query_id = c.query_id
    WHERE s.rank <= 3
    """,
    operators=("X-sim-lsh", "X-sim-multiprobe", "A1"),
)
def q260_multiprobe_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN — q82's recall knob made concrete: each
    query probes its own sign-signature bucket PLUS the 8 buckets at
    Hamming distance 1 (a 9-way explode on the query side only — the
    corpus stays bucketed exactly once, and the join is still a pure
    equi-join on the signature, never a cross product). Multi-probe is
    the standard way to buy ANN recall without more hash tables: the
    neighbors a single-probe query misses are overwhelmingly in
    adjacent buckets (one sign bit flipped by noise). Per query the
    output also carries candidates_seen — the probe-cost scoreboard a
    recall/latency tuner reads next to q114's recall row. Candidate
    sims are exact double folds (bit-identical cross-engine); dedup is
    unnecessary because Hamming-1 probes are pairwise distinct buckets
    and a corpus vector lives in exactly one."""
    vecs = _vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(_BUCKET_SPARK.format(v="v"))
    )
    q = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv_f"),
        F.col("nrm").alias("qnrm"),
        F.explode(F.expr(_PROBES_SPARK.format(sig="bucket"))).alias("probe"),
    )
    sims = (
        vecs.join(
            F.broadcast(q),
            (F.col("probe") == F.col("bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(_DOT.format(a="qv_f", b="v"))
                / (F.col("qnrm") * F.col("nrm"))
            ).alias("sim"),
        )
    )
    sims = materialize(sims)
    cand = sims.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("candidates_seen")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .join(cand, "query_id")
        .select("query_id", "neighbor_id", "sim", "rank", "candidates_seen")
    )


# ---------------------------------------------------------------------------
# q266 — late-interaction MaxSim retrieval (r11)
# ---------------------------------------------------------------------------

_MAXSIM_NSUB = 8
_MAXSIM_DIM = 8


def _maxsim_sql() -> str:
    """MaxSim in SQL: explode both sides into 8-dim sub-vectors
    ("token" vectors), per-(pair, query-sub) MAX dot, then the exact
    DECIMAL(18,6) sum of the 8 rounded maxima."""
    return f"""
    WITH vecs AS ({_VECTORS_SQL}),
    q AS (SELECT vec_id, v FROM vecs WHERE vec_id < 8),
    c AS (SELECT vec_id, v FROM vecs WHERE vec_id >= 8),
    permax AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, ri.i,
             CAST(round(max(list_dot_product(
               q.v[(ri.i * {_MAXSIM_DIM} + 1):((ri.i + 1) * {_MAXSIM_DIM})],
               c.v[(rj.j * {_MAXSIM_DIM} + 1):((rj.j + 1) * {_MAXSIM_DIM})]
             )), 6) AS DECIMAL(18,6)) AS mx
      FROM q, c, range({_MAXSIM_NSUB}) ri(i), range({_MAXSIM_NSUB}) rj(j)
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(sum(mx) AS DOUBLE) AS maxsim
      FROM permax GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, maxsim, rank FROM (
      SELECT query_id, neighbor_id, maxsim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY maxsim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@query(
    "q266_maxsim_retrieval",
    sql=_maxsim_sql(),
    operators=("X-sim-maxsim", "X-late-interaction", "X-sim-topk"),
)
def q266_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (r11 — the ColBERT scoring shape):
    each vector is treated as 8 contiguous 8-dim "token" sub-vectors,
    and score(q, d) = Σ_i max_j ⟨q_i, d_j⟩ — the sum over query tokens
    of each one's best-matching document token. Unlike the single-dot
    q80 bi-encoder this rewards per-aspect matches, and it is the
    standard second-stage scorer over an ANN shortlist.

    Scale shape: the 64 sub-dot products per (query, doc) pair fold in
    ONE nested higher-order expression (zip_with/aggregate inside
    array_max inside a decimal sum) — a narrow map over the corpus
    with the 8 queries broadcast: no explode, no extra shuffle, whole
    row count = |corpus|. Determinism: each per-i max rounds to 6 dp
    and the 8 maxima sum in DECIMAL(18,6) — exact and order-free, so
    the oracle's grouped-aggregate formulation matches bitwise."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # spread the corpus side before the broadcast cross: the 64
    # sub-dot folds per (query, doc) pair are ~4k multiplies per
    # corpus row — work the scan's single byte-budgeted split cannot
    # see (the q277/shingle explode-parallelism class, r13)
    from portfolio1_etl_spark.parallelism import spread_rows

    c = spread_rows(
        vecs.filter(F.col("vec_id") >= 8).select(
            F.col("vec_id").alias("neighbor_id"), "v"
        )
    )
    d, ns = _MAXSIM_DIM, _MAXSIM_NSUB
    terms = []
    for i in range(ns):
        dots = F.array(
            *[
                F.expr(
                    f"aggregate(zip_with(slice(qv, {i * d + 1}, {d}), "
                    f"slice(v, {j * d + 1}, {d}), (x, y) -> x * y), "
                    "cast(0.0 as double), (acc, x) -> acc + x)"
                )
                for j in range(ns)
            ]
        )
        terms.append(
            F.round(F.array_max(dots), 6).cast("decimal(18,6)")
        )
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", score.cast("double").alias("maxsim")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("maxsim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "maxsim", "rank")
    )


# ---------------------------------------------------------------------------
# q268 — matryoshka prefix-dimension recall (r11)
# ---------------------------------------------------------------------------


def _matryoshka_sql() -> str:
    legs = []
    for pd_ in (16, 32, 64):
        legs.append(f"""
      SELECT {pd_} AS prefix_dim, query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v[1:{pd_}], c.v[1:{pd_}])
                 / (sqrt(list_dot_product(q.v[1:{pd_}], q.v[1:{pd_}]))
                    * sqrt(list_dot_product(c.v[1:{pd_}], c.v[1:{pd_}]))) AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_dot_product(q.v[1:{pd_}], c.v[1:{pd_}])
                 / (sqrt(list_dot_product(q.v[1:{pd_}], q.v[1:{pd_}]))
                    * sqrt(list_dot_product(c.v[1:{pd_}], c.v[1:{pd_}]))) DESC,
                                  c.vec_id ASC) AS rank
        FROM q JOIN vecs c ON q.vec_id <> c.vec_id
      ) WHERE rank <= 3""")
    union = " UNION ALL ".join(legs)
    return f"""
    WITH vecs AS ({_VECTORS_SQL}),
    q AS (SELECT vec_id, v FROM vecs WHERE vec_id < 8),
    results AS ({union}),
    truth AS (SELECT query_id, neighbor_id FROM results WHERE prefix_dim = 64),
    t AS (SELECT count(*) AS n_truth FROM truth)
    SELECT r.prefix_dim,
           CAST(count(h.query_id) AS BIGINT) AS n_hits,
           CAST(max(t.n_truth) AS BIGINT) AS n_truth,
           round(CAST(count(h.query_id) AS DOUBLE) / max(t.n_truth), 4) AS recall
    FROM results r
    LEFT JOIN truth h ON r.query_id = h.query_id
                     AND r.neighbor_id = h.neighbor_id, t
    GROUP BY 1
    """


@query(
    "q268_matryoshka_recall",
    sql=_matryoshka_sql(),
    operators=("X-sim-matryoshka", "X-sim-recall", "X-sim-topk"),
)
def q268_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA-style prefix-dimension evaluation (r11): retrieval
    quality when only the first 16 / 32 / 64 dimensions of the
    embedding are used — recall@3 of each prefix against the full
    64-dim truth. This is the audit run before shipping truncated
    embeddings (the matryoshka deployment trick: store the prefix,
    pay 1/4 the bytes and FLOPs — IF the recall holds). Brute-force
    cosine per prefix over the broadcast 8-query set (the q80 shape:
    corpus stays partitioned, only per-partition top-k survives); the
    exact sequential-fold dot products are bit-identical to DuckDB's
    list_dot_product, so ranks and the recall fractions match with no
    rounding slack."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = vecs.select(F.col("vec_id").alias("neighbor_id"), "v")
    legs = []
    for pd_ in (16, 32, 64):
        dot = (
            f"aggregate(zip_with(slice(qv, 1, {pd_}), slice(v, 1, {pd_}), "
            "(x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
        )
        qn = (
            f"sqrt(aggregate(zip_with(slice(qv, 1, {pd_}), slice(qv, 1, {pd_}), "
            "(x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x))"
        )
        cn = (
            f"sqrt(aggregate(zip_with(slice(v, 1, {pd_}), slice(v, 1, {pd_}), "
            "(x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x))"
        )
        sim = F.expr(dot) / (F.expr(qn) * F.expr(cn))
        w = W.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        legs.append(
            c.crossJoin(F.broadcast(q))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", sim.alias("sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select(
                F.lit(pd_).cast("long").alias("prefix_dim"),
                "query_id",
                "neighbor_id",
            )
        )
    results = legs[0].unionByName(legs[1]).unionByName(legs[2])
    truth = results.filter(F.col("prefix_dim") == 64).select(
        "query_id", "neighbor_id"
    )
    hits = results.join(
        truth.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        hits.groupBy("prefix_dim")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
        .crossJoin(F.broadcast(n_truth))
        .select(
            "prefix_dim",
            "n_hits",
            F.col("n_truth").cast("long").alias("n_truth"),
            F.round(
                F.col("n_hits").cast("double") / F.col("n_truth"), 4
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# q269 — maximal-marginal-relevance diversified top-k (r11)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7


def _mmr_sql() -> str:
    """Unrolled 3-round MMR in SQL: each round picks the argmax of
    λ·rel − (1−λ)·max-sim-to-picked over the remaining candidates.
    Relevance and pairwise sims are exact sequential-fold cosines, so
    the float score arithmetic (one multiply, one subtract per term)
    is IEEE-identical across engines and the argmax agrees exactly."""
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 10)
    return f"""
    WITH vecs AS ({_VECTORS_SQL}),
    q AS (SELECT vec_id, v, nrm FROM vecs WHERE vec_id < 8),
    c AS (SELECT vec_id, v, nrm FROM vecs WHERE vec_id >= 8),
    rel AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.v AS cv,
             c.nrm AS cnrm,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS rel
      FROM q, c
    ),
    s1 AS (
      SELECT query_id, cand_id, cv, cnrm, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, cand_id ASC) AS rn
        FROM rel) WHERE rn = 1
    ),
    r2 AS (
      SELECT r.query_id, r.cand_id, r.cv, r.cnrm, r.rel,
             {lam} * r.rel - {mu} *
               (list_dot_product(r.cv, s.cv) / (r.cnrm * s.cnrm)) AS score
      FROM rel r JOIN s1 s ON r.query_id = s.query_id
      WHERE r.cand_id <> s.cand_id
    ),
    s2 AS (
      SELECT query_id, cand_id, cv, cnrm, rel, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, cand_id ASC) AS rn
        FROM r2) WHERE rn = 1
    ),
    r3 AS (
      SELECT r.query_id, r.cand_id, r.rel,
             {lam} * r.rel - {mu} * greatest(
               list_dot_product(r.cv, s1.cv) / (r.cnrm * s1.cnrm),
               list_dot_product(r.cv, s2.cv) / (r.cnrm * s2.cnrm)) AS score
      FROM rel r
      JOIN s1 ON r.query_id = s1.query_id
      JOIN s2 ON r.query_id = s2.query_id
      WHERE r.cand_id <> s1.cand_id AND r.cand_id <> s2.cand_id
    ),
    s3 AS (
      SELECT query_id, cand_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, cand_id ASC) AS rn
        FROM r3) WHERE rn = 1
    )
    SELECT query_id, CAST(1 AS BIGINT) AS rank, cand_id AS picked_id,
           round(rel, 6) AS score FROM s1
    UNION ALL
    SELECT query_id, 2, cand_id, round(score, 6) FROM s2
    UNION ALL
    SELECT query_id, 3, cand_id, round(score, 6) FROM s3
    """


@query(
    "q269_mmr_diversified_topk",
    sql=_mmr_sql(),
    operators=("X-sim-mmr", "X-sim-topk", "X-retrieval-diversity"),
)
def q269_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance retrieval (r11): the diversified
    top-3 a RAG context builder actually wants — round k picks
    argmax λ·relevance − (1−λ)·max-similarity-to-already-picked, so
    the second and third picks are penalized for redundancy with the
    first (λ = 0.7, the Carbonell-Goldstein default). The greedy loop
    unrolls into 3 rounds; each round is one broadcast join of the
    (query, picked) rows — 8·k tiny rows — against the candidate
    relevance table, never a corpus×corpus product, and the candidate
    table computes ONCE (localCheckpoint) rather than once per round.
    The oracle unrolls identically; scores are exact-fold cosines
    composed with one multiply/subtract per term, IEEE-identical
    across engines, so every argmax agrees exactly."""
    vecs = _vectors(spark, sf_dir)
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 10)
    q = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    c = vecs.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    # the one checkpoint outside checkpointing.materialize: LAZY, so the
    # table is stored by the query's own job (an eager cut adds a job)
    rel = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "cand_id",
            "cv",
            "cnrm",
            (
                F.expr(_DOT.format(a="qv", b="cv"))
                / (F.col("qnrm") * F.col("cnrm"))
            ).alias("rel"),
        )
        .localCheckpoint(eager=False)
    )

    def _top1(df, score_col):
        w = W.partitionBy("query_id").orderBy(
            F.desc(score_col), F.asc("cand_id")
        )
        return df.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        ).drop("rn")

    def _pick(df):
        return df.select(
            "query_id",
            F.col("cand_id").alias("p_id"),
            F.col("cv").alias("pv"),
            F.col("cnrm").alias("pnrm"),
        )

    psim = F.expr(_DOT.format(a="cv", b="pv")) / (
        F.col("cnrm") * F.col("pnrm")
    )
    s1 = _top1(rel, "rel")
    p1 = _pick(s1)
    r2 = (
        rel.join(F.broadcast(p1), "query_id")
        .filter(F.col("cand_id") != F.col("p_id"))
        .select(
            "query_id", "cand_id", "cv", "cnrm", "rel",
            (F.lit(lam) * F.col("rel") - F.lit(mu) * psim).alias("score"),
        )
    )
    s2 = _top1(r2, "score")
    p2 = _pick(s2.select("query_id", "cand_id", "cv", "cnrm"))
    sim1 = F.expr(_DOT.format(a="cv", b="p1v")) / (
        F.col("cnrm") * F.col("p1n")
    )
    sim2 = F.expr(_DOT.format(a="cv", b="p2v")) / (
        F.col("cnrm") * F.col("p2n")
    )
    r3 = (
        rel.join(
            F.broadcast(
                p1.select(
                    "query_id",
                    F.col("p_id").alias("p1_id"),
                    F.col("pv").alias("p1v"),
                    F.col("pnrm").alias("p1n"),
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                p2.select(
                    "query_id",
                    F.col("p_id").alias("p2_id"),
                    F.col("pv").alias("p2v"),
                    F.col("pnrm").alias("p2n"),
                )
            ),
            "query_id",
        )
        .filter(
            (F.col("cand_id") != F.col("p1_id"))
            & (F.col("cand_id") != F.col("p2_id"))
        )
        .select(
            "query_id", "cand_id", "rel",
            (
                F.lit(lam) * F.col("rel")
                - F.lit(mu) * F.greatest(sim1, sim2)
            ).alias("score"),
        )
    )
    s3 = _top1(r3, "score")
    out1 = s1.select(
        "query_id",
        F.lit(1).cast("long").alias("rank"),
        F.col("cand_id").alias("picked_id"),
        F.round("rel", 6).alias("score"),
    )
    out2 = s2.select(
        "query_id",
        F.lit(2).cast("long").alias("rank"),
        F.col("cand_id").alias("picked_id"),
        F.round("score", 6).alias("score"),
    )
    out3 = s3.select(
        "query_id",
        F.lit(3).cast("long").alias("rank"),
        F.col("cand_id").alias("picked_id"),
        F.round("score", 6).alias("score"),
    )
    return out1.unionByName(out2).unionByName(out3)


# ---------------------------------------------------------------------------
# q286 — label-noise detection by leave-one-out nearest centroid (r11)
# ---------------------------------------------------------------------------


@query(
    "q286_label_noise_detection",
    sql="""
    WITH comp AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS idx,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0)
                  AS BIGINT) AS v3
      FROM embeddings),
    cent AS (
      SELECT label, idx, sum(v3) AS s, count(*) AS n
      FROM comp GROUP BY 1, 2),
    dots AS (
      SELECT c.vec_id, c.label AS own, ct.label AS cand,
             max(ct.n) AS n_cand,
             sum((CAST(c.v3 AS HUGEINT)
                  * (CASE WHEN ct.label = c.label THEN ct.n - 1 ELSE ct.n END)
                  - (ct.s - CASE WHEN ct.label = c.label
                            THEN c.v3 ELSE 0 END))
                 * (CAST(c.v3 AS HUGEINT)
                  * (CASE WHEN ct.label = c.label THEN ct.n - 1 ELSE ct.n END)
                  - (ct.s - CASE WHEN ct.label = c.label
                            THEN c.v3 ELSE 0 END))) AS num
      FROM comp c JOIN cent ct ON c.idx = ct.idx
      GROUP BY 1, 2, 3),
    dists AS (
      SELECT vec_id, own, cand, num,
             CAST(CASE WHEN cand = own THEN n_cand - 1 ELSE n_cand END
                  AS HUGEINT)
             * (CASE WHEN cand = own THEN n_cand - 1 ELSE n_cand END) AS den
      FROM dots
      WHERE (CASE WHEN cand = own THEN n_cand - 1 ELSE n_cand END) > 0),
    best AS (
      SELECT d1.vec_id, d1.own, d1.cand AS predicted
      FROM dists d1 JOIN dists d2 ON d1.vec_id = d2.vec_id
      GROUP BY d1.vec_id, d1.own, d1.cand, d1.num, d1.den
      HAVING sum(CASE WHEN d2.num * d1.den < d1.num * d2.den
                      OR (d2.num * d1.den = d1.num * d2.den
                          AND d2.cand < d1.cand)
                 THEN 1 ELSE 0 END) = 0)
    SELECT CAST(own AS BIGINT) AS label,
           CAST(predicted AS BIGINT) AS predicted,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(CASE WHEN own <> predicted THEN 1 ELSE 0 END AS BIGINT)
               AS is_noise
    FROM best GROUP BY own, predicted
    """,
    operators=("X-label-noise", "X-centroid-assign", "A1", "J1"),
)
def q286_label_noise_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by LEAVE-ONE-OUT nearest centroid — the
    confident-learning-style audit a labeled corpus gets before
    training (q250 reads class separability at LABEL grain; this
    assigns every VECTOR and reports the confusion census): each
    embedding is scored against every label centroid, its OWN label's
    centroid computed WITHOUT it (the self-inclusion bias is exactly
    what hides mislabeled points), and a vector whose nearest
    centroid is a different label is flagged noise. Cross-engine
    determinism is the q250 discipline pushed one level further:
    components snap to scaled integers (1e3 — chosen so the ARGMIN's
    cross-multiplied rational comparison num·den' vs num'·den stays
    inside decimal(38)/HUGEINT at any plausible label size), squared
    distances accumulate as exact integers over per-label common
    denominators, and the argmin itself is the L×L integer
    cross-comparison per vector (ties break to the smaller label) —
    never a float rank. Singleton labels have no LOO centroid; their
    rows drop from their own candidate set and the vector classifies
    to the nearest OTHER label. Scale shape: one corpus-grain
    posexplode, the dot-product join against the L×D centroid table
    (broadcast; the q93 assignment shape), then L²-per-vector integer
    comparisons — linear in the corpus with a tiny constant."""
    e = catalog.load(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    comp = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("idx"),
        F.round(F.col("x").cast("double") * 1000, 0).cast("long").alias("v3"),
    )
    cent = comp.groupBy(F.col("label").alias("cand"), "idx").agg(
        F.sum("v3").alias("s"), F.count(F.lit(1)).alias("n")
    )
    n_eff = F.when(F.col("cand") == F.col("label"), F.col("n") - 1).otherwise(
        F.col("n")
    )
    s_eff = F.col("s") - F.when(
        F.col("cand") == F.col("label"), F.col("v3")
    ).otherwise(F.lit(0))
    term = F.col("v3").cast(dec) * n_eff - s_eff
    dots = (
        comp.join(F.broadcast(cent), "idx")
        .groupBy("vec_id", F.col("label").alias("own"), "cand")
        .agg(
            F.max("n").alias("n_cand"),
            F.max(F.when(F.col("cand") == F.col("label"), 1).otherwise(0)).alias(
                "is_own"
            ),
            F.sum((term * term).cast(dec)).alias("num"),
        )
    )
    den_base = F.when(
        F.col("is_own") == 1, F.col("n_cand") - 1
    ).otherwise(F.col("n_cand"))
    # Loud headroom guard (the q250 discipline): the argmin's
    # cross-multiplied comparison num·den' peaks at ~2.6e8·n⁴, which
    # clears decimal(38,0) once a label passes ~2.8e7 rows — Spark
    # (ANSI off) would turn that into a silent NULL comparison while
    # DuckDB throws on HUGEINT overflow; fail the same way, loudly.
    n_guarded = F.when(
        F.col("n_cand") > 20_000_000,
        F.raise_error(
            F.lit(
                "q286: label too large for exact decimal(38,0) "
                "cross-multiplied argmin (~>2e7 rows/label); "
                "pre-scale or sample the labels"
            )
        ).cast("long"),
    ).otherwise(F.col("n_cand"))
    dists = dots.withColumn("n_cand", n_guarded).filter(den_base > 0).select(
        "vec_id",
        "own",
        "cand",
        "num",
        (den_base.cast(dec) * den_base).alias("den"),
    )
    d1 = dists.alias("d1")
    d2 = dists.select(
        F.col("vec_id").alias("vec_id2"),
        F.col("cand").alias("cand2"),
        F.col("num").alias("num2"),
        F.col("den").alias("den2"),
    )
    best = (
        d1.join(d2, F.col("d1.vec_id") == F.col("vec_id2"))
        .groupBy(
            F.col("d1.vec_id").alias("vec_id"),
            F.col("d1.own").alias("own"),
            F.col("d1.cand").alias("predicted"),
            F.col("d1.num").alias("num"),
            F.col("d1.den").alias("den"),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("num2") * F.col("den") < F.col("num") * F.col("den2"))
                    | (
                        (F.col("num2") * F.col("den")
                         == F.col("num") * F.col("den2"))
                        & (F.col("cand2") < F.col("d1.cand"))
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_better")
        )
        .filter(F.col("n_better") == 0)
    )
    return best.groupBy(
        F.col("own").cast("long").alias("label"),
        F.col("predicted").cast("long").alias("predicted"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.max(
            F.when(F.col("own") != F.col("predicted"), 1).otherwise(0)
        )
        .cast("long")
        .alias("is_noise"),
    )
