"""[ext] Deduplication queries over ``documents`` (SURVEY.md §2.13):
exact, n-gram Jaccard, MinHash+LSH, SimHash — thin oracle-checked
wrappers over the generic operator library
(``portfolio1_etl_spark.operators.dedup``, see its docstring and
ARCHITECTURE.md §5 for the scale design).

Determinism: the hash family derives from md5 — Spark's
``conv(substring(md5(x),1,12),16,10)`` equals DuckDB's
``('0x' || substr(md5(x),1,12))::bigint`` bit-for-bit, so signatures,
candidates, and Jaccard values are all oracle-checkable (no RNG).
48-bit hashes make cross-shingle collisions negligible (~1e-5 per
corpus) and, being identical in both engines, collisions cannot cause
an oracle mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.operators.dedup import (
    H48 as _H48_SPARK,
    MINHASH_MOD,
    MINHASH_PARAMS,
    connected_components,
    jaccard_pairs,
    lsh_candidates,
    minhash_signatures,
    shingle_hashes,
    simhash,
    verify_candidates,
)
from portfolio1_etl_spark.plans.registry import query

# --- SQL twins of the library primitives -----------------------------------

_H48_SQL = "('0x' || substr(md5({c}), 1, 12))::BIGINT"

#: (doc_id, h) — 48-bit hashes of the distinct 3-shingles per doc.
_HASHED_SQL = f"""
  SELECT doc_id, {_H48_SQL.format(c='s')} AS h
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 0)),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
"""

#: q105's twin — identical except the (doc_id, h) grain is explicitly
#: DISTINCT: the Spark side verifies via per-doc hash SETS
#: (``verify_candidates_sets``), so the oracle pins the same set
#: semantics even in the ~n²/2⁴⁹ case where two of a document's
#: distinct shingles collide into one 48-bit hash.
_PAIR_JACCARD_SET_SQL = f"""
    sh AS (SELECT DISTINCT doc_id, h FROM ({_HASHED_SQL})),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
"""

_PAIR_JACCARD_SQL = f"""
    sh AS ({_HASHED_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "documents")


# --- exact dedup -----------------------------------------------------------


@query(
    "q70_dedup_exact_stats",
    sql="""
    SELECT count(*) AS n_docs,
           count(DISTINCT text) AS n_unique_texts,
           count(*) - count(DISTINCT text) AS n_dup_rows
    FROM documents
    """,
    operators=("X-dedup-exact", "A4"),
)
def q70_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-duplicate census."""
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_dup_rows"),
    )


@query(
    "q71_dedup_exact_keep",
    sql="""
    SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    operators=("X-dedup-exact",),
)
def q71_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic survivor per content hash —
    the scalable form of ``dropDuplicates(['text'])`` (which keeps an
    arbitrary row and is therefore untestable). Shuffle key is the
    digest, not the document: uniform, skew-free, tiny."""
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


# --- n-gram Jaccard near-dup ----------------------------------------------


@query(
    "q72_ngram_jaccard",
    sql=f"""
    WITH {_PAIR_JACCARD_SQL}
    SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.4
    """,
    operators=("X-dedup-ngram", "J2", "A1"),
)
def q72_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-gram shingle Jaccard ≥ 0.4 —
    ``shingle_hashes`` + ``jaccard_pairs`` from the operator library
    (inverted-index candidates on 48-bit keys; never all-pairs). At
    100 TB the next lever is a document-frequency cap on candidate
    shingles (q77 applies it; q73's LSH plays that role here).
    The shingle set feeds three consumers inside ``jaccard_pairs``
    (sizes + both sides of the self-join), so it is materialized once
    (``checkpointing.materialize``: a reliable checkpoint when the
    session has a checkpoint directory, else a local one)
    instead of re-running the tokenize→explode→md5 scan per consumer."""
    sh = materialize(shingle_hashes(_docs(spark, sf_dir), "text"))
    return jaccard_pairs(sh, 0.4)


_DF_CAP = 4

_CAPPED_PAIR_SQL = f"""
    sh0 AS ({_HASHED_SQL}),
    hot AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) > {_DF_CAP}),
    sh AS (SELECT * FROM sh0 WHERE h NOT IN (SELECT h FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
"""


@query(
    "q77_jaccard_dfcap",
    sql=f"""
    WITH {_CAPPED_PAIR_SQL}
    SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.4
    """,
    operators=("X-dedup-ngram", "X-dedup-dfcap"),
)
def q77_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q72 with the document-frequency cap engaged (df_cap=4): shingle
    hashes shared by more than 4 documents are dropped (broadcast
    anti-join against the heavy-hitter set) before pair enumeration.
    This is THE scale guard for the inverted-index join — one
    boilerplate shingle shared by 10^6 docs would otherwise enumerate
    ~10^12 candidate pairs. Stop-shingle semantics: sizes and
    intersections both use the capped sets, so Spark and the oracle
    agree exactly."""
    sh = materialize(shingle_hashes(_docs(spark, sf_dir), "text"))
    return jaccard_pairs(sh, 0.4, df_cap=_DF_CAP)


# --- duplicate clusters (connected components over near-dup pairs) --------


def _dup_clusters_sql() -> str:
    # Oracle: min-label reachability via a recursive CTE — the label
    # (always a component minimum along the winning path) propagates
    # outward; min(label) per node is the component minimum. The
    # `r.label < e.dst` guard prunes non-minimal labels without ever
    # blocking the true minimum (which is smaller than every other
    # member by definition).
    return f"""
    WITH RECURSIVE {_CAPPED_PAIR_SQL},
    p AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.4),
    nodes AS (SELECT doc_a AS node FROM p UNION SELECT doc_b FROM p),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM p
      UNION SELECT doc_b, doc_a FROM p
    ),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.label < e.dst
    ),
    cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
    csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
    SELECT cc.doc_id, cc.cluster_id, s.cluster_size,
           (cc.doc_id = cc.cluster_id) AS is_survivor
    FROM cc JOIN csizes s USING (cluster_id)
    """


@query(
    "q89_dup_clusters",
    sql=_dup_clusters_sql(),
    operators=("X-dedup-cc", "X-dedup-ngram", "X-dedup-dfcap"),
)
def q89_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the df-capped Jaccard pairs (q77's shape)
    contracted into connected components via the library's alternating
    large-star/small-star ``connected_components`` operator, labeling
    every paired document with its cluster minimum. The per-cluster
    minimum doc_id is the deterministic survivor (is_survivor) — the
    step a real corpus-dedup pipeline runs after ANY pairwise stage
    (q72/q73/q75/q78): pairs alone over-delete (B~A and C~B would drop
    both B and C even when keeping B is enough) and under-group
    (transitive duplicates land in different "keep" decisions). Output
    covers documents appearing in ≥1 pair; all others are trivially
    their own cluster."""
    sh = materialize(shingle_hashes(_docs(spark, sf_dir), "text"))
    pairs = jaccard_pairs(sh, 0.4, df_cap=_DF_CAP)
    cc = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    # cc feeds the size aggregate AND the final join; it is already
    # materialized — a driver-built local relation when the pair set is
    # under the operator's driver-finish bound, else a grouped read of
    # the checkpointed fixpoint — so the fan-out never re-runs the
    # iteration.
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(F.broadcast(sizes), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


# --- MinHash + LSH ---------------------------------------------------------


def _minhash_sql() -> str:
    min_cols = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_MOD}) AS h{i}" for i, a, b in MINHASH_PARAMS
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, "
        "h{i0}::VARCHAR || ',' || h{i1}::VARCHAR || ',' || h{i2}::VARCHAR || ',' || h{i3}::VARCHAR AS sig "
        "FROM sigs".format(band=band, i0=4 * band, i1=4 * band + 1, i2=4 * band + 2, i3=4 * band + 3)
        for band in range(4)
    )
    return f"""
    WITH sh AS ({_HASHED_SQL}),
    sigs AS (
      SELECT doc_id, {min_cols} FROM sh GROUP BY doc_id
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    cand_docs AS (
      SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand
    ),
    sh_c AS (
      SELECT sh.* FROM sh WHERE doc_id IN (SELECT doc_id FROM cand_docs)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh_c a JOIN sh_c b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      FROM common
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.jaccard
    FROM cand JOIN pairs p ON cand.doc_a = p.doc_a AND cand.doc_b = p.doc_b
    WHERE p.jaccard >= 0.4
    """


@query("q73_minhash_lsh", sql=_minhash_sql(), operators=("X-dedup-minhash",))
def q73_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 deterministic permutations) + LSH banding (4 bands ×
    4 rows) + exact-Jaccard verification restricted to survivors —
    the library pipeline ``shingle_hashes → minhash_signatures →
    lsh_candidates → verify_candidates``. The shingle scan (the
    expensive tokenize→explode→md5 subtree) fans out to the signature
    aggregate AND the verification join, so it is materialized once
    (``checkpointing.materialize``) — without it the subtree executes
    twice and dominated the round-1 bench (27.8 s → low single digits).
    On a cluster, substitute a reliable checkpoint or DISK_ONLY persist."""
    sh = materialize(shingle_hashes(_docs(spark, sf_dir), "text"))
    cand = lsh_candidates(minhash_signatures(sh))
    return verify_candidates(sh, cand, 0.4, assume_pair_distinct=True)


# --- SimHash ---------------------------------------------------------------


def _simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * sum((h >> {b}) & 1) > count(*) THEN {1 << b} ELSE 0 END)"
        for b in range(16)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, {_H48_SQL.format(c='w')} AS h FROM toks
    )
    SELECT doc_id, {bit_terms} AS simhash16
    FROM hashed GROUP BY doc_id
    """


@query("q74_simhash", sql=_simhash_sql(), operators=("X-dedup-simhash",))
def q74_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints via the library ``simhash``
    operator (majority-sign bit votes from md5-derived token hashes)."""
    return simhash(_docs(spark, sf_dir), "text")


# --- SimHash hamming pairs (pigeonhole-blocked) ----------------------------


#: hot-bucket cap for the q75 chunk join: a (chunk, value) bucket
#: larger than this is excised before the self-join (identical-
#: fingerprint families from degenerate/duplicated corpora are the
#: only way a 16-bit-value bucket gets hot under a 48-bit hash).
#: Mirrored EXACTLY in the oracle so capped runs still value-match.
_SIMHASH_BUCKET_CAP = 1000


def _simhash48_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * sum((h >> {b}) & 1) > count(*) THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(48)
    )
    return f"""
    SELECT doc_id, {bit_terms} AS simhash48
    FROM (
      SELECT doc_id, {_H48_SQL.format(c='w')} AS h
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
            FROM documents)
    ) GROUP BY doc_id
    """


def _simhash_pairs_sql() -> str:
    # chunks: 3 x 16 bits; hamming <= 2 => at least one chunk equal
    return f"""
    WITH fp AS ({_simhash48_sql()}),
    chunks AS (
      SELECT doc_id, simhash48, 0 AS chunk_id, simhash48 % 65536 AS chunk_val FROM fp
      UNION ALL
      SELECT doc_id, simhash48, 1, (simhash48 // 65536) % 65536 FROM fp
      UNION ALL
      SELECT doc_id, simhash48, 2, simhash48 // 4294967296 FROM fp
    ),
    cold AS (
      SELECT chunk_id, chunk_val FROM chunks
      GROUP BY 1, 2 HAVING count(*) <= {_SIMHASH_BUCKET_CAP}
    ),
    kept AS (SELECT c.* FROM chunks c JOIN cold USING (chunk_id, chunk_val)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash48 AS ha,
                      b.doc_id AS doc_b, b.simhash48 AS hb
      FROM kept a JOIN kept b
        ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    )
    SELECT CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
           count(*) AS n_pairs,
           min(doc_a) AS min_doc_a
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 2
    GROUP BY 1
    """


@query("q75_simhash_pairs", sql=_simhash_pairs_sql(), operators=("X-dedup-simhash", "J-range"))
def q75_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 2, with pigeonhole
    blocking: the 48-BIT fingerprint splits into 3 chunks of 16 bits;
    any pair within distance 2 agrees on >= 1 whole chunk, so
    candidates come from an equi-join on (chunk_id, chunk_value) --
    never an all-pairs scan -- and the exact bit_count(xor) check runs
    only on candidates.

    r11 SCALE FIX, surfaced by the sf1 checkpoint (SCALING.md): the
    original 16-bit fingerprint pigeonholed into 5/5/6-bit chunks,
    whose 32/64-value spaces saturate -- every bucket holds ~n/32 of
    the corpus, so the "blocked" join was quadratic in disguise
    (measured 48.7x wall-time at 10x data; 243 s at sf1). With 16-bit
    chunk values the bucket occupancy is n/65536 and the same factor-10
    amplification times at ~1x-linear. A (chunk, value) bucket larger
    than _SIMHASH_BUCKET_CAP (identical-fingerprint families from
    degenerate corpora -- random 48-bit hashes cannot make a 16-bit
    bucket hot below ~10^8 docs) is excised before the join, q73's
    bucket_cap discipline; the oracle mirrors the excision exactly."""
    fp = simhash(_docs(spark, sf_dir), "text", bits=48)
    h = F.col("simhash48")
    chunks = fp.select(
        "doc_id",
        "simhash48",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("chunk_id"),
                    (h % 65536).alias("chunk_val"),
                ),
                F.struct(
                    F.lit(1).alias("chunk_id"),
                    ((h / 65536).cast("long") % 65536).alias("chunk_val"),
                ),
                F.struct(
                    F.lit(2).alias("chunk_id"),
                    (h / 4294967296).cast("long").alias("chunk_val"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", "simhash48", "c.chunk_id", "c.chunk_val")
    cold = (
        chunks.groupBy("chunk_id", "chunk_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _SIMHASH_BUCKET_CAP)
        .select("chunk_id", "chunk_val")
    )
    kept = chunks.join(F.broadcast(cold), ["chunk_id", "chunk_val"])
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash48").alias("ha"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash48").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 2)
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("doc_a").alias("min_doc_a"),
        )
    )


# --- Winnowing fingerprints (rolling-hash document fingerprinting) ---------

_POSITIONAL_SH_SQL = f"""
  SELECT doc_id, i AS pos, {_H48_SQL.format(c='s')} AS h
  FROM (
    SELECT doc_id, i,
           toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)
  )
"""


def _winnow_sql() -> str:
    return f"""
    WITH psh AS ({_POSITIONAL_SH_SQL}),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM psh GROUP BY doc_id),
    wmins AS (
      SELECT p.doc_id, p.pos,
             min(p2.h) AS wmin
      FROM psh p JOIN psh p2
        ON p.doc_id = p2.doc_id AND p2.pos BETWEEN p.pos AND p.pos + 3
      JOIN counts c ON p.doc_id = c.doc_id
      WHERE p.pos <= c.n_sh - 3
      GROUP BY p.doc_id, p.pos
    ),
    fps AS (SELECT DISTINCT doc_id, wmin FROM wmins)
    SELECT doc_id, count(*) AS n_fingerprints,
           min(wmin) AS min_fp, max(wmin) AS max_fp
    FROM fps GROUP BY doc_id
    """


@query("q76_winnowing", sql=_winnow_sql(), operators=("X-fingerprint", "Window-frame"))
def q76_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): positional
    3-gram rolling hashes, a sliding window of 4 positions keeps each
    window's minimum hash, distinct minima are the document's
    fingerprint set. Sparse (≈ n/w fingerprints per doc), robust to
    local edits, and the fingerprint is a long — matching documents at
    scale is an equi-join on fingerprint value. Spark computes the
    window minimum with a ROWS frame (one shuffle per doc partition);
    the oracle's self-join formulation is semantically identical."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    psh = (
        d.withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "CASE WHEN size(toks) >= 3 THEN"
                    " transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', slice(toks, i, 3)))"
                    " ELSE array() END"
                )
            ).alias("pos0", "s"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.expr(_H48_SPARK.format(c="s")).alias("h"),
        )
    )
    n_sh = psh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wmins = (
        psh.withColumn("wmin", F.min("h").over(w))
        .join(n_sh, "doc_id")
        .filter(F.col("pos") <= F.col("n_sh") - 3)
        .select("doc_id", "wmin")
        .distinct()
    )
    return wmins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("wmin").alias("min_fp"),
        F.max("wmin").alias("max_fp"),
    )


def _winnow_match_sql() -> str:
    return f"""
    WITH psh AS ({_POSITIONAL_SH_SQL}),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM psh GROUP BY doc_id),
    wmins AS (
      SELECT p.doc_id, p.pos,
             min(p2.h) AS wmin
      FROM psh p JOIN psh p2
        ON p.doc_id = p2.doc_id AND p2.pos BETWEEN p.pos AND p.pos + 3
      JOIN counts c ON p.doc_id = c.doc_id
      WHERE p.pos <= c.n_sh - 3
      GROUP BY p.doc_id, p.pos
    ),
    fps AS (SELECT DISTINCT doc_id, wmin FROM wmins),
    nfp AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM fps a JOIN fps b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b, s.n_shared,
           round(CAST(s.n_shared AS DOUBLE)
                 / least(na.n, nb.n), 6) AS containment
    FROM shared s
    JOIN nfp na ON s.doc_a = na.doc_id
    JOIN nfp nb ON s.doc_b = nb.doc_id
    WHERE s.n_shared >= 2
    """


@query(
    "q79_fingerprint_match",
    sql=_winnow_match_sql(),
    operators=("X-fingerprint", "X-dedup-ngram"),
)
def q79_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing MATCH step (the second half of the MOSS scheme):
    documents pair when they share ≥2 winnowing fingerprints; the
    match strength is containment — shared fingerprints over the
    smaller document's fingerprint count. Pure equi-join on the long
    fingerprint value (the sparse ≈n/w fingerprint sets make this
    cheap at corpus scale); same inverted-index shape as q72 but over
    winnowed minima instead of all shingles."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    psh = (
        d.withColumn("toks", F.split("text", " "))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "CASE WHEN size(toks) >= 3 THEN"
                    " transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', slice(toks, i, 3)))"
                    " ELSE array() END"
                )
            ).alias("pos0", "s"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.expr(_H48_SPARK.format(c="s")).alias("h"),
        )
    )
    # n_sh via a count window over the SAME partition key as the
    # min-window: one shuffle, one scan — no self-join back onto psh
    # (which would re-execute the tokenize→posexplode→md5 subtree).
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    w_all = W.partitionBy("doc_id")
    fps = materialize(  # feeds sizes AND both join sides
        psh.withColumn("wmin", F.min("h").over(w))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_all))
        .filter(F.col("pos") <= F.col("n_sh") - 3)
        .select("doc_id", "wmin")
        .distinct()
    )
    nfp = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.wmin") == F.col("b.wmin"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return (
        shared.join(nfp.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(nfp.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.least(F.col("na.n"), F.col("nb.n")),
                6,
            ).alias("containment"),
        )
    )


# --- decontamination (eval-set n-gram overlap) ------------------------------


@query(
    "q97_decontaminate",
    sql=f"""
    WITH sh AS ({_HASHED_SQL}),
    eval_sh AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
    hits AS (
      SELECT s.doc_id, count(*) AS n_shared
      FROM sh s JOIN eval_sh e ON s.h = e.h
      WHERE s.doc_id % 50 <> 0
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shared, (n_shared >= 3) AS is_contaminated
    FROM hits
    """,
    operators=("X-dedup-decontaminate", "X-dedup-ngram", "J-semi"),
)
def q97_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing 3-gram
    shingles with a held-out eval set (here the deterministic
    doc_id % 50 == 0 slice) are flagged — the overlap check every
    serious training corpus runs before training. The eval shingle
    set is DISTINCT and usually small relative to the corpus; no
    explicit broadcast hint is forced — the shingle table is
    checkpointed so its size is known, Catalyst broadcasts the eval
    side when it fits and otherwise degrades to a shuffled hash join
    on the uniform 48-bit digest key (a forced hint would OOM on a
    huge eval suite). The corpus side is never self-joined, unlike
    near-dup detection. Flag threshold: ≥3 shared shingles (one
    shared phrase is noise)."""
    sh = materialize(shingle_hashes(_docs(spark, sf_dir), "text"))
    is_eval = F.col("doc_id") % 50 == 0
    eval_sh = sh.filter(is_eval).select("h").distinct()
    hits = (
        sh.filter(~is_eval)
        .join(eval_sh, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.select(
        "doc_id", "n_shared", (F.col("n_shared") >= 3).alias("is_contaminated")
    )


# --- prefix-filtered similarity join (AllPairs/PPJoin) ---------------------


@query(
    "q105_prefix_jaccard",
    sql=f"""
    WITH {_PAIR_JACCARD_SET_SQL}
    SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.4
    """,
    operators=("X-dedup-ngram", "X-dedup-prefix", "Window-rank"),
)
def q105_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q72's result via PREFIX FILTERING (AllPairs/PPJoin): sets sort
    in ascending-document-frequency order and only each set's first
    n − ceil(0.4·n) + 1 tokens are indexed — any pair at Jaccard ≥ 0.4
    must collide inside the prefixes, so the candidate join reads a
    threshold-driven slice of the inverted index instead of all of it.
    THE ORACLE IS THE COMPLETE JOIN (q72's SQL): a single pair missed
    by the prefix filter fails the hash gate, making the lemma — and
    the integer-exact prefix-length arithmetic it depends on — a
    tested invariant rather than cited theory. Scale shape: one
    (df, h) rank window per document + a self-join on the reduced
    index + candidate-only exact verification."""
    from portfolio1_etl_spark.operators.dedup import prefix_jaccard_pairs

    sh = materialize(shingle_hashes(_docs(spark, sf_dir), "text"))
    return prefix_jaccard_pairs(sh, 2, 5)  # 2/5 = 0.4 exactly


# --- cross-doc repeated-span removal ---------------------------------------

_SPAN_N, _SPAN_MIN_DOCS = 4, 2


@query(
    "q110_span_dedup",
    sql=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (
      SELECT doc_id, p AS wpos,
             ('0x' || substr(md5(array_to_string(t[p : p + {_SPAN_N - 1}], ' ')), 1, 12))::BIGINT AS h
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_SPAN_N - 1})) AS p
            FROM toks WHERE len(t) >= {_SPAN_N})
    ),
    rep AS (
      SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS span_df FROM occ GROUP BY h)
      WHERE span_df >= {_SPAN_MIN_DOCS}
    ),
    cov AS (
      SELECT DISTINCT doc_id, wp FROM (
        SELECT occ.doc_id, unnest(generate_series(occ.wpos, occ.wpos + {_SPAN_N - 1})) AS wp
        FROM occ JOIN rep USING (h))
    ),
    words AS (
      SELECT doc_id, wpos, t[wpos] AS w
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS wpos FROM toks)
    ),
    kept AS (
      SELECT words.doc_id, list(words.w ORDER BY words.wpos) AS ws
      FROM words LEFT JOIN cov
        ON words.doc_id = cov.doc_id AND words.wpos = cov.wp
      WHERE cov.wp IS NULL
      GROUP BY words.doc_id
    ),
    ncov AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           md5(coalesce(array_to_string(kept.ws, ' '), '')) AS clean_hash,
           CAST(len(t.t) AS BIGINT) AS n_words,
           CAST(coalesce(ncov.n_removed, 0) AS BIGINT) AS n_removed
    FROM toks t
    LEFT JOIN kept ON t.doc_id = kept.doc_id
    LEFT JOIN ncov ON t.doc_id = ncov.doc_id
    """,
    operators=("X-dedup-span", "X-dedup-ngram", "A1", "J2"),
)
def q110_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc repeated-span removal (word-granular Lee et al.
    repeated-substring dedup): every word covered by a 4-word span
    shared by ≥2 documents is cut from the corpus; the census row per
    document carries the cleaned-text md5 (content-exact gate), word
    count, and removed-word count. Complements whole-doc exact dedup
    (q71) and doc-pair near-dup (q72+): boilerplate that contaminates
    MANY otherwise-distinct documents is removed WITHIN the survivors.
    Scale: linear in span occurrences end-to-end — hash-keyed
    aggregate for the repeated set, equi-join back (AQE skew-split
    when one span is in ~every doc — skew-stress-tested), n-row
    explode per hit, one per-doc aggregate, narrow rebuild. No pair
    enumeration anywhere."""
    from portfolio1_etl_spark.operators.dedup import remove_repeated_spans

    return remove_repeated_spans(
        _docs(spark, sf_dir), n=_SPAN_N, min_docs=_SPAN_MIN_DOCS
    ).select(
        "doc_id",
        F.md5("text_clean").alias("clean_hash"),
        "n_words",
        "n_removed",
    )


# --- q139: leakage-safe train/val/test split (r7) --------------------------


def _leakage_split_sql() -> str:
    """Oracle: splice the full q89 cluster derivation as a subquery
    (the q114/q129 composition pattern — the split on the board is the
    split of exactly the gated cluster pipeline), then assign splits
    by the hash of the GROUP key."""
    bucket = (
        "('0x' || substr(md5('split-' || group_key::VARCHAR), 1, 12))::BIGINT % 10"
    )
    return f"""
    WITH cc AS (SELECT doc_id, cluster_id FROM ({_dup_clusters_sql()})),
    g AS (
      SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_key
      FROM (SELECT doc_id FROM documents) d LEFT JOIN cc USING (doc_id)
    )
    SELECT doc_id, group_key,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END
             AS split
    FROM (SELECT doc_id, group_key, {bucket} AS b FROM g)
    """


@query(
    "q139_leakage_safe_split",
    sql=_leakage_split_sql(),
    operators=("X-split-leakage", "X-dedup-cc", "X-dedup-dfcap"),
)
def q139_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that near-duplicates CANNOT straddle:
    the split key is the document's near-dup CLUSTER id (q89's
    connected components; singletons key on their own doc_id), hashed
    into 80/10/10 buckets with the package's deterministic salted-md5
    recipe. Splitting by doc_id hash — the naive recipe — leaks: a
    train document's near-duplicate lands in test with probability
    ~1 - 1/10 per pair, and eval scores measure memorization of the
    duplicated text. Keying on the cluster makes the guarantee
    structural (tested: every q77 near-dup pair shares a split), which
    is why a real pipeline derives splits AFTER dedup clustering.

    Scale shape: q89's bucketed pair join + O(log n) CC contraction,
    one broadcast-able left join of the (small — paired docs only)
    cluster table onto the corpus, then a narrow hash map. No new
    shuffle beyond the audited q89 plan."""
    from portfolio1_etl_spark.plans.registry import REGISTRY

    docs = _docs(spark, sf_dir).select("doc_id")
    cc = (
        REGISTRY["q89_dup_clusters"]
        .fn(spark, sf_dir)
        .select("doc_id", "cluster_id")
    )
    g = docs.join(F.broadcast(cc), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("group_key"),
    )
    b = F.expr(
        "cast(conv(substring(md5(concat('split-', cast(group_key as string))), "
        "1, 12), 16, 10) as bigint) % 10"
    )
    return g.select(
        "doc_id",
        "group_key",
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test").alias("split"),
    )
