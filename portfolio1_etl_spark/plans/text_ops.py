"""[ext] Text-analysis operators over the ``documents`` table —
the training-data-pipeline surface mandated beyond the reference
(SURVEY.md §2.13): token statistics, quality scoring, language-ID
heuristic, document fingerprinting.

All operators are pure built-in column expressions (split / transform /
filter / regexp / md5) — JVM-side, whole-stage-codegen, no Python in
the hot path. At 100 TB each is a narrow map over the corpus followed
by (at most) one aggregate shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions.numeric import zround
from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.plans.registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "documents")


#: BPE-ish subtoken pattern: letter runs, digit runs, single symbols.
#: Kept to portable character classes (same regex semantics in Java and
#: RE2/DuckDB).
_SUBTOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "q60_token_stats",
    sql=f"""
    SELECT
      doc_id,
      len(string_split(text, ' '))                    AS n_tokens,
      length(text)                                    AS n_chars_calc,
      len(regexp_extract_all(text, '{_SUBTOKEN_RE}')) AS n_subtokens,
      CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        / len(string_split(text, ' '))                AS avg_token_len
    FROM documents
    """,
    operators=("X-tokens", "C15"),
)
def q60_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex subtoken
    count. avg_token_len exploits single-space joining:
    sum(len(token)) = len(text) − (n−1)."""
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.regexp_extract_all("text", F.lit(_SUBTOKEN_RE), 0)).cast("long").alias(
            "n_subtokens"
        ),
        (
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens
        ).alias("avg_token_len"),
    )


@query(
    "q61_word_frequency",
    sql="""
    SELECT word, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    """,
    operators=("X-wordcount", "F3", "A1"),
)
def q61_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency: explode(split) → groupBy — the classic
    wide aggregation. Document frequency via exact distinct count."""
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q62_quality_score",
    sql="""
    WITH scored AS (
      SELECT
        doc_id,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_filter(string_split(text, ' '),
            x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS n_stop,
        len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    )
    SELECT
      doc_id, n_tokens,
      CAST(n_stop AS DOUBLE) / n_tokens                         AS stop_ratio,
      CAST(n_distinct AS DOUBLE) / n_tokens                     AS uniq_ratio,
      0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
        + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)       AS quality,
      (0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
        + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)) >= 0.5 AS keep
    FROM scored
    """,
    operators=("X-quality",),
)
def q62_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring for corpus filtering: stopword ratio +
    lexical diversity (distinct/total tokens) combined into a keep/drop
    score. All lambda higher-order functions (filter / array_distinct)
    — no UDF."""
    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    is_stop = lambda x: (x == "the") | (x == "a") | (x == "of") | (x == "and")  # noqa: E731
    n_stop = F.size(F.filter(toks, is_stop))
    n_distinct = F.size(F.array_distinct(toks))
    stop_ratio = n_stop.cast("double") / n_tokens
    uniq_ratio = n_distinct.cast("double") / n_tokens
    quality = 0.5 * uniq_ratio + 0.5 * (1.0 - stop_ratio)
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        quality.alias("quality"),
        (quality >= 0.5).alias("keep"),
    )


@query(
    "q63_lang_id",
    sql="""
    SELECT
      lang,
      CASE WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de'
           WHEN contains(text, ' le ')  OR contains(text, ' et ')  THEN 'fr'
           WHEN contains(text, ' el ')  OR contains(text, ' y ')   THEN 'es'
           WHEN contains(text, ' the ') OR contains(text, ' a ')   THEN 'en'
           ELSE 'und' END AS lang_guess,
      count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
    operators=("X-langid",),
)
def q63_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language-ID heuristic, reported as a confusion
    matrix against the labeled ``lang`` column. (The synthetic corpus
    shares one vocabulary across langs, so the interesting output is
    the deterministic classifier disagreement, not accuracy.)"""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    guess = (
        F.when(t.contains(" der ") | t.contains(" und "), "de")
        .when(t.contains(" le ") | t.contains(" et "), "fr")
        .when(t.contains(" el ") | t.contains(" y "), "es")
        .when(t.contains(" the ") | t.contains(" a "), "en")
        .otherwise("und")
    )
    return d.groupBy("lang", guess.alias("lang_guess")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q65_char_ngram_profile",
    sql="""
    WITH grams AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, greatest(length(text) - 1, 1)),
                                   i -> substr(text, i, 2))) AS gram
      FROM documents
    )
    SELECT lang, gram, count(*) AS n
    FROM grams
    WHERE gram NOT LIKE '% %'
    GROUP BY lang, gram
    HAVING count(*) >= 100
    """,
    operators=("X-langid", "X-tokens"),
)
def q65_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram frequency profile per language label — the
    feature table a statistical language-ID model trains on (the
    n-gram heuristic from the extension mandate). Substring generation
    happens engine-side (sequence + transform), then one aggregate;
    space-crossing grams are dropped and rare grams cut at a fixed
    support threshold to bound output deterministically."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 1, 1)),"
                " i -> substring(text, i, 2))"
            )
        ).alias("gram"),
    )
    return (
        grams.filter(~F.col("gram").contains(" "))
        .groupBy("lang", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
    )


@query(
    "q64_fingerprint",
    sql="""
    SELECT
      md5(lower(trim(text))) AS fingerprint,
      count(*)               AS n_docs,
      min(doc_id)            AS keep_doc_id
    FROM documents
    GROUP BY 1
    """,
    operators=("X-fingerprint", "C1", "C2"),
)
def q64_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 over normalized text → cluster by
    digest with a deterministic survivor (min doc_id). The grouped form
    is exactly the exact-dedup reducer at any scale."""
    d = _docs(spark, sf_dir)
    return d.groupBy(
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_doc_id"),
    )


_GRAMS_SQL = """
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, greatest(length(text) - 1, 1)),
                               i -> substr(text, i, 2))) AS gram
  FROM documents
"""


@query(
    "q69_langid_classifier",
    sql=f"""
    WITH grams AS ({_GRAMS_SQL}),
    clean AS (SELECT * FROM grams WHERE gram NOT LIKE '% %'),
    profile AS (
      SELECT lang AS p_lang, gram, count(*) AS w
      FROM clean GROUP BY lang, gram
    ),
    scores AS (
      SELECT g.doc_id, g.lang, p.p_lang, CAST(sum(p.w) AS BIGINT) AS score
      FROM clean g JOIN profile p ON g.gram = p.gram
      GROUP BY g.doc_id, g.lang, p.p_lang
    )
    SELECT doc_id, lang, p_lang AS lang_pred, score FROM (
      SELECT doc_id, lang, p_lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, p_lang ASC) AS rn
      FROM scores
    ) WHERE rn = 1
    """,
    operators=("X-langid", "J2", "A1", "Window-rank"),
)
def q69_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical n-gram language-ID: character-bigram frequency
    profiles per language (trained on the labeled corpus itself — the
    q65 feature table) score each document by the summed profile
    weights of its bigrams; argmax wins. All-integer scoring keeps the
    math bit-exact cross-engine (no log-probabilities — Java and libm
    ln() can differ in the last ulp). Scale shape: the profile is a
    broadcastable dim; document grams PRE-AGGREGATE to per-(doc, gram)
    counts before the profile join (r12 — the sf10 Finding 6 fix:
    bigrams repeat ~3× per document, and feeding the raw explode into
    the (doc, lang, p_lang) aggregate put its partial maps into a
    spill regime at the second decade; the pre-aggregate shrinks both
    the join probe and the final aggregate's input by the repetition
    factor, with sum(cnt·w) ≡ the duplicate-row sum exactly), then one
    grouped integer sum + one ranking window."""
    d = _docs(spark, sf_dir)
    # spread the explode across the full parallelism BEFORE it runs:
    # file-split sizing sees raw text bytes, not the ~300× gram
    # amplification behind the explode — at the sf10 checkpoint the
    # scan planned ~17 splits and one straggler task carried half the
    # wall-time (SCALING.md Finding 6)
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    grams = (
        d.repartition(npart)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(text) - 1, 1)),"
                    " i -> substring(text, i, 2))"
                )
            ).alias("gram"),
        )
        .filter(~F.col("gram").contains(" "))
        .groupBy("doc_id", "lang", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    profile = grams.groupBy(F.col("lang").alias("p_lang"), "gram").agg(
        F.sum("cnt").alias("w")
    )
    scores = (
        grams.join(F.broadcast(profile), "gram")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("score"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("p_lang").asc())
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("p_lang").alias("lang_pred"), "score")
    )


@query(
    "q85_stratified_sample",
    sql="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substr(md5('sample-' || doc_id::VARCHAR), 1, 12))::BIGINT
               AS DOUBLE) / 281474976710656.0
          < (CASE WHEN lang = 'en' THEN 0.5 ELSE 1.0 END)
    """,
    operators=("X-sample", "W1"),
)
def q85_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the source/language
    rebalancing pass a training-data pipeline runs to downsample
    over-represented strata (here: keep 50% of English, 100% of the
    rest). The keep decision is a pure function of the row key — a
    salted md5 mapped to [0,1) — NOT rand() or TABLESAMPLE, so the
    sample is reproducible across runs/engines/partitionings, stable
    under re-partitioning, and needs no shuffle at all (a map-only
    filter at any corpus size). Different salts give independent
    samples."""
    d = _docs(spark, sf_dir)
    u = (
        F.expr(
            "cast(conv(substring(md5(concat('sample-', cast(doc_id as string))), 1, 12), 16, 10) as bigint)"
        ).cast("double")
        / F.lit(float(2**48))
    )
    rate = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(1.0))
    return d.filter(u < rate).select("doc_id", "lang", "source")


@query(
    "q106_weighted_sample",
    sql="""
    SELECT doc_id, lang, n_chars,
           round(-ln((CAST(('0x' || substr(md5('wsample-' || doc_id::VARCHAR), 1, 12))::BIGINT
                      AS DOUBLE) + 0.5) / 281474976710656.0)
                 / n_chars, 9) AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY es_key, doc_id
    LIMIT 200
    """,
    operators=("X-sample", "X-sample-weighted", "O2"),
)
def q106_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis,
    IPL 2006) — the importance-sampling pass of corpus curation:
    draw k=200 documents with inclusion probability proportional to
    weight (here ``n_chars``) in ONE distributed pass. Each row gets
    the key −ln(u)/w with u a salted-md5 uniform in (0,1); the k
    SMALLEST keys are exactly a weighted draw without replacement, so
    the whole sampler is a narrow map + a top-k (TakeOrderedAndProject
    — no global sort, no rand(), no shuffle beyond the k-row final).
    Keys round to 9 dp before ranking (ties break on doc_id) so the
    libm-computed ln cannot flip the selection between engines. The
    same recipe with per-stratum windows gives weighted sampling per
    language/source."""
    d = _docs(spark, sf_dir)
    u = (
        F.expr(
            "cast(conv(substring(md5(concat('wsample-', cast(doc_id as string))), 1, 12), 16, 10) as bigint)"
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**48))
    es_key = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (
        d.filter(F.col("n_chars") > 0)
        .select("doc_id", "lang", "n_chars", es_key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(200)
    )


_CHUNK, _STRIDE = 64, 48  # 64-token windows, 16-token overlap


@query(
    "q107_chunking",
    sql=f"""
    SELECT doc_id,
           i AS chunk_id,
           len(toks[i * {_STRIDE} + 1 : least(i * {_STRIDE} + {_CHUNK}, len(toks))])
             AS n_chunk_tokens,
           md5(array_to_string(
             toks[i * {_STRIDE} + 1 : least(i * {_STRIDE} + {_CHUNK}, len(toks))], ' '))
             AS chunk_hash
    FROM (
      SELECT doc_id, toks,
             unnest(generate_series(0, (len(toks) - 1) // {_STRIDE})) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
    operators=("X-text-chunking", "F3", "C-generate"),
)
def q107_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunking — the context-window
    packing step between cleaning and tokenization in a training
    pipeline: every document explodes into 64-token windows advancing
    by a 48-token stride (16-token overlap so no boundary context is
    lost). Pure narrow map + posexplode — chunk starts come from a
    ``sequence`` computed per row, no shuffle at any corpus size; the
    chunk census (id, token count, content hash) is what a packing
    job writes next to the shards. The hash makes the oracle compare
    chunk CONTENT, not just counts — an off-by-one in the stride or
    slice bounds changes md5s and fails the gate."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("toks"))
    exploded = toks.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.expr(f"sequence(0, (size(toks) - 1) div {_STRIDE})")
        ).alias("chunk_id", "_s"),
    )
    chunk = F.expr(f"slice(toks, chunk_id * {_STRIDE} + 1, {_CHUNK})")
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query(
    "q86_corpus_clean",
    sql="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars,
             md5(text) AS text_hash,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS n_stop,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ),
    flagged AS (
      SELECT doc_id, lang, source, n_tokens,
             doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS dup_keep,
             (0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
              + 0.5 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)) >= 0.5
               AS quality_keep,
             n_chars BETWEEN 20 AND 100000 AS length_keep
      FROM scored
    )
    SELECT doc_id, lang, source, n_tokens,
           dup_keep, quality_keep, length_keep,
           dup_keep AND quality_keep AND length_keep AS keep
    FROM flagged
    """,
    operators=("X-clean-pipeline", "X-dedup-exact", "X-quality"),
)
def q86_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style corpus-cleaning decision log, composed from the
    engine's own pieces in ONE plan: exact-dup survivor election
    (min doc_id per content hash, a window over the digest — uniform
    shuffle key), quality gate (q62's stopword + lexical-diversity
    score), and a length gate. Each document carries its per-filter
    flags plus the final keep — the audit artifact a data pipeline
    materializes next to the cleaned corpus so every drop is
    attributable."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    is_stop = lambda x: (x == "the") | (x == "a") | (x == "of") | (x == "and")  # noqa: E731
    quality = (
        0.5 * (F.size(F.array_distinct(toks)).cast("double") / n_tokens)
        + 0.5 * (1.0 - F.size(F.filter(toks, is_stop)).cast("double") / n_tokens)
    )
    w = W.partitionBy(F.md5("text"))
    return d.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.cast("long").alias("n_tokens"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("dup_keep"),
        (quality >= 0.5).alias("quality_keep"),
        F.col("n_chars").between(20, 100000).alias("length_keep"),
    ).withColumn(
        "keep",
        F.col("dup_keep") & F.col("quality_keep") & F.col("length_keep"),
    )


@query(
    "q87_token_histogram",
    sql="""
    WITH t AS (
      SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT CASE WHEN n_tokens < 16 THEN '<16'
                WHEN n_tokens < 32 THEN '16-31'
                WHEN n_tokens < 64 THEN '32-63'
                WHEN n_tokens < 128 THEN '64-127'
                ELSE '128+' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM t
    GROUP BY 1
    """,
    operators=("X-histogram", "A1", "C-case"),
)
def q87_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram — the training-data budget summary (how
    many documents/tokens land in each length band; the stat that
    drives packing and truncation decisions). Fixed CASE bands rather
    than log2 buckets: integer-exact in both engines, no float
    boundary risk. Map-side partial aggregation; output is 5 rows at
    any corpus size."""
    d = _docs(spark, sf_dir)
    n = F.size(F.split("text", " "))
    bucket = (
        F.when(n < 16, "<16")
        .when(n < 32, "16-31")
        .when(n < 64, "32-63")
        .when(n < 128, "64-127")
        .otherwise("128+")
    )
    return d.select(n.alias("n_tokens"), bucket.alias("bucket")).groupBy(
        "bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@query(
    "q94_tfidf",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, dfc.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfc.df), 6) + 0.0 AS tfidf
      FROM tf JOIN dfc ON tf.w = dfc.w CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT doc_id, term, tf, df, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    operators=("X-text-tfidf", "A1", "Window-rank"),
)
def q94_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic term-weighting
    signal a corpus pipeline uses for keyword extraction and
    quality/topic features. One explode feeds both the per-doc term
    frequency and the document frequency; the corpus size joins in as
    a broadcast one-row aggregate (never a driver-side count), and the
    vocabulary join shuffles on the term — at 100 TB AQE broadcasts
    the df side iff the vocabulary is small enough, otherwise it is a
    well-keyed shuffle. Scores round to 6 dp before ranking (ln last-
    ulp differs across engines), ties break on the term."""
    from pyspark.sql import Window as W

    d = catalog.load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    # df derives FROM tf (one row per (doc, term) ⇒ count(*) per term
    # IS the document frequency): the corpus is scanned and exploded
    # exactly once, and tf — which fans out to the scoring join and
    # the df aggregate — is materialized instead of the token stream.
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    tf = materialize(tf)
    dfc = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfc, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            # zround: signed-zero canonicalization (q159 class)
            zround(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@query(
    "q96_repetition_filter",
    sql="""
    WITH sh AS (
      SELECT doc_id,
             len(toks) - 2 AS n_shingles,
             len(list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS n_distinct
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 3
    )
    SELECT doc_id, n_shingles, n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / n_shingles AS rep_ratio,
           (CAST(n_distinct AS DOUBLE) / n_shingles < 0.6) AS is_repetitive
    FROM sh
    """,
    operators=("X-text-repetition", "X-dedup-ngram"),
)
def q96_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratio (the Gopher/C4 quality rule:
    documents whose 3-grams repeat heavily are boilerplate/spam):
    1 − distinct/total 3-grams per doc, flag when the distinct share
    drops below 0.6. Pure narrow map — the shingle set is computed
    inside one higher-order expression per row, no explode, no
    shuffle, and the ratio is an exact rational so the oracle needs
    no rounding at all."""
    from portfolio1_etl_spark.operators.dedup import with_repetition_cols

    d = catalog.load(spark, sf_dir, "documents")
    out = (
        with_repetition_cols(d)
        .select("doc_id", "n_shingles", "n_distinct")
        .filter(F.col("n_shingles") >= 1)
    )
    share = F.col("n_distinct").cast("double") / F.col("n_shingles")
    return out.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        (F.lit(1.0) - share).alias("rep_ratio"),
        (share < 0.6).alias("is_repetitive"),
    )


@query(
    "q208_html_strip",
    sql="""
    WITH pages AS (
      SELECT doc_id,
        '<html><head><title>doc</title></head><body class="d' || doc_id
        || '"><h1>' || CASE WHEN doc_id % 3 = 0 THEN '<b>hdr</b>'
                            ELSE 'hdr' END
        || '</h1><p>' || text || '</p>'
        || CASE WHEN doc_id % 4 = 0
                THEN '<ul><li>&amp;item&lt;1&gt;</li></ul>' ELSE '' END
        || '<br/></body></html>' AS html
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, html,
             replace(replace(replace(replace(
               regexp_replace(html, '<[^>]*>', '', 'g'),
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"') AS clean
      FROM pages
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
      CAST(length(html) AS BIGINT) AS html_len,
      CAST(length(clean) AS BIGINT) AS clean_len,
      round(CAST(length(clean) AS DOUBLE) / length(html), 4) AS text_ratio
    FROM stripped
    """,
    operators=("X-html-strip", "X-corpus-prep", "C-regex"),
)
def q208_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first operator of every
    web-corpus ingestion pipeline: tag removal plus entity unescape,
    with the tag count and text-to-markup ratio as the quality
    signals (pages whose ratio is tiny are navigation/chrome, the
    classic pre-training drop rule). The page is synthesized around
    the corpus text deterministically in BOTH engines (same constructs
    -> same strings), so the oracle checks the STRIPPER, not the
    generator. Pure narrow string expressions in whole-stage codegen
    — no UDF, no shuffle; tag regex `<[^>]*>` parses identically in
    Java regex and RE2 (no lookaround, no dot)."""
    d = catalog.load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title>doc</title></head><body class="d'),
        F.col("doc_id").cast("string"),
        F.lit('"><h1>'),
        F.when(F.col("doc_id") % 3 == 0, F.lit("<b>hdr</b>")).otherwise(
            F.lit("hdr")
        ),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("<ul><li>&amp;item&lt;1&gt;</li></ul>"),
        ).otherwise(F.lit("")),
        F.lit("<br/></body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    clean = F.regexp_replace("html", "<[^>]*>", "")
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"')):
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    return pages.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit("<[^>]*>"), 0))
        .cast("long")
        .alias("n_tags"),
        F.length("html").cast("long").alias("html_len"),
        F.length(clean).cast("long").alias("clean_len"),
        F.round(
            F.length(clean).cast("double") / F.length("html"), 4
        ).alias("text_ratio"),
    )


# ---------------------------------------------------------------------------
# q235 — Zipf rank-frequency slope (r9)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 500  #: vocabulary ranks entering the log-log regression


@query(
    "q235_zipf_slope",
    sql=f"""
    WITH wf AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY 1),
    rk AS (
      SELECT CAST(round(round(ln(row_number() OVER (
                 ORDER BY freq DESC, word)), 6) * 1000000, 0) AS BIGINT)
               AS lx,
             CAST(round(round(ln(freq), 6) * 1000000, 0) AS BIGINT) AS ly,
             row_number() OVER (ORDER BY freq DESC, word) AS r
      FROM wf QUALIFY r <= {_ZIPF_TOP}),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(lx AS HUGEINT)) AS sx,
             sum(CAST(lx AS HUGEINT) * CAST(lx AS HUGEINT)) AS sxx,
             sum(CAST(ly AS HUGEINT)) AS sy,
             sum(CAST(ly AS HUGEINT) * CAST(ly AS HUGEINT)) AS syy,
             sum(CAST(lx AS HUGEINT) * CAST(ly AS HUGEINT)) AS sxy
      FROM rk)
    SELECT CAST(n AS BIGINT) AS n_ranks,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0
                END AS zipf_slope,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round((CAST(sy AS DOUBLE)
                       - (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) / 1000000.0, 6) + 0.0
                END AS ln_c,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                END AS r2
    FROM s
    """,
    operators=("X-zipf", "X-regression", "A1", "Window-rank"),
)
def q235_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope of ln(freq) on ln(rank)
    over the top-500 vocabulary ranks (a healthy natural-language
    corpus sits near slope −1; a templated/spammy one flattens — this
    is a standard corpus-quality fingerprint next to q158's entropy).
    Cross-engine float strategy: ln runs on identical INTEGER inputs
    in both engines, is snapped to 6 dp, and re-scaled to exact
    integers (the q177 pattern) so all five moment sums accumulate in
    DECIMAL(38,0)/HUGEINT — the regression itself never adds floats.
    The slope is invariant to the common 1e6 axis scaling; the
    intercept divides it back out. Degenerate corpora (one rank, or
    all top ranks at one frequency) yield NULL fits rather than 0/0 —
    Spark's ANSI mode throws on double division by zero where DuckDB
    returns NULL, so the guard is spelled in both engines. The
    vocabulary rank window is vocab-grain (bounded by distinct words,
    not corpus size)."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    r = F.row_number().over(W.orderBy(F.col("freq").desc(), F.col("word")))
    scaled = lambda c: F.round(F.round(F.log(c), 6) * 1000000, 0).cast(  # noqa: E731
        "long"
    )
    rk = (
        wf.select("freq", r.alias("r"), F.col("word"))
        .filter(F.col("r") <= _ZIPF_TOP)
        .select(
            scaled(F.col("r")).alias("lx"),
            scaled(F.col("freq")).alias("ly"),
        )
    )
    dec = "decimal(38,0)"
    lx, ly = F.col("lx").cast(dec), F.col("ly").cast(dec)
    s = rk.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(ly).alias("sy"),
        F.sum(ly * ly).alias("syy"),
        F.sum(lx * ly).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    den, deny = dx.cast("double"), dy.cast("double")
    slope = num / den
    return s.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.when(dx > 0, zround(slope, 6)).alias("zipf_slope"),
        F.when(
            dx > 0,
            zround(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double")
                / 1000000.0,
                6,
            ),
        ).alias("ln_c"),
        F.when((dx > 0) & (dy > 0), F.round(num * num / (den * deny), 6)).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# q249 — Heaps'-law vocabulary growth fit (r10)
# ---------------------------------------------------------------------------


@query(
    "q249_heaps_law",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
    ladder_docs AS (
      SELECT doc_id, length(bin(CAST(doc_id + 1 AS BIGINT))) AS lad,
             count(*) AS n_tok
      FROM tok GROUP BY 1, 2),
    tok_per_lad AS (
      SELECT lad, sum(n_tok) AS t FROM ladder_docs GROUP BY 1),
    first_seen AS (
      SELECT word, length(bin(CAST(min(doc_id) + 1 AS BIGINT))) AS lad
      FROM tok GROUP BY 1),
    voc_per_lad AS (SELECT lad, count(*) AS v FROM first_seen GROUP BY 1),
    cum AS (
      SELECT t.lad,
             sum(t.t) OVER (ORDER BY t.lad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
             sum(coalesce(v.v, 0)) OVER (ORDER BY t.lad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
      FROM tok_per_lad t LEFT JOIN voc_per_lad v ON t.lad = v.lad),
    pts AS (
      SELECT CAST(round(round(ln(ct), 6) * 1000000, 0) AS BIGINT) AS lx,
             CAST(round(round(ln(cv), 6) * 1000000, 0) AS BIGINT) AS ly
      FROM cum WHERE ct > 0 AND cv > 0),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             sum(CAST(lx AS HUGEINT)) AS sx,
             sum(CAST(lx AS HUGEINT) * CAST(lx AS HUGEINT)) AS sxx,
             sum(CAST(ly AS HUGEINT)) AS sy,
             sum(CAST(lx AS HUGEINT) * CAST(ly AS HUGEINT)) AS sxy
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_points,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0
                END AS heaps_beta,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round((CAST(sy AS DOUBLE)
                       - (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) / 1000000.0, 6) + 0.0
                END AS ln_k
    FROM s
    """,
    operators=("X-heaps-law", "X-regression", "A1", "Window-frame"),
)
def q249_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β — vocabulary growth against tokens
    seen, q235's Zipf companion and the estimator a tokenizer-budget
    plan reads (β says how fast new text keeps minting new types; a
    scrape whose β jumps is a domain shift or a spam injection).
    Checkpoints are the doc-id bit-length ladder (length(bin(id+1)) —
    INTEGER-exact in both engines, ≤ ~40 cells at ANY corpus size, no
    float log at a power-of-two boundary to disagree on): cumulative
    tokens come from per-cell token sums, cumulative vocabulary from
    each word's FIRST cell (min doc_id — one aggregate, no per-
    checkpoint rescan), both folded by a ladder-grain window. The OLS
    runs on scaled-integer ln values with DECIMAL(38,0)/HUGEINT
    moments — the q235/q177 bit-exact recipe."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    dec = "decimal(38,0)"
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    lad = F.length(F.bin(F.col("doc_id") + 1))
    tok_per = (
        tok.groupBy(lad.alias("lad"))
        .agg(F.count(F.lit(1)).alias("t"))
    )
    voc_per = (
        tok.groupBy("word")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.length(F.bin(F.col("fd") + 1)).alias("lad"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = W.orderBy("lad").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = (
        tok_per.join(voc_per, "lad", "left")
        .select(
            "lad",
            F.sum("t").over(w).alias("ct"),
            F.sum(F.coalesce(F.col("v"), F.lit(0))).over(w).alias("cv"),
        )
        .filter((F.col("ct") > 0) & (F.col("cv") > 0))
    )
    lx = F.round(F.round(F.log(F.col("ct").cast("double")), 6) * 1000000, 0).cast(
        "long"
    )
    ly = F.round(F.round(F.log(F.col("cv").cast("double")), 6) * 1000000, 0).cast(
        "long"
    )
    pts = cum.select(lx.alias("lx"), ly.alias("ly"))
    s = pts.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("lx").cast(dec)).alias("sx"),
        F.sum((F.col("lx").cast(dec) * F.col("lx")).cast(dec)).alias("sxx"),
        F.sum(F.col("ly").cast(dec)).alias("sy"),
        F.sum((F.col("lx").cast(dec) * F.col("ly")).cast(dec)).alias("sxy"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    beta = num / den
    return s.select(
        F.col("n").cast("long").alias("n_points"),
        F.when(den > 0, zround(beta, 6)).alias("heaps_beta"),
        F.when(
            den > 0,
            zround(
                (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
                / F.col("n").cast("double")
                / 1000000.0,
                6,
            ),
        ).alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# q251 — BM25 retrieval scoring (r10)
# ---------------------------------------------------------------------------


@query(
    "q251_bm25_retrieval",
    sql="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    qterms AS (
      SELECT w, df FROM (
        SELECT w, df FROM dfc ORDER BY df DESC, w ASC LIMIT 12)
      ORDER BY df ASC, w DESC LIMIT 3),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (
      SELECT count(*) AS n_docs,
             CASE WHEN count(*) > 0
                  THEN CAST(sum(dl) AS DOUBLE) / count(*) END AS avgdl
      FROM dl),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(round(
               ln(CAST(1 AS DOUBLE)
                  + (CAST(stats.n_docs - qterms.df AS DOUBLE) + 0.5)
                    / (CAST(qterms.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(tf.tf AS DOUBLE)
                    + 1.2 * (1.0 - 0.75
                             + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)),
               6) * 1000000, 0) AS BIGINT) AS v6
      FROM tf
      JOIN qterms ON tf.w = qterms.w
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats),
    perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS terms_hit,
             CAST(sum(v6) AS BIGINT) AS s6
      FROM scored GROUP BY 1)
    SELECT doc_id, terms_hit,
           round(CAST(s6 AS DOUBLE) / 1000000.0, 6) AS bm25
    FROM perdoc
    ORDER BY s6 DESC, doc_id ASC LIMIT 10
    """,
    operators=("X-bm25", "X-retrieval", "A1", "O2", "J1"),
)
def q251_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) document scoring for a deterministic
    mid-frequency query — the retrieval ranker a RAG/data-curation
    pipeline runs where TF-IDF (q94) stops: document-length
    normalization plus term-frequency saturation. The query picks
    itself from the corpus (vocabulary ranks 10-12 by document
    frequency, two nested sort-limits — TakeOrdered top-k, never a
    global window), so the query works at ANY scale factor. Exactness:
    per-(doc, term) scores round to 6 dp then snap to scaled BIGINT
    and the per-doc sum (≤3 terms) is integer — the cross-row float
    summation that differs between engines never happens. One corpus
    explode feeds tf, df derives from tf, corpus stats ride in as a
    broadcast 1-row aggregate, and the final top-10 is a sort-limit
    with a doc_id tie-break. ANSI guard: avgdl is NULL (not ÷0) on an
    empty corpus."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        dfc.orderBy(F.desc("df"), F.asc("w"))
        .limit(12)
        .orderBy(F.asc("df"), F.desc("w"))
        .limit(3)
    )
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.sum("dl").cast("double") / F.count(F.lit(1)),
        ).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    sat = (F.col("tf").cast("double") * (1.2 + 1.0)) / (
        F.col("tf").cast("double")
        + 1.2
        * (1.0 - 0.75 + 0.75 * F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(F.round(idf * sat, 6) * 1000000, 0)
            .cast("long")
            .alias("v6"),
        )
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("terms_hit"),
        F.sum("v6").cast("long").alias("s6"),
    )
    return (
        perdoc.orderBy(F.desc("s6"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            "terms_hit",
            F.round(F.col("s6").cast("double") / 1000000.0, 6).alias("bm25"),
        )
    )


# ---------------------------------------------------------------------------
# q256 — quality-threshold retention curve (r10)
# ---------------------------------------------------------------------------


@query(
    "q256_quality_retention_curve",
    sql="""
    WITH scored AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' ')))
               + len(string_split(text, ' '))
               - len(list_filter(string_split(text, ' '),
                   x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))
               AS q_num
      FROM documents),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM scored),
    ladder AS (
      SELECT s.doc_id, s.n_tokens, s.q_num, k.k,
             CASE WHEN 10 * s.q_num >= k.k * s.n_tokens
                  THEN 1 ELSE 0 END AS keep
      FROM scored s CROSS JOIN (SELECT unnest(range(0, 20)) AS k) k)
    SELECT CAST(l.k AS BIGINT) AS threshold_step,
           round(CAST(l.k AS DOUBLE) / 20.0, 6) AS threshold,
           CAST(sum(l.keep) AS BIGINT) AS docs_kept,
           CAST(sum(l.keep * l.n_tokens) AS BIGINT) AS tokens_kept,
           round(CAST(sum(l.keep) AS DOUBLE) / max(t.total_docs), 6)
             AS doc_frac,
           round(CAST(sum(l.keep * l.n_tokens) AS DOUBLE)
                 / max(t.total_tokens), 6) AS token_frac
    FROM ladder l CROSS JOIN tot t
    GROUP BY l.k
    """,
    operators=("X-retention-curve", "X-quality", "A1"),
)
def q256_quality_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold retention curve — for each candidate quality
    bar, how many documents and tokens survive the q62 filter. This is
    the sweep a curation run does BEFORE committing to a threshold
    (the knee of the token curve is the budget decision). The q62
    score quality = (n_distinct + n_tokens − n_stop)/(2·n_tokens) is
    never materialized as a float: the bar test quality ≥ k/20
    cross-multiplies to 10·q_num ≥ k·n_tokens — pure INTEGER
    comparisons, so boundary docs land on the same side in both
    engines. The 20-step ladder explodes per doc AFTER the string ops
    collapse to two ints (a ×20 fan-out of 3-int rows, then one
    map-side-combinable aggregate); corpus totals ride in as a
    broadcast 1-row aggregate."""
    d = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(
            toks,
            lambda x: (x == "the") | (x == "a") | (x == "of") | (x == "and"),
        )
    )
    n_distinct = F.size(F.array_distinct(toks))
    scored = d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        (n_distinct + n_tokens - n_stop).cast("long").alias("q_num"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    ladder = scored.select(
        "n_tokens",
        "q_num",
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("k"),
    ).select(
        "n_tokens",
        F.col("k").cast("long").alias("k"),
        F.when(
            10 * F.col("q_num") >= F.col("k") * F.col("n_tokens"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )
    return (
        ladder.crossJoin(F.broadcast(tot))
        .groupBy("k")
        .agg(
            F.round(F.col("k").cast("double") / 20.0, 6).alias("threshold"),
            F.sum("keep").cast("long").alias("docs_kept"),
            F.sum(F.col("keep") * F.col("n_tokens"))
            .cast("long")
            .alias("tokens_kept"),
            F.round(
                F.sum("keep").cast("double") / F.max("total_docs"), 6
            ).alias("doc_frac"),
            F.round(
                F.sum(F.col("keep") * F.col("n_tokens")).cast("double")
                / F.max("total_tokens"),
                6,
            ).alias("token_frac"),
        )
        .select(
            F.col("k").alias("threshold_step"),
            "threshold",
            "docs_kept",
            "tokens_kept",
            "doc_frac",
            "token_frac",
        )
    )


# ---------------------------------------------------------------------------
# q257 — tokenizer fertility by language (r10)
# ---------------------------------------------------------------------------


@query(
    "q257_tokenizer_fertility",
    sql=f"""
    WITH scored AS (
      SELECT CASE
               WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de'
               WHEN contains(text, ' le ')  OR contains(text, ' et ')  THEN 'fr'
               WHEN contains(text, ' el ')  OR contains(text, ' y ')   THEN 'es'
               WHEN contains(text, ' the ') OR contains(text, ' a ')   THEN 'en'
               ELSE 'und' END AS lang_guess,
             len(string_split(text, ' ')) AS n_words,
             len(regexp_extract_all(text, '{_SUBTOKEN_RE}')) AS n_subtokens,
             octet_length(CAST(text AS BLOB)) AS n_bytes
      FROM documents)
    SELECT lang_guess,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_subtokens) AS BIGINT) AS total_subtokens,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CASE WHEN sum(n_words) > 0
                THEN round(CAST(sum(n_subtokens) AS DOUBLE)
                           / CAST(sum(n_words) AS BIGINT), 6) END
             AS fertility,
           CASE WHEN sum(n_subtokens) > 0
                THEN round(CAST(sum(n_bytes) AS DOUBLE)
                           / CAST(sum(n_subtokens) AS BIGINT), 6) END
             AS bytes_per_subtoken
    FROM scored GROUP BY 1
    """,
    operators=("X-tokenizer-fertility", "X-langid", "A1"),
)
def q257_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subtokens per whitespace word) and bytes
    per subtoken, by detected language — the budget readout a
    multilingual tokenizer review runs (a language whose fertility is
    2× English pays 2× the context window; byte rate exposes
    script density). Language comes from the q63 heuristic, subtokens
    from the portable BPE-ish regex (q60), bytes from octet_length —
    all whole-stage-codegen expressions collapsing per doc to four
    ints before one 5-group aggregate. Ratios divide exact integer
    sums (summed as BIGINT in both engines — never float sums) with
    zero-denominator guards mirrored cross-engine."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    guess = (
        F.when(t.contains(" der ") | t.contains(" und "), "de")
        .when(t.contains(" le ") | t.contains(" et "), "fr")
        .when(t.contains(" el ") | t.contains(" y "), "es")
        .when(t.contains(" the ") | t.contains(" a "), "en")
        .otherwise("und")
    )
    scored = d.select(
        guess.alias("lang_guess"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.size(F.expr(f"regexp_extract_all(text, '{_SUBTOKEN_RE}', 0)"))
        .cast("long")
        .alias("n_subtokens"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    words = F.sum("n_words").cast("long")
    subs = F.sum("n_subtokens").cast("long")
    byts = F.sum("n_bytes").cast("long")
    return scored.groupBy("lang_guess").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        words.alias("total_words"),
        subs.alias("total_subtokens"),
        byts.alias("total_bytes"),
        F.when(words > 0, F.round(subs.cast("double") / words, 6)).alias(
            "fertility"
        ),
        F.when(subs > 0, F.round(byts.cast("double") / subs, 6)).alias(
            "bytes_per_subtoken"
        ),
    )
