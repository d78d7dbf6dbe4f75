"""End-to-end training-corpus preparation pipeline — the composition a
real 100 TB data-prep run executes, built entirely from the operator
library:

    exact dedup        → one survivor per content hash
    near-dup clusters  → df-capped Jaccard pairs → connected
                         components → cluster-min survivor
    decontamination    → drop docs sharing ≥3 shingles with the eval set
    quality gates      → repetition share + stopword/diversity score
    PII redaction      → regexp chain, audit counts kept
    JSONL sink         → sharded lines for the trainer

Every stage is a DataFrame→DataFrame function reused from the
oracle-checked queries (q71, q77+q89, q97, q96+q62 semantics,
functions.redact); the pipeline adds only wiring plus a decision-log
column so every dropped document is attributable. The shingle table is
computed ONCE and shared by the near-dup and decontamination stages
(the same materialize discipline as q72/q73).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.functions.redact import pii_counts, redact_pii
from portfolio1_etl_spark.operators.checkpointing import materialize
from portfolio1_etl_spark.operators.dedup import (
    connected_components,
    jaccard_pairs,
    shingle_hashes,
    with_repetition_cols,
)


@dataclass
class CorpusPrepResult:
    kept: DataFrame          # doc_id, text (redacted), lang, pii struct
    decisions: DataFrame     # doc_id, drop_reason (NULL = kept)
    n_input: int
    n_kept: int


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    jaccard_threshold: float = 0.4,
    df_cap: int = 4,
    eval_mod: int = 50,
    contamination_min_shingles: int = 3,
    max_repetition: float = 0.4,
    out_path: str | None = None,
    docs: DataFrame | None = None,
    count_rows: bool = True,
) -> CorpusPrepResult:
    """Run the full prep over ``documents``. Order matters and is the
    production order: exact dedup first (cheapest, biggest win),
    near-dup second (works on survivors only), decontamination third,
    per-doc quality gates last (narrow maps). The eval slice
    (doc_id % eval_mod == 0) is excluded from the training output by
    definition. First drop reason wins in the decision log. ``docs``
    overrides the table for testing (schema: doc_id, text, lang).
    ``count_rows=False`` skips the n_input/n_kept census actions (-1
    in the result) — callers that only consume ``decisions`` or pipe
    ``kept`` straight to a sink avoid two extra full passes, one of
    which would run the PII regex chain just to count."""
    if docs is None:
        docs = catalog.load(spark, sf_dir, "documents")
    n_input = docs.count() if count_rows else -1

    # -- stage 1: exact dedup (q71 semantics) ---------------------------
    exact_keep = (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"))
        .select(F.col("keep_doc_id").alias("doc_id"))
    )

    # -- shared shingle table: ALL docs, computed once ------------------
    # The eval side of decontamination MUST see every eval document's
    # shingles — an eval doc dropped as an exact duplicate still
    # contaminates the surviving copy of its text. (Shingling only
    # survivors would let such text leak into the training output.)
    sh_all = materialize(shingle_hashes(docs, "text"))
    sh_surv = sh_all.join(exact_keep, "doc_id", "left_semi")

    # -- stage 2: near-dup clusters over survivors (q77 + q89) ----------
    pairs = jaccard_pairs(sh_surv, jaccard_threshold, df_cap=df_cap)
    cc = connected_components(pairs)
    near_dupes = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )

    # -- stage 3: decontamination (q97 semantics: all docs shingled) ----
    # No explicit broadcast hint: the shingle table is checkpointed so
    # its stats are known, and the join degrades to a shuffled hash
    # join when the eval suite is too large to broadcast.
    is_eval = F.col("doc_id") % eval_mod == 0
    eval_sh = sh_all.filter(is_eval).select("h").distinct()
    contaminated = (
        sh_all.filter(~is_eval)
        .join(eval_sh, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= contamination_min_shingles)
        .select("doc_id")
    )

    # -- stage 4: per-doc quality gates (q96 semantics, shared expr) ----
    distinct_share = F.when(
        F.col("n_shingles") > 0,
        F.col("n_distinct").cast("double") / F.col("n_shingles"),
    )
    quality_flags = with_repetition_cols(docs).select(
        "doc_id",
        (F.coalesce(distinct_share, F.lit(1.0)) < 1.0 - max_repetition).alias(
            "too_repetitive"
        ),
    )

    # -- decision log: first reason wins --------------------------------
    decisions = (
        docs.select("doc_id")
        .join(exact_keep.withColumn("k", F.lit(1)), "doc_id", "left")
        .join(near_dupes.withColumn("nd", F.lit(1)), "doc_id", "left")
        .join(contaminated.withColumn("ct", F.lit(1)), "doc_id", "left")
        .join(quality_flags, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("k").isNull(), "exact_duplicate")
            .when(F.col("nd").isNotNull(), "near_duplicate")
            .when(F.col("doc_id") % eval_mod == 0, "eval_slice")
            .when(F.col("ct").isNotNull(), "contaminated")
            .when(F.col("too_repetitive"), "repetitive")
            .alias("drop_reason"),
        )
    )
    decisions = materialize(decisions)

    # -- stage 5: redact + sink -----------------------------------------
    kept = (
        docs.join(
            decisions.filter(F.col("drop_reason").isNull()), "doc_id", "left_semi"
        )
        .select(
            "doc_id",
            redact_pii("text").alias("text"),
            "lang",
            pii_counts("text").alias("pii"),
        )
    )
    if out_path is not None:
        kept.write.mode("overwrite").json(out_path)
    return CorpusPrepResult(
        kept=kept,
        decisions=decisions,
        n_input=n_input,
        n_kept=kept.count() if count_rows else -1,
    )
