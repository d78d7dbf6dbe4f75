"""Structured Streaming jobs over the ``events`` feed.

The reference is a weekly batch pull with a 7-day lookback
(portfolio-etl.py:42, :102, ...), i.e. hand-rolled incremental view
maintenance. These jobs are the continuous form: file-source stream →
watermark → windowed/sessionized/deduped aggregation → sink. The batch
twins in ``plans/windows_events.py`` pin the semantics against the
DuckDB oracle; tests assert stream == batch on the same input.

All stateful operators are Spark built-ins (window / session_window /
dropDuplicatesWithinWatermark / foreachBatch) — no custom state store.
At production scale the source becomes Kafka/landing-zone parquet and
the sink a partitioned table; the dataflow is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from portfolio1_etl_spark.operators.checkpointing import materialize


def _raw_events_schema(ts_type: T.DataType) -> T.StructType:
    """File-stream schema; ``ts`` depends on the landing zone's parquet
    encoding (TIMESTAMP(NANOS) surfaces as long under nanosAsLong,
    TIMESTAMP(MICROS, isAdjustedToUTC=false) as TIMESTAMP_NTZ)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """events as a file-source stream (parquet landing zone). A
    streaming source needs a declared schema, so the footer's ``ts``
    encoding is probed ONCE from one footer on the driver
    (``catalog.footer_schema``: no job, no data scan) and the stream
    adapts: nanos-as-long converts with integer division exactly like
    catalog.load; native micros NTZ passes through. Hardcoding either
    encoding breaks when the landing-zone writer changes its timestamp
    unit. An empty or not yet created landing zone (stream started
    before the first file lands) can't be probed, so the probe falls
    back to native micros NTZ — the writer's current encoding — rather
    than refusing to start; a corrupt footer or a file without ``ts``
    raises.

    SESSION-GLOBAL SIDE EFFECT (shared package contract): like
    ``catalog.load``, this pins ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the session —
    every query in this package (and its DuckDB oracle) is defined
    under UTC, and the nanos flag only affects TIMESTAMP(NANOS)
    parquet, which nothing else reads. A host application that needs a
    different session zone for its own queries must use a separate
    SparkSession rather than interleave with this package's jobs."""
    from portfolio1_etl_spark.catalog import footer_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    landed = footer_schema(spark, path)
    probed = T.TimestampNTZType() if landed is None else landed["ts"].dataType
    raw = (
        spark.readStream.schema(_raw_events_schema(probed))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    # Watermarks require TIMESTAMP (not NTZ); with the session pinned to
    # UTC this carries the same wall-clock values as the batch NTZ path.
    if isinstance(probed, T.LongType):  # TIMESTAMP(NANOS) under nanosAsLong
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window with a 2-hour watermark — the streaming
    twin of q50. Late events beyond the watermark are dropped; the
    upper time bound in the reference (:219 ``< now``) plays the same
    role."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def sessionized_stream(events: DataFrame) -> DataFrame:
    """Per-user session windows (10-minute gap) — streaming twin of
    q52; session state merges across micro-batches."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Keyed streaming dedup: first event per event_id within the
    watermark horizon (``dropDuplicatesWithinWatermark`` keeps state
    only for the horizon — bounded memory at any stream length)."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def paired_events_stream(events: DataFrame) -> DataFrame:
    """Stream-stream self-join: ordered pairs of same-user events
    within 10 minutes — the streaming twin of the q38 range join.
    Both sides carry watermarks and the join predicate bounds event
    time on both ends, so Spark can expire join state (unbounded
    stream-stream joins are rejected otherwise)."""
    a = (
        events.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("event_a"),
            F.col("user_id"),
            F.col("ts").alias("ts_a"),
        )
    )
    b = (
        events.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("event_b"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("ts_b"),
        )
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES")),
    ).select("event_a", "event_b", "user_id")


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (total value, event count) accumulator that
    survives across micro-batches — the kind of bespoke state
    (per-entity counters, session enrichment, fraud scores) the
    built-in windowed aggregations can't express. State is one tiny
    tuple per user; batches arrive as pandas frames via Arrow."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        (user_id,) = key
        total, count = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            count += len(pdf)
        state.update((total, count))
        yield pd.DataFrame(
            {"user_id": [user_id], "total": [total], "n_events": [count]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, total double, n_events long",
        stateStructType="total double, n_events long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _epoch_already_folded(state: dict, epoch_id: int) -> bool:
    """foreachBatch is AT-LEAST-ONCE: after a sink/driver hiccup Spark
    re-delivers the same epoch, and an additive state fold would
    double-count it (the Bloom OR is the only naturally idempotent
    fold here). Returns True when ``epoch_id`` is already FULLY folded
    into ``state`` — callers return immediately. The companion
    ``_epoch_folded`` marker is set only AFTER every state key is
    updated, so a retry of a partially-failed fold re-runs it — safe,
    because every fold computes exclusively from prior-state frames
    read before any assignment and replaces keys wholesale."""
    return state.get("_last_epoch", -1) >= epoch_id


def _epoch_folded(state: dict, epoch_id: int) -> None:
    """Mark ``epoch_id`` fully folded (call as the fold's LAST step)."""
    state["_last_epoch"] = epoch_id


def inventory_merge_stream(
    events: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
):
    """The reference's inventory read-modify-write (portfolio-etl.py
    :634-650) as an incremental ``foreachBatch`` merge: each
    micro-batch aggregates sold qty per key and hands the delta to
    ``apply_batch`` (which decrements the inventory snapshot —
    idempotent overwrite, not in-place file mutation)."""
    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        sold = batch_df.groupBy(F.col("event_type").alias("sku")).agg(
            F.sum("value").alias("sold_qty")
        )
        apply_batch(sold, epoch_id)

    return events.writeStream.outputMode("append").foreachBatch(_merge)


def cms_maintenance_stream(events: DataFrame, state: dict):
    """Streaming count-min sketch maintenance over the event_type
    stream: each micro-batch sketches independently and folds into the
    running sketch via ``operators.sketches.cms_merge`` — the sketch's
    linearity makes the streaming fold EXACTLY equal to sketching the
    whole history in one batch (asserted in tests/test_streaming.py).
    The running sketch is ≤ depth·width rows, so the per-epoch
    checkpoint is a few KB; in production it lands in the
    warehouse and any consumer broadcasts it for frequency probes."""
    from portfolio1_etl_spark.operators.sketches import cms_build, cms_merge

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        batch_sketch = cms_build(batch_df.select("event_type"), "event_type")
        cur = state.get("sketch")
        nxt = batch_sketch if cur is None else cms_merge(cur, batch_sketch)
        state["sketch"] = materialize(nxt)
        _epoch_folded(state, epoch_id)

    writer = events.writeStream.outputMode("append").foreachBatch(_merge)
    writer.epoch_fold = _merge  # exposed for retry tests
    return writer


def bloom_maintenance_stream(events: DataFrame, state: dict):
    """Streaming Bloom-filter maintenance over the user-id stream:
    each micro-batch builds its own 8 KB bitmap and ORs into the
    running filter via ``operators.sketches.bloom_merge`` — bitmap
    linearity makes the streaming fold EXACTLY equal to building from
    the whole history in one batch (asserted in
    tests/test_streaming.py). The production use: a continuously-
    maintained "seen user/key" filter that any batch job broadcasts
    to prune a 100 TB scan down to the previously-seen fraction
    before its first shuffle."""
    from portfolio1_etl_spark.operators.sketches import bloom_build, bloom_merge

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return  # the OR fold is idempotent; guarded for uniformity
        batch_bloom = bloom_build(batch_df.select("user_id"), "user_id")
        cur = state.get("bloom")
        nxt = batch_bloom if cur is None else bloom_merge(cur, batch_bloom)
        state["bloom"] = materialize(nxt)
        _epoch_folded(state, epoch_id)

    writer = events.writeStream.outputMode("append").foreachBatch(_merge)
    writer.epoch_fold = _merge  # exposed for retry tests
    return writer


def scd2_maintenance_stream(events: DataFrame, state: dict):
    """Streaming SCD2 maintenance: each micro-batch merges into the
    running history table via the incremental ``operators.scd.
    scd2_apply`` (untouched entities pass through; touched entities
    replay + rebuild). ``state['current']`` holds the maintained
    table, eagerly materialized per epoch so lineage stays bounded —
    in production the epoch result is written to the warehouse path
    (same pattern as ``inventory_merge_stream``) instead of held in
    memory. Convergence to the batch rebuild is asserted in
    tests/test_streaming.py."""
    from portfolio1_etl_spark.operators.scd import scd2_apply, scd2_rebuild

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        cur = state.get("current")
        if cur is None:
            nxt = scd2_rebuild(batch_df, tiebreak_col="event_id")
        else:
            nxt = scd2_apply(cur, batch_df, tiebreak_col="event_id")
        state["current"] = materialize(nxt)
        _epoch_folded(state, epoch_id)

    writer = events.writeStream.outputMode("append").foreachBatch(_merge)
    writer.epoch_fold = _merge  # exposed for retry tests
    return writer


def corpus_prep_stream(
    docs_stream: DataFrame,
    state: dict,
    eval_mod: int = 50,
    df_cap: int = 4,
    max_repetition: float = 0.4,
):
    """Incremental corpus-prep (r6): maintain `prepare_corpus`'s
    decision inputs over a document STREAM so the corpus doesn't
    re-shingle from scratch per arrival — and converge EXACTLY to the
    batch pipeline (asserted in tests/test_streaming.py), df_cap
    semantics included. Per micro-batch, each state piece folds:

    - ``keep`` (text_hash → min doc_id): exact-dup survivor election
      is a pure min-fold — order-independent.
    - ``sh_acc``: accumulated distinct (doc_id, h) shingles. This is
      the one corpus-sized state; it is exactly the shingle table the
      batch pipeline builds anyway, amortized over arrivals.
    - ``cand``: near-dup CANDIDATE pairs among exact-survivors,
      discovered incrementally (new survivors' shingles ⋈ accumulated
      survivor shingles, both thinned by the RUNNING document
      frequency cap). Running df only grows, so everything the final
      cap keeps has already been join-eligible in some earlier batch:
      candidates are a superset of the batch pair set, and
      ``corpus_prep_finalize`` verifies them against the FINAL capped
      sets — exactness lives there, the stream only narrows the join.
    - ``eval_sh`` + ``contam``: benchmark-contamination counts via a
      symmetric delta join — new docs score against the full eval
      shingle set, and the eval set's NEW shingles (ΔE) re-score all
      previously-seen docs; the two legs are disjoint by construction
      so counts fold additively.
    - ``rep``: the per-doc repetition gate is stateless — decided on
      arrival.

    Assumes id-ordered ingestion (a landing zone fed in arrival
    order), which keeps survivor status stable: the min-id copy of a
    text lands first, so later duplicates never displace a survivor
    whose shingles already seeded candidate discovery. Out-of-order
    backfills need keeper-displacement compensation — a documented
    non-goal here."""
    from portfolio1_etl_spark.operators.dedup import (
        hot_shingles,
        shingle_hashes,
        with_repetition_cols,
    )

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        b_docs = materialize(batch_df)
        b_sh = materialize(shingle_hashes(b_docs, "text"))
        is_eval = F.col("doc_id") % eval_mod == 0

        # -- exact-dup fold --------------------------------------------
        b_keep = b_docs.groupBy(F.md5("text").alias("text_hash")).agg(
            F.min("doc_id").alias("keep_doc_id")
        )
        keep_old = state.get("keep")
        keep = materialize(
            b_keep
            if keep_old is None
            else keep_old.unionByName(b_keep)
            .groupBy("text_hash")
            .agg(F.min("keep_doc_id").alias("keep_doc_id"))
        )

        # -- candidate discovery among survivors ----------------------
        keepers = keep.select(F.col("keep_doc_id").alias("doc_id"))
        new_keep_sh = b_sh.join(keepers, "doc_id", "left_semi")
        sh_acc_old = state.get("sh_acc")
        all_keep_sh = (
            new_keep_sh
            if sh_acc_old is None
            else sh_acc_old.join(keepers, "doc_id", "left_semi").unionByName(
                new_keep_sh
            )
        )
        hot = hot_shingles(all_keep_sh, df_cap).select("h")
        a = new_keep_sh.join(F.broadcast(hot), "h", "left_anti").alias("a")
        b = all_keep_sh.join(F.broadcast(hot), "h", "left_anti").alias("b")
        b_cand = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        cand_old = state.get("cand")
        cand = materialize(
            b_cand
            if cand_old is None
            else cand_old.unionByName(b_cand).distinct()
        )

        # -- contamination fold (symmetric delta join) -----------------
        b_eval_sh = b_sh.join(
            b_docs.filter(is_eval).select("doc_id"), "doc_id", "left_semi"
        ).select("h").distinct()
        eval_old = state.get("eval_sh")
        delta_e = materialize(
            b_eval_sh
            if eval_old is None
            else b_eval_sh.join(eval_old, "h", "left_anti")
        )
        eval_sh = materialize(
            delta_e if eval_old is None else eval_old.unionByName(delta_e)
        )

        non_eval_ids_b = b_docs.filter(~is_eval).select("doc_id")
        inc2 = (
            b_sh.join(non_eval_ids_b, "doc_id", "left_semi")
            .join(eval_sh, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        incs = [inc2]
        if sh_acc_old is not None:
            # previously-seen non-eval docs vs the eval set's NEW rows
            inc1 = (
                sh_acc_old.filter(~(F.col("doc_id") % eval_mod == 0))
                .join(delta_e, "h")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_shared"))
            )
            incs.append(inc1)
        contam_old = state.get("contam")
        contam_parts = ([contam_old] if contam_old is not None else []) + incs
        contam = contam_parts[0]
        for part in contam_parts[1:]:
            contam = contam.unionByName(part)
        contam = materialize(
            contam.groupBy("doc_id").agg(F.sum("n_shared").alias("n_shared"))
        )

        # -- stateless per-doc gates + accumulation --------------------
        distinct_share = F.when(
            F.col("n_shingles") > 0,
            F.col("n_distinct").cast("double") / F.col("n_shingles"),
        )
        b_rep = with_repetition_cols(b_docs).select(
            "doc_id",
            (
                F.coalesce(distinct_share, F.lit(1.0)) < 1.0 - max_repetition
            ).alias("too_repetitive"),
        )
        rep_old = state.get("rep")
        rep = materialize(
            b_rep if rep_old is None else rep_old.unionByName(b_rep)
        )
        sh_acc = materialize(
            b_sh if sh_acc_old is None else sh_acc_old.unionByName(b_sh)
        )

        state.update(
            keep=keep, cand=cand, eval_sh=eval_sh, contam=contam,
            rep=rep, sh_acc=sh_acc,
        )
        _epoch_folded(state, epoch_id)

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def corpus_prep_finalize(
    state: dict,
    jaccard_threshold: float = 0.4,
    df_cap: int = 4,
    eval_mod: int = 50,
    contamination_min_shingles: int = 3,
) -> DataFrame:
    """Assemble the per-doc decision log from the maintained state —
    byte-identical to ``prepare_corpus(...).decisions`` on the same
    documents. The one non-incremental step is candidate VERIFICATION
    + connected components: Jaccard is recomputed over the FINAL
    df-capped survivor shingle sets (running-cap discovery may both
    over- and under-thin relative to the final cap, so per-pair
    similarity is only exact at finalize), and CC needs the complete
    edge set. Both run on the small candidate/edge tables, not the
    corpus."""
    from portfolio1_etl_spark.operators.dedup import (
        connected_components,
        hot_shingles,
        verify_candidates,
    )

    keep, sh_acc = state["keep"], state["sh_acc"]
    cand, contam, rep = state["cand"], state["contam"], state["rep"]
    keepers = keep.select(F.col("keep_doc_id").alias("doc_id"))
    sh_surv = sh_acc.join(keepers, "doc_id", "left_semi")
    sh_capped = materialize(
        sh_surv.join(
            F.broadcast(hot_shingles(sh_surv, df_cap).select("h")), "h", "left_anti"
        )
    )
    pairs = verify_candidates(
        sh_capped, cand, jaccard_threshold, assume_pair_distinct=True
    )
    cc = connected_components(pairs)
    near_dupes = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    contaminated = contam.filter(
        F.col("n_shared") >= contamination_min_shingles
    ).select("doc_id")
    return (
        rep.select("doc_id", "too_repetitive")
        .join(keepers.withColumn("k", F.lit(1)), "doc_id", "left")
        .join(near_dupes.withColumn("nd", F.lit(1)), "doc_id", "left")
        .join(contaminated.withColumn("ct", F.lit(1)), "doc_id", "left")
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


def pack_ingest_stream(
    docs_stream: DataFrame,
    state: dict,
    n_shards: int = 8,
    key_salt: str = "pack-",
):
    """Incremental training-shard layout (the q117 packer as an
    ingestion job): documents STREAM into per-shard concat-then-chunk
    layouts — each arriving doc is assigned its shard (order-free
    salted-hash mod, identical to the batch packer) and its absolute
    token interval continues from the shard's running total, so packs
    materialize as data lands instead of waiting for a corpus-wide
    batch. Converges EXACTLY to the batch layout computed in the same
    (arrival = doc_id) order — asserted in tests/test_streaming.py.

    State: ``layout`` — the accumulated (doc_id, shard, n_tokens,
    start_tok) assignment table (the job's output, corpus-sized, the
    same table the batch packer emits anyway); ``totals`` — one row
    per shard (bounded at n_shards).

    Assumes id-ordered ingestion like ``corpus_prep_stream``; within a
    micro-batch, ties order by doc_id, so replaying the same landing
    files reproduces the layout bit-for-bit."""
    from pyspark.sql import Window as W

    key = (
        f"cast(conv(substring(md5(concat('{key_salt}', cast(doc_id as string))), "
        "1, 12), 16, 10) as bigint)"
    )

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        # read ALL prior state before assigning any of it, so a retry
        # of a fold that failed between assignments recomputes from a
        # consistent snapshot instead of mixing old and new keys
        totals_old = state.get("totals")
        layout_old = state.get("layout")
        b = batch_df.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tokens"),
            (F.expr(key) % n_shards).alias("shard"),
        )
        win = (
            W.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        local = b.withColumn(
            "off", F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
        )
        if totals_old is not None:
            local = local.join(F.broadcast(totals_old), "shard", "left")
            base = F.coalesce(F.col("total"), F.lit(0))
        else:
            base = F.lit(0)
        layout_b = materialize(
            local.select(
                "doc_id",
                "shard",
                "n_tokens",
                (base + F.col("off")).cast("long").alias("start_tok"),
            )
        )
        layout = materialize(
            layout_b
            if layout_old is None
            else layout_old.unionByName(layout_b)
        )
        totals = materialize(
            layout.groupBy("shard").agg(F.sum("n_tokens").alias("total"))
        )
        state.update(layout=layout, totals=totals)
        _epoch_folded(state, epoch_id)

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def governance_stream(docs_stream: DataFrame, state: dict):
    """Incremental corpus GOVERNANCE (the q120 pipeline as ingestion):
    the per-row stage — redaction + per-doc census — runs on arrival
    through the IDENTICAL ``governance_doc_stage`` the batch query
    uses, and the accumulated stage table is the only state. The
    corpus-global stages (LM gate against the whole-corpus model,
    budgeted mixture, packing) are relative to data that hasn't
    arrived yet, so they run at ``governance_finalize`` — again
    through the identical batch tail. Convergence to q120 is therefore
    by construction, and asserted in tests/test_streaming.py."""
    from portfolio1_etl_spark.plans.curation_ops import governance_doc_stage

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        b = materialize(governance_doc_stage(batch_df))
        prev = state.get("doc")
        state["doc"] = materialize(
            b if prev is None else prev.unionByName(b)
        )
        _epoch_folded(state, epoch_id)

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def governance_finalize(state: dict) -> DataFrame:
    """The corpus-global tail over the accumulated doc-stage table —
    byte-identical to ``q120_curation_pipeline`` on the same docs."""
    from portfolio1_etl_spark.plans.curation_ops import governance_tail

    return governance_tail(state["doc"])


def ann_index_ingest_stream(vec_stream: DataFrame, index_path: str):
    """Streaming ANN-index maintenance: arriving embedding rows assign
    to their IVF cell against the FROZEN persisted codebook and append
    to the index's cell partitions per micro-batch
    (operators.ann_index.ingest_vectors) — the index answers queries
    mid-ingest, and a full-probe query over the streamed index equals
    one over a batch-written index (tested). State lives entirely IN
    the index directory; the job itself is stateless.

    r12: the job serves BOTH persisted layouts — when the index root
    carries a ``pq_codebook`` (the composed IVF-PQ layout,
    ``build_ivfpq_index``), each batch also PQ-encodes against the
    frozen subspace codebook and appends byte codes next to the full
    vectors (``ingest_vectors_ivfpq``); otherwise the plain-IVF append
    runs as before. Layout detection re-checks per epoch so the job
    can start before the index is even built."""
    from portfolio1_etl_spark.operators.ann_index import (
        ingest_vectors,
        ingest_vectors_ivfpq,
    )
    from portfolio1_etl_spark.operators.similarity import with_norms

    folded: set[int] = set()  # epoch memory: appends are NOT idempotent

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in folded:  # at-least-once retry would double-append
            return
        if batch_df.isEmpty():
            folded.add(epoch_id)
            return
        spark = batch_df.sparkSession
        from portfolio1_etl_spark.operators.sinks import _hadoop_fs

        fs, pq_path = _hadoop_fs(spark, f"{index_path}/pq_codebook")
        if fs.exists(pq_path):
            ingest_vectors_ivfpq(spark, index_path, with_norms(batch_df))
        else:
            ingest_vectors(spark, index_path, with_norms(batch_df))
        folded.add(epoch_id)

    writer = vec_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def wordcount_stream(docs_stream: DataFrame, state: dict):
    """Incremental corpus word-frequency table — the additive fold
    behind tokenizer (re)training: counts union + re-aggregate per
    micro-batch (the CMS/Bloom linearity argument in its simplest
    form), so the BPE trainer can re-learn merges from the maintained
    table at any point without a corpus re-scan
    (``bpe_retrain_finalize``; stream==batch q123 equality tested)."""

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        b = (
            batch_df.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        prev = state.get("wordcount")
        state["wordcount"] = materialize(
            b
            if prev is None
            else prev.unionByName(b).groupBy("word").agg(F.sum("freq").alias("freq"))
        )
        _epoch_folded(state, epoch_id)

    writer = docs_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def bpe_retrain_finalize(state: dict, rounds: int = 8) -> DataFrame:
    """Re-learn the merge table from the maintained word-frequency
    state — identical output to q123 over the same documents."""
    from portfolio1_etl_spark.operators.bpe_train import train_bpe_merges

    return train_bpe_merges(state["wordcount"], rounds)


def media_census_stream(media_stream: DataFrame, state: dict):
    """Incremental multimodal decode census (r7): media rows (path,
    modality, content binary) STREAM out of a landing zone and each
    micro-batch runs the SAME Arrow-batched ``decode_media_features``
    narrow map the one-shot census uses — JPEG (baseline +
    progressive), GIF, BMP, PPM, PNG, and WAV (PCM/mu-law/ADPCM) all
    decode inside the micro-batch, undecodable objects surviving as
    marked rows. Per-object census rows are disjoint across epochs,
    so the fold is a union — epoch-guarded, because foreachBatch is
    at-least-once and a replayed epoch would duplicate objects.
    Equality with the batch census and same-epoch re-delivery are
    pinned in tests/test_streaming.py."""
    from portfolio1_etl_spark.operators.multimodal import decode_media_features

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        feats = decode_media_features(batch_df)
        cur = state.get("census")
        nxt = feats if cur is None else cur.unionByName(feats)
        state["census"] = materialize(nxt)
        _epoch_folded(state, epoch_id)

    writer = media_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def media_census_finalize(state: dict) -> DataFrame:
    """The maintained census (one row per media object seen)."""
    if "census" not in state:
        raise ValueError("media census stream has not folded any batch")
    return state["census"]


def versioned_cdc_stream(events: DataFrame, path: str, stream_id: str = "default"):
    """Streaming ingestion into a MANIFEST-COMMITTED versioned chain
    with write-time CDC capture (r8) — the durable form of the
    inventory merge: each micro-batch folds per-sku sold totals into
    the latest snapshot and commits the new state as version N+1 with
    its change feed, so every epoch publishes deltas downstream
    consumers replay instead of re-reading state.

    Exactly-once WITHOUT driver memory: the epoch id rides in the
    version's manifest ``meta`` — committed in the same atomic
    one-file write as the data — and the fold skips any epoch ≤ the
    latest committed one. Unlike the in-memory ``_epoch_already_folded``
    guard the other jobs use, this survives a full process restart: a
    crash AFTER the manifest commit but before Spark checkpoints the
    offset re-delivers the epoch to a fresh process, which reads the
    durable marker and skips — no double-fold, no side-channel file a
    crash could leave out of sync with the data. Totals accumulate in
    DECIMAL(18,2) so the stream-fold equals the one-shot batch
    aggregate bit-for-bit (pinned in tests/test_streaming.py along
    with re-delivery and kill-and-resume).

    ``stream_id`` (r9) closes the epoch guard's hidden assumption:
    batch ids are only monotone across restarts when the restart
    REUSES the checkpoint. A restart with a fresh or lost checkpoint
    resets epoch ids to 0, and the bare ≤-marker skip would then
    silently discard every new micro-batch until the counter passed
    the old marker — silent data loss. The id commits into the same
    manifest meta as the epoch; the skip only applies when the ids
    MATCH, and a mismatch fails loudly (neither skipping nor
    re-folding is safe when the offset history is gone — the operator
    must resume with the original checkpoint + id, or point the new
    run at a new chain path). Contract: pass a stable id tied to the
    checkpoint's lifetime — the checkpoint directory path is the
    natural choice."""
    from portfolio1_etl_spark.operators.sinks import (
        _versions,
        read_version,
        version_meta,
        write_versioned,
    )

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        vs = _versions(spark, path)
        if vs:
            marker = version_meta(spark, path, vs[-1])
            if marker.get("stream_id", "default") != stream_id:
                raise RuntimeError(
                    f"chain {path} was written by stream run "
                    f"{marker.get('stream_id', 'default')!r} but this run is "
                    f"{stream_id!r}: the epoch marker is not comparable "
                    "across checkpoint lifetimes. Resume with the original "
                    "checkpoint (and its stream_id), or target a new chain."
                )
            if int(marker.get("epoch", -1)) >= epoch_id:
                return  # duplicate delivery, incl. post-restart — durable guard
        delta = batch_df.groupBy(F.col("event_type").alias("sku")).agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
        if vs:
            prev = read_version(spark, path, vs[-1])
            merged = (
                prev.unionByName(delta)
                .groupBy("sku")
                .agg(F.sum("qty").alias("qty"), F.sum("n").alias("n"))
            )
        else:
            merged = delta
        state = merged.select(
            "sku",
            F.col("qty").cast("decimal(18,2)").alias("qty"),
            F.col("n").cast("long").alias("n"),
        )
        write_versioned(
            state, path, capture_changes=True,
            meta={"epoch": epoch_id, "stream_id": stream_id},
        )

    writer = events.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


# --- streaming VARIANT ingestion (r10) --------------------------------------


def variant_shred_census(feed: DataFrame) -> DataFrame:
    """q238's schema-on-read shred applied to a framed-feed frame
    (sku/qty/site) whose ``sku`` column carries heterogeneous JSON
    payloads: ``try_parse_json`` → typed ``try_variant_get`` paths,
    malformed documents surfacing as NULL/invalid rows — never an
    exception — then a per-site census. Shared verbatim by the
    streaming fold and its batch twin so stream==batch equality tests
    one function, not two spellings."""
    v = F.try_parse_json(F.col("sku"))
    x = feed.select(
        "site",
        "qty",
        v.isNotNull().alias("ok"),
        F.try_variant_get(v, "$.amount", "bigint").alias("amount"),
        F.try_variant_get(v, "$.pos.x", "bigint").alias("pos_x"),
    )
    return x.groupBy("site").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum("amount").cast("long").alias("sum_amount"),
        F.max("pos_x").cast("long").alias("max_pos_x"),
        F.sum("qty").cast("long").alias("sum_qty"),
    )


def variant_ingest_stream(feed_stream: DataFrame, state: dict):
    """Streaming VARIANT ingestion (r10 — the two r9 pieces composed):
    micro-batches arrive through the custom Python DataSource stream
    (``sources/pydatasource.py``, name-set offsets) and each batch runs
    the SAME ``variant_shred_census`` shred the batch twin uses —
    schema-on-read ON ARRIVAL, one malformed payload degrading one row
    to NULL instead of killing the stream. The census is additive
    (counts/sums; max is monotone), so the fold is union +
    re-aggregate, epoch-guarded against foreachBatch's at-least-once
    redelivery. Stream==batch equality, epoch idempotence, and
    kill-and-resume are pinned in tests/test_streaming.py."""

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if _epoch_already_folded(state, epoch_id):
            return
        b = variant_shred_census(batch_df)
        prev = state.get("census")
        if prev is not None:
            b = (
                prev.unionByName(b)
                .groupBy("site")
                .agg(
                    F.sum("n_rows").cast("long").alias("n_rows"),
                    F.sum("n_valid").cast("long").alias("n_valid"),
                    F.sum("sum_amount").cast("long").alias("sum_amount"),
                    F.max("max_pos_x").cast("long").alias("max_pos_x"),
                    F.sum("sum_qty").cast("long").alias("sum_qty"),
                )
            )
        state["census"] = materialize(b)
        _epoch_folded(state, epoch_id)

    writer = feed_stream.writeStream.outputMode("append").foreachBatch(_fold)
    writer.epoch_fold = _fold  # exposed for retry tests
    return writer


def variant_ingest_finalize(state: dict) -> DataFrame:
    """The maintained per-site VARIANT census."""
    if "census" not in state:
        raise ValueError("variant ingest stream has not folded any batch")
    return state["census"]


def joinview_maintenance_stream(
    trigger: DataFrame,
    fact_path: str,
    dim_path: str,
    view_path: str,
    on: list[str],
    stream_id: str = "default",
):
    """Streaming maintenance of an incremental JOIN view (r11): per
    micro-batch, fast-forward the materialized fact⋈dim view from the
    two chains' CDC feeds via the Z-relation algebra
    (operators/matview.apply_join_delta) and COMMIT the refreshed view
    as the next version of its own manifest chain. The micro-batch
    content is ignored — the stream is the maintenance CLOCK; the
    chains advance out-of-band by any commit type (snapshot writes,
    delete_from_chain, upsert_into_chain — their captured feeds all
    fold through read_changes).

    Exactly-once is VERSION-driven, stronger than an epoch marker:
    the view manifest's meta records (fact_v, dim_v) — the chain
    versions the view reflects, committed in the same atomic one-file
    write as the view data. A re-delivered epoch (or a restart from
    any checkpoint age, or a FRESH checkpoint — no stream_id
    comparability problem) re-reads the durable marker, sees no chain
    advanced, and no-ops; a crash between the view commit and Spark's
    offset checkpoint is absorbed the same way. Cost per refresh:
    O(|Δ| · fanout) + a view-grain full-outer fold — never a re-join
    of the full chains."""
    from portfolio1_etl_spark.operators.matview import (
        apply_join_delta,
        join_view,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _versions,
        read_changes,
        read_version,
        version_meta,
        write_versioned,
    )

    def _refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fa = _versions(spark, fact_path)
        fb = _versions(spark, dim_path)
        if not fa or not fb:
            return  # a base snapshot on both chains seeds the view
        fact_v, dim_v = fa[-1], fb[-1]
        vs = _versions(spark, view_path)
        if not vs:
            view = join_view(
                read_version(spark, fact_path, fact_v),
                read_version(spark, dim_path, dim_v),
                on,
            )
            write_versioned(
                view,
                view_path,
                meta={
                    "fact_v": fact_v,
                    "dim_v": dim_v,
                    "stream_id": stream_id,
                },
            )
            return
        marker = version_meta(spark, view_path, vs[-1])
        va, vb = int(marker["fact_v"]), int(marker["dim_v"])
        if va >= fact_v and vb >= dim_v:
            return  # nothing advanced (incl. duplicate epoch delivery)
        a_new = read_version(spark, fact_path, fact_v)
        b_new = read_version(spark, dim_path, dim_v)
        empty = "_change string"
        feed_a = (
            read_changes(spark, fact_path, va, fact_v)
            if fact_v > va
            else spark.createDataFrame(
                [], f"{empty}, " + ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in a_new.schema.fields
                )
            )
        )
        feed_b = (
            read_changes(spark, dim_path, vb, dim_v)
            if dim_v > vb
            else spark.createDataFrame(
                [], f"{empty}, " + ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in b_new.schema.fields
                )
            )
        )
        refreshed = apply_join_delta(
            read_version(spark, view_path, vs[-1]),
            a_new,
            b_new,
            feed_a,
            feed_b,
            on,
        )
        write_versioned(
            refreshed,
            view_path,
            meta={"fact_v": fact_v, "dim_v": dim_v, "stream_id": stream_id},
        )

    writer = trigger.writeStream.foreachBatch(_refresh)
    writer.epoch_fold = _refresh  # exposed for retry tests
    return writer


def aggview_maintenance_stream(
    trigger: DataFrame,
    base_path: str,
    view_path: str,
    keys: list[str],
    val: str,
    stream_id: str = "default",
):
    """Streaming maintenance of an incremental AGGREGATE view (r12 —
    the join-view job's GROUP-BY twin, the most common warehouse
    materialized-view shape): per micro-batch, fast-forward the
    per-key n_rows/sum/min/max view (operators/matview.agg_view) from
    the base chain's CDC feed via ``apply_agg_delta`` and commit the
    refreshed view as the next version of its own manifest chain.
    COUNT/SUM fold additively from the delta alone; a delete that
    reaches a group's extremum re-aggregates just that group from the
    chain HEAD (dirty-key semi-join — delta-bounded, never a rescan).

    Exactly-once is VERSION-driven exactly as the join-view job: the
    view manifest's meta records ``base_v``, committed atomically with
    the view data; duplicate epochs and restarts re-read the marker
    and no-op when the chain hasn't advanced."""
    from portfolio1_etl_spark.operators.matview import (
        agg_view,
        apply_agg_delta,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _versions,
        read_changes,
        read_version,
        version_meta,
        write_versioned,
    )

    def _refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        bv = _versions(spark, base_path)
        if not bv:
            return  # a base snapshot seeds the view
        base_v = bv[-1]
        head = read_version(spark, base_path, base_v)
        vs = _versions(spark, view_path)
        if not vs:
            write_versioned(
                agg_view(head, keys, val),
                view_path,
                meta={"base_v": base_v, "stream_id": stream_id},
            )
            return
        marker = version_meta(spark, view_path, vs[-1])
        va = int(marker["base_v"])
        if va >= base_v:
            return  # nothing advanced (incl. duplicate epoch delivery)
        refreshed = apply_agg_delta(
            read_version(spark, view_path, vs[-1]),
            read_changes(spark, base_path, va, base_v),
            head,
            keys,
            val,
        )
        write_versioned(
            refreshed,
            view_path,
            meta={"base_v": base_v, "stream_id": stream_id},
        )

    writer = trigger.writeStream.foreachBatch(_refresh)
    writer.epoch_fold = _refresh  # exposed for retry tests
    return writer


def distinctview_maintenance_stream(
    trigger: DataFrame,
    base_path: str,
    aux_path: str,
    view_path: str,
    keys: list[str],
    val: str,
    stream_id: str = "default",
):
    """Streaming maintenance of an incremental COUNT-DISTINCT view
    (r13 — completes the matview streaming family: join, agg,
    distinct): per micro-batch, fast-forward the (keys, val) -> cnt
    multiplicity SIDECAR and the per-key n_distinct view
    (operators/matview.distinct_view) from the base chain's CDC feed
    via ``apply_distinct_delta``, committing each as the next version
    of its own manifest chain. The sidecar is what makes distinct
    incremental under deletes: a delete decrements one (key, val)
    cell, and the count moves only on a 0-crossing — every refresh is
    delta-proportional, never a base rescan.

    Exactly-once is VERSION-driven like the join/agg twins: both
    chains' meta records ``base_v``; duplicate epochs and no-advance
    epochs no-op. Two chains cannot commit atomically, so the sidecar
    commits FIRST and a torn epoch (crash between the writes) leaves
    the view one marker behind — the next epoch detects the lag and
    HEALS the view from the sidecar alone (aux-grain groupBy, still
    never base-grain) before advancing further."""
    from portfolio1_etl_spark.operators.matview import (
        apply_distinct_delta,
        distinct_view,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _versions,
        read_changes,
        read_version,
        version_meta,
        write_versioned,
    )

    def _refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        bv = _versions(spark, base_path)
        if not bv:
            return  # a base snapshot seeds the chains
        base_v = bv[-1]
        avs = _versions(spark, aux_path)
        if not avs:
            aux, view = distinct_view(
                read_version(spark, base_path, base_v), keys, val
            )
            write_versioned(
                aux,
                aux_path,
                meta={"base_v": base_v, "stream_id": stream_id},
            )
            write_versioned(
                view,
                view_path,
                meta={"base_v": base_v, "stream_id": stream_id},
            )
            return
        va = int(version_meta(spark, aux_path, avs[-1])["base_v"])
        vvs = _versions(spark, view_path)
        vv = (
            int(version_meta(spark, view_path, vvs[-1])["base_v"])
            if vvs
            else -1
        )
        if vv < va:
            # torn epoch: the sidecar committed, the view did not.
            # Heal from the SIDECAR (aux-grain — each distinct
            # (keys, val) cell contributes exactly 1), then let the
            # next epoch advance both.
            aux = read_version(spark, aux_path, avs[-1])
            view = aux.groupBy(*keys).agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct")
            )
            write_versioned(
                view,
                view_path,
                meta={"base_v": va, "stream_id": stream_id},
            )
            return
        if va >= base_v:
            return  # nothing advanced (incl. duplicate epoch delivery)
        feed = read_changes(spark, base_path, va, base_v)
        aux_new, view_new = apply_distinct_delta(
            read_version(spark, aux_path, avs[-1]),
            read_version(spark, view_path, vvs[-1]),
            feed,
            keys,
            val,
        )
        # aux first: both new plans pin the OLD chain versions, so the
        # sidecar commit cannot leak into the view computation; a crash
        # between the writes is the torn state the heal path covers
        write_versioned(
            aux_new,
            aux_path,
            meta={"base_v": base_v, "stream_id": stream_id},
        )
        write_versioned(
            view_new,
            view_path,
            meta={"base_v": base_v, "stream_id": stream_id},
        )

    writer = trigger.writeStream.foreachBatch(_refresh)
    writer.epoch_fold = _refresh  # exposed for retry tests
    return writer


def neardup_ingest_stream(
    trigger: DataFrame,
    base_path: str,
    sig_path: str,
    pairs_path: str,
    n_bands: int = 4,
    stream_id: str = "default",
):
    """Incremental near-duplicate detection on document INGEST (r13 —
    the streaming twin of the batch dedup layer): per micro-batch,
    MinHash-sign only the documents the base chain's CDC feed
    INSERTED, probe their LSH bands against the persisted signature
    table (new-vs-corpus band equi-join — the delta join; the corpus
    is never re-paired), append the discovered candidate pairs to a
    pairs chain, and merge the new signatures into the signature
    chain. Both writes are O(delta) row-level commits
    (``upsert_into_chain``), never a corpus rewrite — at 100 TB the
    signature chain is the only standing state and each epoch touches
    it proportionally to arrivals.

    EQUALITY CONTRACT (pinned by the stream==batch test): after
    ingesting a corpus in any number of batches, the accumulated pairs
    chain equals ``lsh_candidates`` over the full corpus (uncapped) —
    every pair is discovered exactly when its second document arrives,
    and within-batch pairs come out of the same probe (the new docs'
    bands are part of the probed table). ``bucket_cap`` is
    deliberately absent here: a cap decides per-epoch what the batch
    join decides corpus-wide, so a capped incremental run would
    diverge from its batch twin exactly when the cap matters.

    Exactly-once: the signature chain's commit meta records
    ``base_v``; duplicate epochs and no-advance epochs no-op. The
    pairs commit lands FIRST — a crash between the writes re-runs the
    epoch against the unchanged signature head and re-upserts the
    same (doc_a, doc_b) keys, which nets to zero. Ingest means
    INSERTS: updates/deletes in the feed raise loudly rather than
    silently leaving stale signatures."""
    from portfolio1_etl_spark.operators.dedup import (
        band_table,
        lsh_candidates,
        minhash_signatures,
        shingle_hashes,
    )
    from portfolio1_etl_spark.operators.sinks import (
        _versions,
        read_changes,
        read_version,
        upsert_into_chain,
        version_meta,
        write_versioned,
    )

    def _refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        bv = _versions(spark, base_path)
        if not bv:
            return  # a base snapshot seeds the chains
        base_v = bv[-1]
        svs = _versions(spark, sig_path)
        if not svs:
            docs = read_version(spark, base_path, base_v).select(
                "doc_id", "text"
            )
            sigs = minhash_signatures(shingle_hashes(docs, "text"))
            pairs = lsh_candidates(sigs, n_bands)
            write_versioned(
                pairs,
                pairs_path,
                meta={"base_v": base_v, "stream_id": stream_id},
            )
            write_versioned(
                sigs,
                sig_path,
                meta={"base_v": base_v, "stream_id": stream_id},
            )
            return
        va = int(version_meta(spark, sig_path, svs[-1])["base_v"])
        if va >= base_v:
            return  # nothing advanced (incl. duplicate epoch delivery)
        feed = read_changes(spark, base_path, va, base_v)
        non_inserts = feed.filter(F.col("_change") != "insert").limit(1)
        if non_inserts.count():
            raise ValueError(
                "neardup_ingest_stream is insert-only: the feed carries "
                "updates/deletes, which would leave stale signatures — "
                "rebuild the chains or route through a full re-sign"
            )
        new_docs = feed.select("doc_id", "text")
        sigs_new = materialize(minhash_signatures(shingle_hashes(new_docs, "text")))
        stored = read_version(spark, sig_path, svs[-1])
        bands_all = band_table(
            stored.unionByName(sigs_new), n_bands
        )
        bands_new = band_table(sigs_new, n_bands)
        pairs_new = (
            bands_new.alias("ba")
            .join(
                bands_all.alias("bb"),
                (F.col("ba.band") == F.col("bb.band"))
                & (F.col("ba.sig") == F.col("bb.sig"))
                & (F.col("ba.doc_id") != F.col("bb.doc_id")),
            )
            .select(
                F.least(
                    F.col("ba.doc_id"), F.col("bb.doc_id")
                ).alias("doc_a"),
                F.greatest(
                    F.col("ba.doc_id"), F.col("bb.doc_id")
                ).alias("doc_b"),
            )
            .distinct()
        )
        # pairs FIRST: a crash before the signature commit re-runs this
        # epoch against the unchanged signature head and re-upserts the
        # same keys (idempotent); the reverse order would lose pairs
        upsert_into_chain(
            spark,
            pairs_path,
            pairs_new,
            ["doc_a", "doc_b"],
            meta={"base_v": base_v, "stream_id": stream_id},
        )
        upsert_into_chain(
            spark,
            sig_path,
            sigs_new,
            ["doc_id"],
            meta={"base_v": base_v, "stream_id": stream_id},
        )

    writer = trigger.writeStream.foreachBatch(_refresh)
    writer.epoch_fold = _refresh  # exposed for retry tests
    return writer
