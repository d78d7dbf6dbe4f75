"""Deduplication operator library (generic, DataFrame-in/DataFrame-out).

The oracle-checked query forms live in ``plans/dedup_ops``; these are
the building blocks a pipeline author composes directly:

    sh    = shingle_hashes(docs, "text", id_col="doc_id")
    pairs = jaccard_pairs(sh, threshold=0.8)             # exact near-dup
    sigs  = minhash_signatures(sh)                        # 16-perm MinHash
    cand  = lsh_candidates(sigs)                          # banded LSH
    fp    = simhash(docs, "text")                         # 16-bit SimHash

All hashing is md5-derived and deterministic (no RNG, reproducible
across runs and engines). Scale properties are documented per function
and in ARCHITECTURE.md §5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import (
    materialize,
    materialize_counted,
)

#: Deterministic 48-bit hash of a string column (identical in DuckDB
#: as ``('0x' || substr(md5(c),1,12))::BIGINT``).
H48 = "cast(conv(substring(md5({c}), 1, 12), 16, 10) as bigint)"

#: MinHash family: h_i(x) = (a_i·H + b_i) mod (2^31−1); a_i < 64 keeps
#: a_i·H < 2^54 — no int64 overflow on 48-bit H.
MINHASH_PARAMS = [(i, 2 * i + 3, 104729 * (i + 1) + 7) for i in range(16)]
MINHASH_MOD = 2147483647


def shingle_hashes(
    docs: DataFrame, text_col: str, id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, h): 48-bit hashes of each document's distinct n-word
    shingles. Tokens are materialized once (an inline split in the
    lambda would re-split per shingle index); output rows carry long
    keys so every downstream shuffle/join is fixed-width. The input is
    spread to ``spark.sql.shuffle.partitions`` BEFORE the explode
    (SCALING.md r12 Finding 6): file-split sizing budgets raw text
    bytes, not the ~50x shingle amplification behind the explode, so
    at sf10 the scan planned ~15 splits on a 32-core box and every
    dedup stage inherited the truncated parallelism. Skipped when the
    upstream plan is already at least that wide — the explode then
    preserves a sufficient partitioning and the extra shuffle would be
    pure cost."""
    # NB: Spark's sequence(1, 0) is DESCENDING [1, 0] — short documents
    # need an explicit emptiness guard, not a greatest() clamp.
    shingle_expr = f"""
    CASE WHEN size(toks) >= {n} THEN
      array_distinct(transform(
        sequence(1, size(toks) - {n - 1}),
        i -> concat_ws(' ', slice(toks, i, {n}))
      ))
    ELSE array() END
    """
    # spread the explode across the configured parallelism BEFORE it
    # runs: file-split sizing budgets raw text bytes, not the ~50×
    # shingle amplification behind the explode — at the r12 sf10
    # checkpoint the documents scan planned ~15 splits on a 32-core
    # box and every downstream dedup stage inherited the truncated
    # parallelism (SCALING.md Finding 6, the q69 lesson applied to
    # the primitive every dedup query shares)
    npart = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # unconditional: probing the current width (df.rdd.getNumPartitions)
    # would eagerly execute upstream AQE stages, costing more than the
    # one narrow-row shuffle it could skip; on tiny inputs this shuffle
    # is a few ms, at sf10 it is the difference between 15 and 32 busy
    # cores for every downstream dedup stage
    return (
        docs.repartition(npart)
        .withColumn("toks", F.split(text_col, " "))
        .select(id_col, F.explode(F.expr(shingle_expr)).alias("s"))
        .select(id_col, F.expr(H48.format(c="s")).alias("h"))
    )


def with_repetition_cols(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Adds (n_shingles, n_distinct) long columns — the within-doc
    repetition signal (q96 and the corpus pipeline share this; the
    two MUST stay expression-identical or their keep decisions
    drift). The token array is materialized once per row (same
    discipline as ``shingle_hashes`` — an inline split in the lambda
    would re-split per shingle index). n_shingles is 0 for docs
    shorter than n tokens; the distinct count is only meaningful when
    n_shingles > 0 (the inner sequence is clamped so short docs do
    not error)."""
    return (
        df.withColumn("__toks", F.split(text_col, " "))
        .withColumn(
            "n_shingles",
            F.greatest(F.size("__toks") - (n - 1), F.lit(0)).cast("long"),
        )
        .withColumn(
            "n_distinct",
            F.size(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)),"
                        f" i -> concat_ws(' ', slice(__toks, i, {n})))"
                    )
                )
            ).cast("long"),
        )
        .drop("__toks")
    )


def hot_shingles(sh: DataFrame, df_cap: int) -> DataFrame:
    """(h, df): shingle hashes whose document frequency exceeds
    ``df_cap``. PRECONDITION: ``sh`` holds distinct (id, h) rows —
    ``shingle_hashes`` guarantees this via array_distinct — so a plain
    count per h IS the document frequency. Heavy hitters are few by
    construction (a Zipf head), so the result is broadcastable at any
    corpus size even when the shingle table itself is not."""
    return (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
    )


def jaccard_pairs(
    sh: DataFrame,
    threshold: float | None = None,
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair sharing ≥1 shingle hash —
    inverted-index self-join on long keys; pairs that share nothing
    never meet. Optional threshold filter.

    ``df_cap`` drops shingle hashes shared by more than ``df_cap``
    documents BEFORE pair enumeration (broadcast anti-join against the
    heavy-hitter set). Without it, one ubiquitous shingle shared by
    10^6 docs yields ~10^12 candidate rows — the cap is the scale
    guard for real corpora. Capped shingles are removed from the sets
    themselves (stop-shingle semantics): sizes and intersections are
    both computed on the capped sets, so the reported Jaccard is the
    similarity of the informative shingles."""
    if df_cap is not None:
        sh = sh.join(
            F.broadcast(hot_shingles(sh, df_cap).select("h")),
            "h",
            "left_anti",
        )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    out = (
        common.join(sizes.alias("sa"), F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col(f"sb.{id_col}"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold else out


def prefix_jaccard_pairs(
    sh: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ t_num/t_den) via PREFIX FILTERING
    (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. WWW'08) —
    the third candidate-generation strategy next to the df-cap
    inverted index (lossless, caps heavy hitters) and LSH (lossy,
    probabilistic): sort every set in one GLOBAL order (ascending
    document frequency — rarest first) and index only each set's
    first ``n − ceil(t·n) + 1`` tokens. Two sets with Jaccard ≥ t
    MUST share a prefix token, so the candidate join touches a small
    slice of the index yet misses nothing — lossless like df-cap,
    but with pruning driven by the threshold instead of a tuning cap.

    The threshold is an EXACT RATIONAL (t_num/t_den) and the prefix
    length is computed in integer arithmetic
    (``ceil(t·n) = (t_num·n + t_den − 1) div t_den``): a float
    ``ceil(0.4·n)`` rounds 2.0000000000000004 up to 3 when the true
    value is 2, silently shortening the prefix below the lemma's
    bound — a data-dependent false-negative bug that float-vs-decimal
    engine differences make worse. Verification reuses
    ``verify_candidates`` (exact Jaccard on the candidates only).

    Candidates are pruned by PPJoin's LOSSLESS length + positional
    filters before verification (the r12 fix for the 18× sf1 scaling
    blow-up — near-dup families whose every pair collides in the
    prefixes made the verify stage's input superlinear):

    - length: ``c ≤ min(na, nb)`` and ``J ≥ t ⟺ c·(t_num+t_den) ≥
      t_num·(na+nb)`` force ``min·(t_num+t_den) ≥ t_num·(na+nb)``
      (⟺ min ≥ t·max) — applied inside the join condition, before
      the pair ever shuffles.
    - positional: let w be the (df, h)-minimal colliding prefix
      token, at ranks (ra, rb). Any common token globally smaller
      than w would sit at ranks < ra / < rb — inside BOTH prefixes —
      and collide, contradicting w's minimality; so every common
      token is ≥ w and ``c ≤ 1 + min(na − ra, nb − rb)``. Pairs whose
      bound can't reach the required overlap are dropped exactly —
      integer arithmetic throughout. Measured at sf1: 13.4 M distinct
      collision pairs → 1.78 M candidates (7.5× lossless pruning of
      the sub-threshold mass; the ~250 k genuinely-over-threshold
      pairs all survive, as the complete-join oracle proves). Pairs
      whose unique rare tokens sort first and whose shared run starts
      late are exactly the ones pruned
      (tests/test_prefix_join.py::test_positional_filter_prunes_neardup_family).

    Verification uses the SET form (``verify_candidates_sets``): the
    lossless candidate list is orders of magnitude denser than LSH
    survivors, so the array shape's |cand|-row shuffle wins there."""
    cand = materialize(prefix_candidates(sh, t_num, t_den, id_col=id_col))
    return verify_candidates_sets(sh, cand, t_num / t_den, id_col=id_col)


def prefix_candidates(
    sh: DataFrame,
    t_num: int,
    t_den: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pair-distinct (doc_a, doc_b) candidates for Jaccard ≥
    t_num/t_den: prefix-filter collision join + PPJoin length and
    positional filters (all lossless — see ``prefix_jaccard_pairs``).
    Exposed separately so the pruning invariants are testable without
    reaching through the verify stage."""
    df_tab = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w_rank = W.partitionBy(id_col).orderBy("df", "h")
    # the set size rides the SAME sorted window pass as the rank (full
    # frame) — same partitioning + ordering folds both functions into
    # ONE Window node instead of two passes over the per-doc groups
    w_size = w_rank.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ceil_tn = f"({t_num} * n + {t_den - 1}) div {t_den}"
    prefix = (
        sh.join(df_tab, "h")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_size))
        .filter(F.col("rn") <= F.col("n") - F.expr(ceil_tn) + 1)
        .select(id_col, "h", "df", "rn", "n")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    t_sum = t_num + t_den
    length_ok = (
        F.least(F.col("a.n"), F.col("b.n")) * t_sum
        >= t_num * (F.col("a.n") + F.col("b.n"))
    )
    # shuffle_hash, never broadcast: both sides are the SAME
    # corpus-linear prefix index (~600 MB at the sf10 decade, growing
    # with the corpus) — a broadcast plan here is the q237 flip class
    # in reverse: fast while it fits, then a driver OOM at the decade
    # where it stops fitting. Co-partitioning on h costs two bounded
    # shuffles of the reduced index and holds at any scale.
    coll = a.join(
        b.hint("shuffle_hash"),
        (F.col("a.h") == F.col("b.h"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & length_ok,
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.rn").alias("ra"),
        F.col("b.rn").alias("rb"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    )
    # The (df, h)-minimal colliding prefix token w is recovered with
    # PRIMITIVE min aggregates: within each document rn is strictly
    # increasing in the SAME global (df, h) order, so over a pair's
    # collision rows min(ra) and min(rb) are both attained AT w —
    # no min-over-struct needed. That matters at scale: min(struct)
    # has no fixed-width agg buffer, so Spark plans ObjectHashAggregate
    # with a sort-based fallback and the r13 sf10 drill measured the
    # stage at 17x for 8.6x rows (spilled sort of 125 M struct rows);
    # four long mins stay in whole-stage-codegen HashAggregate with
    # map-side combine, and the shuffle rows shrink to six numerics
    # (df/h drop out entirely). na/nb are pair constants, so min() is
    # just "pick the value" — one aggregate shape for all four.
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    return (
        coll.groupBy("doc_a", "doc_b")
        .agg(
            F.min("ra").alias("ra"),
            F.min("rb").alias("rb"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .filter(ubound * t_sum >= t_num * (F.col("na") + F.col("nb")))
        .select("doc_a", "doc_b")
    )


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One grouped aggregate → 16 min-hash columns h0..h15 per doc
    (no hash-family crossJoin; md5 was computed once in
    ``shingle_hashes``)."""
    return sh.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_MOD).alias(f"h{i}")
            for i, a, b in MINHASH_PARAMS
        ]
    )


def band_table(
    sigs: DataFrame, n_bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band, sig): one row per document per LSH band — the
    concatenated minhash rows that make up each band's signature.
    Factored out of ``lsh_candidates`` (r13) so incremental consumers
    (the streaming near-dup ingest job) can probe new documents'
    bands against a persisted signature table with the exact same
    band construction the batch join uses."""
    rows_per_band = len(MINHASH_PARAMS) // n_bands
    band_exprs = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{rows_per_band * band + j}").cast("string")
                    for j in range(rows_per_band)
                ],
            ).alias("sig"),
        )
        for band in range(n_bands)
    ]
    return sigs.select(
        id_col, F.explode(F.array(*band_exprs)).alias("bs")
    ).select(id_col, "bs.band", "bs.sig")


def lsh_candidates(
    sigs: DataFrame,
    n_bands: int = 4,
    id_col: str = "doc_id",
    bucket_cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) pairs agreeing on at least one full band
    signature. The join key is (band, signature) — a pure equi-join;
    the result is eagerly materialized (``checkpointing.materialize``)
    because LSH survivor sets are tiny and always feed multiple
    consumers.

    ``bucket_cap`` drops (band, signature) buckets holding more than
    ``bucket_cap`` documents before the self-join — the band-join
    analogue of the shingle df-cap: a bucket of B docs emits B² pairs,
    so one degenerate signature (e.g. from boilerplate documents)
    otherwise dominates the join. Dropped buckets mean those documents
    can still pair through their other bands."""
    bands = band_table(sigs, n_bands, id_col=id_col)
    if bucket_cap is not None:
        hot = (
            bands.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") > bucket_cap)
            .select("band", "sig")
        )
        bands = bands.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    ba, bb = bands.alias("ba"), bands.alias("bb")
    return materialize(
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.sig") == F.col("bb.sig"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("doc_a"), F.col(f"bb.{id_col}").alias("doc_b")
        )
        .distinct()
    )


#: Edge-set size at or below which ``connected_components`` stops the
#: star rounds, collects the remaining edges and finishes with a
#: union-find on the driver. At 2^18 random edges the whole finish
#: (collect, union-find, local relation) measured 1.5-2.3 s and +43 MB
#: of driver RSS on a 4-vCPU host; 2^20 edges took the union-find alone
#: to 3.6 s and 250 MB.
_DRIVER_FINISH_EDGES = 1 << 18


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component label is the minimum node id in its connected component
    — the step that turns pairwise near-dup output (q72/q73/q75/q78)
    into duplicate CLUSTERS with a deterministic survivor.

    Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    round is two grouped aggregates + two equi-joins, converging in
    O(log n) rounds regardless of component diameter. Naive min-label
    propagation needs O(diameter) rounds, which on a chain-shaped
    cluster (common with boilerplate docs: A~B~C~... without A~C) is
    a scale-killer; the star algorithm contracts paths exponentially.
    Each round's edge set is eagerly materialized to truncate lineage
    (into the session's checkpoint directory when one is set, so a
    lost executor cannot kill a multi-hour run — see
    ``operators.checkpointing``). The edge count
    of every materialized set is observed inside its checkpoint action
    (``checkpointing.materialize_counted``), not by a separate job.

    In-memory finish (the same paper's): every round preserves the
    node set and the components, so once an edge set holds at most
    ``_DRIVER_FINISH_EDGES`` rows it is collected through Arrow and
    finished with a min-root union-find on the driver — identical
    labels, and a few-dozen-edge graph costs one checkpoint and one
    collect instead of a 26-32-job round loop. The bound is a fixed
    row count, so a large input runs the distributed rounds until it
    has contracted below it and its edge data stays on the executors
    until then. Only integral and default-collation string ids take
    the finish (Python orders and compares them as Spark does); any
    other id type always runs the star rounds.

    Convergence is an EXACT fixpoint test — the round's edge set equals
    the previous round's (both directions of ``exceptAll`` empty, both
    sides already-materialized checkpoints) — not a probabilistic
    (count, checksum) digest: a digest collision between two distinct
    edge sets would end the loop early with wrong labels, and at
    corpus scale "negligible probability × every run forever" is a
    correctness bug, not a tradeoff.
    """
    from pyspark.sql.types import IntegralType, StringType

    e, cnt = materialize_counted(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    id_type = e.schema["u"].dataType
    finish_on_driver = isinstance(id_type, IntegralType) or id_type == StringType()

    # fixpoint probe: both sides are DISTINCT sets, so |cur| == |prev|
    # plus cur ⊆ prev is full set equality; the count probe (observed
    # by the checkpoint action, so free) short-circuits the exceptAll
    # shuffle on every still-shrinking round.
    for _ in range(max_iter):
        if finish_on_driver and cnt <= _DRIVER_FINISH_EDGES:
            return _union_find_labels(e)
        prev_e, prev_cnt = e, cnt
        # Large-star: every neighbor LARGER than u links to the
        # minimum of u's neighborhood (including u itself).
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        ls = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # NO distinct between the stars: small-star's own min-aggregate
        # is duplicate-blind and its output is distinct-ed anyway, so a
        # mid-round dedup would add a full shuffle per round only to
        # shave rows the next aggregate absorbs for free. (Duplicate
        # inflation is bounded: large-star emits ≤ one row per directed
        # edge.)
        e = ls.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).filter(F.col("u") != F.col("v"))
        # Small-star: key each edge at its larger endpoint; all its
        # (smaller) neighbors and the node itself link to the minimum.
        by_larger = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        smins = by_larger.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            by_larger.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        e, cnt = materialize_counted(
            ss.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        if cnt == prev_cnt and e.exceptAll(prev_e).isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # Fixpoint is a star per component centered at its minimum: each
    # member's sole neighbor is the center; the center's label is
    # itself. One grouped min covers both cases.
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        both.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("node"),
            F.least("mn", F.col("u")).alias("component"),
        )
    )


def _union_find_labels(e: DataFrame) -> DataFrame:
    """(node, component) of a materialized (u < v) edge set, computed
    on the driver: collect through Arrow, min-root union-find with path
    halving (every root is its component's minimum), and hand the
    labels back as a local relation with the input's id type."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    edges = e.toArrow()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(edges.column("u").to_pylist(), edges.column("v").to_pylist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    labels = [find(n) for n in nodes]
    arrow_type = edges.schema.field("u").type
    id_type = e.schema["u"].dataType
    return e.sparkSession.createDataFrame(
        pa.table(
            {
                "node": pa.array(nodes, type=arrow_type),
                "component": pa.array(labels, type=arrow_type),
            }
        ),
        StructType([StructField("node", id_type), StructField("component", id_type)]),
    )


def verify_candidates(
    sh: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    assume_pair_distinct: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification restricted to LSH survivors, scoped
    to candidate PAIRS (r11): the common-shingle count joins each
    pair's left-side shingles through the (doc_b, h) equi-join, so
    the intermediate is Σ_pairs |shingles(doc_a)| — LINEAR in the
    candidate list × doc length. The previous shape (shrink shingles
    to candidate DOCS, then all-pairs-by-shingle among them) was
    quadratic in disguise: any shingle shared by many candidate docs
    (boilerplate, near-dup families) re-exploded every doc pair
    sharing it before the final pair filter — the sf1 checkpoint
    measured q73 at 15.2× for 10× data from exactly this, with the
    band join itself fully linear. Same output, pair-bounded cost.

    PRECONDITION (enforced below): the pair-scoped common-shingle
    count requires ``cand`` to be pair-DISTINCT — a duplicated
    (doc_a, doc_b) row doubles the common count ``c`` while
    ``na``/``nb`` stay fixed, inflating the jaccard (the old join-back
    shape was duplicate-tolerant; this one is not). By default the
    pair list is defensively distinct-ed here; callers whose
    candidates are distinct BY CONSTRUCTION (``lsh_candidates`` ends
    in a materialized ``.distinct()``; the prefix join now routes
    through ``prefix_candidates``'s groupBy-distinct and verifies via
    ``verify_candidates_sets`` instead of this function) pass
    ``assume_pair_distinct=True`` to skip the redundant shuffle —
    on the LOSSLESS candidate lists that re-shuffle is not cheap: the
    unconditional form cost the q129 scoreboard 96.7 → 242 s at sf1
    (three verify pipelines, each re-distincting an already-distinct
    checkpointed pair table)."""
    if not assume_pair_distinct:
        cand = cand.select("doc_a", "doc_b").distinct()
    cand_docs = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # shrink the shingle table to candidate docs FIRST (broadcast
    # semi-join — linear, and it thins the pair-scoped joins' build
    # sides), but never re-enumerate pairs from the shrunk table
    sh_c = sh.join(F.broadcast(cand_docs), id_col, "left_semi")
    cand_sizes = cand_docs.join(
        sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n")), id_col
    )
    sa = sh_c.select(F.col(id_col).alias("doc_a"), "h")
    sb = sh_c.select(F.col(id_col).alias("doc_b"), "h")
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = cand_sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n").alias("na")
    )
    nb = cand_sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n").alias("nb")
    )
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def verify_candidates_sets(
    sh: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-Jaccard verification on candidate pairs via per-document
    shingle-hash SETS: each candidate doc's hashes aggregate once into
    a sorted array, the pair table joins the two arrays on, and
    ``array_intersect`` computes the common count JVM-side. Work is
    Σ_pairs (na + nb) — the same asymptotic as the pair-scoped
    row-join in ``verify_candidates`` — but the shuffle is |cand| rows
    of packed arrays instead of Σ_pairs |shingles(doc_a)| exploded
    rows (the r12 q105 profile: 1.8 M candidates × ~52 shingles ≈
    92 M join rows → 1.8 M array rows, 5× wall-time).

    SEMANTICS: set Jaccard on the DISTINCT (doc, h) pairs. Identical
    to the row-based multiset form unless two of a document's distinct
    shingles collide into one 48-bit hash (~n²/2⁴⁹ per doc); callers'
    oracles must dedupe the same way (``SELECT DISTINCT doc_id, h``).

    SCALE BOUND: one array row per candidate document — fine while
    per-doc shingle counts are document-sized (chunked corpora); a
    pathological million-shingle document makes an 8 MB row, where the
    row-based ``verify_candidates`` degrades more gracefully."""
    cand_docs = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    doc_sets = (
        sh.join(F.broadcast(cand_docs), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("h")).alias("hs"))
        .withColumn("n", F.size("hs"))
    )
    sa = doc_sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("na"),
    )
    sb = doc_sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                c.cast("double") / (F.col("na") + F.col("nb") - c)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame, text_col: str, id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """16-bit (default) SimHash fingerprint per document: md5-derived
    token hashes vote ±1 per bit, the majority sign survives. One
    explode + one grouped aggregate; AQE sizes the shuffle."""
    toks = docs.select(
        id_col, F.explode(F.array_distinct(F.split(text_col, " "))).alias("w")
    )
    hashed = toks.select(id_col, F.expr(H48.format(c="w")).alias("h"))
    n = F.count(F.lit(1))
    fingerprint = None
    for b in range(bits):
        bit_sum = F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)))
        term = F.when(2 * bit_sum > n, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return hashed.groupBy(id_col).agg(fingerprint.alias(f"simhash{bits}"))


def span_occurrences(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 4
) -> DataFrame:
    """(id, wpos, h): EVERY n-word span occurrence with its 1-based
    start word position and 48-bit span hash — positional and NOT
    distinct, unlike ``shingle_hashes``: cross-doc span REMOVAL needs
    every occurrence's location, not the per-doc span set. Narrow
    (split + posexplode per row); rows carry a long key so every
    downstream shuffle is fixed-width."""
    span_expr = f"""
    CASE WHEN size(toks) >= {n} THEN
      transform(
        sequence(1, size(toks) - {n - 1}),
        i -> named_struct('wpos', i, 's', concat_ws(' ', slice(toks, i, {n})))
      )
    ELSE cast(array() as array<struct<wpos: int, s: string>>) END
    """
    # same pre-explode spread as shingle_hashes (r13): the ~n-per-row
    # span fan-out plus one md5 per span dwarf the text bytes the scan
    # split sizing budgets — at sf0.1 the whole span hash ran on the
    # scan's single split
    from portfolio1_etl_spark.parallelism import spread_rows

    return (
        spread_rows(docs)
        .withColumn("toks", F.split(text_col, " "))
        .select(id_col, F.explode(F.expr(span_expr)).alias("sp"))
        .select(
            id_col,
            F.col("sp.wpos").alias("wpos"),
            F.expr(H48.format(c="sp.s")).alias("h"),
        )
    )


def repeated_spans(occ: DataFrame, min_docs: int = 2, id_col: str = "doc_id") -> DataFrame:
    """(h): span hashes occurring in ≥ ``min_docs`` DISTINCT documents
    — the cross-doc boilerplate set (repeated licence headers,
    navigation chrome, templated paragraphs). Distinct-before-count so
    within-doc repetition (q96's signal) cannot promote a span; one
    aggregate shuffle on the long hash."""
    return (
        occ.select(id_col, "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("span_df"))
        .filter(F.col("span_df") >= min_docs)
        .select("h")
    )


def remove_repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-doc repeated-span dedup (the corpus-scale variant of
    Lee et al.'s repeated-substring removal, word-granular): every
    word covered by ANY span shared by ≥ ``min_docs`` docs is removed;
    output is (id, text_clean, n_words, n_removed).

    Scale shape — everything is linear in total occurrences, never
    quadratic in documents sharing a span (the trap exact-dup pair
    enumeration has): occurrences ⋈ repeated-set is an equi-join on a
    long hash (AQE skew-split handles a span present in ~every doc —
    skew-stress-tested), covered positions explode n rows per hit,
    and the rebuild is one per-doc aggregate + a narrow filter over
    the original token array. No collect, no all-pairs."""
    occ = span_occurrences(docs, text_col, id_col, n)
    rep = repeated_spans(occ, min_docs, id_col)
    covered = (
        occ.join(rep, "h")
        .select(id_col, F.explode(F.expr(f"sequence(wpos, wpos + {n - 1})")).alias("wpos"))
        .distinct()
    )
    cov_per_doc = covered.groupBy(id_col).agg(
        F.sort_array(F.collect_list("wpos")).alias("__cov")
    )
    kept_words = (
        "transform(filter(transform(split({t}, ' '), (bw, bi) -> "
        "named_struct('w', bw, 'p', bi + 1)), "
        "bs -> __cov is null or not array_contains(__cov, bs.p)), bs -> bs.w)"
    ).format(t=text_col)
    # the rebuild side is spread too (r13): the kept-words transform
    # re-tokenizes and filters every document's token array — per-row
    # work far above the text bytes, single-split at sf0.1 otherwise
    from portfolio1_etl_spark.parallelism import spread_rows

    return (
        spread_rows(docs)
        .join(cov_per_doc, id_col, "left")
        .select(
            id_col,
            F.concat_ws(" ", F.expr(kept_words)).alias("text_clean"),
            F.size(F.split(text_col, " ")).cast("long").alias("n_words"),
            F.coalesce(F.size("__cov"), F.lit(0)).cast("long").alias("n_removed"),
        )
    )
