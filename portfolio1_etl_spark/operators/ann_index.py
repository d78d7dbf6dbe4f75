"""Persisted IVF ANN index — build/query separation over plain
parquet, with Spark-native partition pruning as the probe mechanism.

An ANN index in Spark terms is nothing exotic: centroids are a tiny
parquet table, and the corpus is a parquet dataset PARTITIONED BY
CELL. Querying then probes only the n_probe nearest cells per query —
and because the cell is a partition column joined against a small
probe table, Spark's dynamic partition pruning (DPP) drops the
unprobed partitions at the SCAN: a 1000-cell index at 100 TB reads
only the probed directories, no bespoke index format required. The
directory layout is also exactly what an incremental ingest appends
to (new vectors assign + append to their cell partition).

Build reuses the oracle-checked k-means machinery
(operators/clustering.py: folded-argmin assignment, sampled training,
checkpoint modes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from portfolio1_etl_spark.catalog import read_parquet
from portfolio1_etl_spark.operators.clustering import assign_cells, lloyd_kmeans
from portfolio1_etl_spark.operators.similarity import DOT, cosine

#: L2 norm recomputed from the assignment's pass-through ``v`` — the
#: EXACT expression ``with_norms`` uses, so the persisted value is
#: bit-identical to the one a join back to the input would fetch,
#: without the corpus-sized self-join on vec_id that join costs at
#: scale (r13: each index build/ingest/rebalance paid one full-corpus
#: equi-join purely to re-attach a value derivable in the narrow map).
_NRM = "sqrt(" + DOT.format(a="v", b="v") + ")"


def _with_nrm(assigned: DataFrame) -> DataFrame:
    return assigned.select("vec_id", "v", "cell").withColumn(
        "nrm", F.expr(_NRM)
    ).select("vec_id", "v", "nrm", "cell")


def _current_gen(spark: SparkSession, path: str) -> int | None:
    """Committed generation number from ``{path}/_current``, or None
    when the index is not generational (or not built yet)."""
    from portfolio1_etl_spark.operators.sinks import _read_small_file

    txt = _read_small_file(spark, f"{path}/_current")
    return None if txt is None else int(txt.strip())


def _set_current_gen(
    spark: SparkSession, path: str, n: int, expect: int | None = None
) -> None:
    """The generational index's COMMIT POINT: the shared one-file
    atomic commit (``sinks._write_small_file_atomic`` — the same
    protocol as manifest commits, centralized so a store-specific fix
    lands everywhere at once). The flip is an ATOMIC OVERWRITE rename
    (r9): there is no delete-then-create window in which a concurrent
    reader finds the pointer absent — readers resolve the previous,
    complete generation until the instant the new one commits.

    ``expect`` guards the flip against a concurrent rebalancer: if
    the committed generation is no longer the one this writer built
    against, the flip aborts with ``ConcurrentCommitError`` instead
    of silently replacing the other writer's commit. (The build step
    already collides loudly — two rebalancers of the same generation
    contend on the same ``gen=N+1`` errorifexists write — so the
    expect check closes the remaining read-to-flip window.)"""
    from portfolio1_etl_spark.operators.sinks import (
        ConcurrentCommitError,
        _write_small_file_atomic,
    )

    if expect is not None:
        cur = _current_gen(spark, path)
        if cur != expect:
            raise ConcurrentCommitError(
                f"index {path} moved to gen={cur} while this rebalance "
                f"built against gen={expect}; refusing to clobber"
            )
    _write_small_file_atomic(spark, f"{path}/_current", str(n))


def _index_root(spark: SparkSession, path: str) -> str:
    """Data root for the index at ``path``: the path itself for the
    flat legacy layout (``{path}/centroids`` exists), else the
    generation directory the ``_current`` pointer commits."""
    from portfolio1_etl_spark.operators.sinks import _hadoop_fs

    fs, _ = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/centroids")):
        return path
    gen = _current_gen(spark, path)
    if gen is None:
        raise FileNotFoundError(f"no IVF index at {path}")
    return f"{path}/gen={gen}"


def build_ivf_index(
    vecs: DataFrame,
    path: str,
    k: int = 8,
    iters: int = 3,
    train_fraction: float | None = None,
    checkpoint_mode: str = "local",
    generational: bool = False,
) -> None:
    """Train a k-cell codebook on ``vecs`` (vec_id, v, nrm — from
    ``with_norms``) and persist the index:

    - ``{root}/centroids`` — the codebook (c_id, cvec), one tiny file;
    - ``{root}/vectors``   — (vec_id, v, nrm) partitioned by ``cell``.

    ``generational=True`` (r8) roots the data under ``{path}/gen=0``
    and commits it by writing the one-file ``{path}/_current`` pointer
    LAST — the object-store-safe layout: ``rebalance_index`` then
    replaces the index by building ``gen=N+1`` and atomically flipping
    the pointer, never renaming a directory (renames are non-atomic
    copy+delete on S3-style stores). Readers resolve through the
    pointer, so they see the old complete index until the instant the
    new one is fully committed. The flat legacy layout stays the
    default and keeps its in-place swap semantics."""
    if generational:
        spark = vecs.sparkSession
        from portfolio1_etl_spark.operators.sinks import _hadoop_fs

        fs, _ = _hadoop_fs(spark, path)
        jvm = spark.sparkContext._jvm
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/centroids")):
            raise ValueError(
                f"{path} already holds a flat-layout index; readers "
                "resolve the flat layout first, so a generational "
                "build there would be invisible — build into a new "
                "path or delete the flat index explicitly"
            )
        if _current_gen(spark, path) is not None:
            raise ValueError(
                f"{path} already holds a generational index; use "
                "rebalance_index to rebuild it (a second build would "
                "overwrite a generation the pointer may reference)"
            )
    root = f"{path}/gen=0" if generational else path
    assigned, cent = lloyd_kmeans(
        vecs, k=k, iters=iters, train_fraction=train_fraction,
        checkpoint_mode=checkpoint_mode,
    )
    # the two persisted outputs are independent of each other — submit
    # both writes concurrently so the tiny codebook write back-fills
    # the full-corpus vector write's schedule (guide §2.6) instead of
    # serializing another driver round-trip in front of it
    from portfolio1_etl_spark.parallelism import overlap_jobs

    overlap_jobs(
        lambda: cent.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{root}/centroids"),
        lambda: _with_nrm(assigned)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{root}/vectors"),
    )
    if generational:
        _set_current_gen(vecs.sparkSession, path, 0)


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    n_probe: int = 3,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` cosine neighbors per query (query_id, neighbor_id,
    sim, rank), scanning ONLY the ``n_probe`` nearest cells per query:
    the probe table (a few rows) joins the index on its PARTITION
    column, so DPP prunes every unprobed cell directory at the scan —
    plan-asserted in tests/test_ann_index.py. With n_probe = #cells
    the result equals the exact brute force (also asserted)."""
    path = _index_root(spark, path)
    cent = read_parquet(spark, f"{path}/centroids")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    # per-query cell ranking: queries × centroids is tiny on both
    # sides. 6 dp rounding before the rank is the package's shared
    # cross-engine determinism recipe (clustering.BEST_CELL) — the
    # q135 oracle replays this ranking in DuckDB.
    d2 = F.expr(
        "round(aggregate(zip_with(qv, cvec, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, x) -> acc + x), 6)"
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "qnrm", "c_id", d2.alias("d2"))
        .withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("d2", "c_id")
            ),
        )
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "qv", "qnrm", F.col("c_id").alias("cell"))
    )
    vectors = read_parquet(spark, f"{path}/vectors")
    cand = vectors.join(probes, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = cosine("qv", "v", "qnrm", "nrm")
    ranked = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim")
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k)


def cell_stats(spark: SparkSession, path: str) -> tuple[int, float]:
    """(n_cells, skew) for the persisted index, where skew = largest
    cell / mean cell size — the maintenance trigger metric. A freshly
    trained index sits near 1–2; skewed incremental arrivals push the
    hot cell's share up and narrow-probe recall down (queries near the
    hot region burn their whole probe budget on one overgrown cell)."""
    sizes = (
        read_parquet(spark, f"{_index_root(spark, path)}/vectors")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            (F.max("n") / F.avg("n")).alias("skew"),
        )
        .collect()[0]
    )
    return int(sizes["n_cells"]), float(sizes["skew"])


def rebalance_index(
    spark: SparkSession,
    path: str,
    k: int = 8,
    iters: int = 3,
    train_fraction: float | None = None,
    skew_threshold: float | None = None,
    checkpoint_mode: str = "local",
) -> bool:
    """Index maintenance: re-train the codebook on the CURRENT vector
    population and rewrite the cell layout, restoring the narrow-probe
    recall that drifting/skewed ingest erodes (``ingest_vectors``
    appends against a frozen codebook forever — cells overgrow, the
    probe budget concentrates, recall decays). Returns True if the
    index was rewritten, False if ``skew_threshold`` was given and the
    current skew is below it (cheap no-op — the scheduled-maintenance
    calling pattern: probe ``cell_stats`` every run, pay the rewrite
    only when drift actually accumulated).

    Design: full sample-retrain + single-pass rewrite, NOT a partial
    reshard of overgrown cells. Retraining moves every centroid, so
    under a partial reshard the untouched cells would hold vectors
    that are no longer nearest their centroid — silently eroding the
    exact property this op exists to restore. The costs stay bounded
    the same way the build's do: training runs on a hash sample
    (``train_fraction``), reassignment is the zero-shuffle folded
    argmin, and the rewrite is one partitioned pass over the index —
    the parquet-lake analogue of OPTIMIZE/CLUSTER BY maintenance.

    Crash safety, two layouts:

    - GENERATIONAL index (``build_ivf_index(generational=True)``, r8):
      the new index builds completely under ``gen=N+1`` and commits by
      atomically rewriting the one-file ``_current`` pointer — NO
      directory rename anywhere, so the protocol is safe on object
      stores where directory renames are non-atomic copy+delete. A
      crash before the flip leaves readers on the old complete
      generation and an invisible orphan directory the next rebalance
      sweeps; the old generation is deleted only after the flip.
    - FLAT legacy layout: staged build + live→backup→live renames
      (compact_parquet's protocol) with repair-first recovery. Renames
      are atomic on HDFS/local only — the generational layout is the
      object-store upgrade path.

    Single-writer assumed; in-flight queries hold file lists, so run
    it in the maintenance window like any layout rewrite."""
    from portfolio1_etl_spark.operators.sinks import _hadoop_fs

    fs, _ = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path

    # layout detection: the pointer file is authoritative for the
    # generational layout; everything else is flat — and the flat
    # crash REPAIR must run before concluding anything from a missing
    # centroids directory (a flat swap that crashed between its
    # renames has no live centroids until the backup restores)
    gen = _current_gen(spark, path)

    if gen is not None:
        # sweep every generation the pointer does not reference: the
        # uncommitted next generation of a crash-before-flip AND the
        # stale old generation of a crash-after-flip (which would
        # otherwise leak a full index copy forever)
        import re as _re

        for st in fs.listStatus(Path(path)):
            name = st.getPath().getName()
            m = _re.fullmatch(r"gen=(\d+)", name)
            if m and st.isDirectory() and int(m.group(1)) != gen:
                fs.delete(st.getPath(), True)
    else:
        # flat layout: repair a crashed prior swap attempt first
        live = {n: Path(f"{path}/{n}") for n in ("centroids", "vectors")}
        staged = {
            n: Path(f"{path}/{n}._rebalancing") for n in ("centroids", "vectors")
        }
        backup = {
            n: Path(f"{path}/{n}._prebalance") for n in ("centroids", "vectors")
        }
        for n in ("centroids", "vectors"):
            if fs.exists(backup[n]):
                if fs.exists(live[n]):
                    fs.delete(backup[n], True)
                else:  # crashed mid-swap: restore the old index
                    if not fs.rename(backup[n], live[n]):
                        raise IOError(
                            f"crash repair failed: could not restore {n} "
                            f"from backup at {path}"
                        )
            if fs.exists(staged[n]):
                fs.delete(staged[n], True)
        if not fs.exists(live["centroids"]):
            raise FileNotFoundError(f"no IVF index at {path}")

    if skew_threshold is not None:
        _, skew = cell_stats(spark, path)
        if skew < skew_threshold:
            return False

    root = path if gen is None else f"{path}/gen={gen}"
    vecs = read_parquet(spark, f"{root}/vectors").select("vec_id", "v", "nrm")
    assigned, cent = lloyd_kmeans(
        vecs, k=k, iters=iters, train_fraction=train_fraction,
        checkpoint_mode=checkpoint_mode,
    )
    rebuilt = _with_nrm(assigned)
    if gen is not None:
        new_root = f"{path}/gen={gen + 1}"
        cent.coalesce(1).write.mode("errorifexists").parquet(
            f"{new_root}/centroids"
        )
        rebuilt.write.mode("errorifexists").partitionBy("cell").parquet(
            f"{new_root}/vectors"
        )
        # the commit point; expect= pins the generation this rebuild
        # read from — a concurrent flip aborts loudly, never clobbers
        _set_current_gen(spark, path, gen + 1, expect=gen)
        fs.delete(Path(f"{path}/gen={gen}"), True)
        return True
    cent.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids._rebalancing")
    rebuilt.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/vectors._rebalancing"
    )
    for n in ("centroids", "vectors"):
        # Hadoop FileSystem.rename reports failure by RETURNING FALSE —
        # an unchecked call would "commit" a swap that never happened
        if not fs.rename(live[n], backup[n]):
            raise IOError(f"swap failed: could not back up live {n} at {path}")
        if not fs.rename(staged[n], live[n]):
            raise IOError(f"swap failed: could not promote staged {n} at {path}")
    for n in ("centroids", "vectors"):
        fs.delete(backup[n], True)
    return True


def ingest_vectors(
    spark: SparkSession, path: str, new_vecs: DataFrame
) -> None:
    """Incremental index ingest: assign arriving vectors to their cell
    against the FROZEN persisted codebook (broadcast, narrow map) and
    APPEND them to their cell partitions — no rebuild, no touch of
    existing data. The standard IVF maintenance contract: cells drift
    as the distribution moves, recall degrades gracefully, and a
    periodic :func:`rebalance_index` (trigger on :func:`cell_stats`
    skew) restores it; queries are oblivious either way. On a
    generational index the append lands inside the CURRENT generation
    (each appended part file is whole, so concurrent readers see a
    consistent prefix of the ingest — the same contract as the flat
    layout)."""
    root = _index_root(spark, path)
    cent = read_parquet(spark, f"{root}/centroids")
    assigned = assign_cells(new_vecs.select("vec_id", "v"), cent)
    (
        _with_nrm(assigned)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{root}/vectors")
    )


def ingest_vectors_ivfpq(
    spark: SparkSession, path: str, new_vecs: DataFrame
) -> None:
    """Incremental ingest into the COMPOSED IVF-PQ layout (r12 — the
    :func:`ingest_vectors` contract extended to both halves): arriving
    vectors assign to their IVF cell against the frozen ``centroids``
    AND encode to byte codes against the frozen ``pq_codebook`` (both
    broadcast narrow maps), then append to the ``codes`` and
    ``vectors`` cell partitions — no rebuild, existing files
    untouched, probes answer mid-ingest over mixed built+ingested
    partitions. Codebook drift is the same accepted trade as the
    plain-IVF ingest: recall degrades gracefully until a rebuild
    re-trains both codebooks. Sub-vector geometry (n_sub, sub_dim)
    reads off the persisted PQ codebook itself, so callers can't
    desync it from the build."""
    from portfolio1_etl_spark.operators.pq import _assign, split_subspaces

    cent = read_parquet(spark, f"{path}/centroids")
    pq_cent = read_parquet(spark, f"{path}/pq_codebook")
    n_sub, sub_dim = (
        pq_cent.selectExpr(
            "max(sub) + 1 AS ns", "max(size(cvec)) AS sd"
        ).first()
    )
    assigned = assign_cells(new_vecs.select("vec_id", "v"), cent)
    cells = assigned.select("vec_id", "cell")
    sub = split_subspaces(new_vecs, int(n_sub), int(sub_dim))
    codes = _assign(sub, pq_cent, "vec_id").select("vec_id", "sub", "code")
    # the two appends land in independent directories — overlapped
    # driver actions (guide §2.6), same as the build's write pair
    from portfolio1_etl_spark.parallelism import overlap_jobs

    overlap_jobs(
        lambda: codes.join(cells, "vec_id")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/codes"),
        lambda: _with_nrm(assigned)
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/vectors"),
    )


def build_ivfpq_index(
    vecs: DataFrame,
    path: str,
    k_cells: int = 8,
    iters: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_cent: int = 16,
    checkpoint_mode: str = "local",
) -> None:
    """The COMPOSED billion-vector layout (r11 — faiss's IVF-PQ): the
    IVF half partitions the corpus into cells (this module's DPP probe
    mechanism), the PQ half compresses every vector to one byte-code
    per subspace (operators/pq.py's 64× compression) — so a probe
    scans only n_probe cell directories AND reads only byte codes
    there, touching full floats for nothing but the final shortlist
    re-rank. Persisted layout:

    - ``{root}/centroids``   — IVF codebook (c_id, cvec), tiny;
    - ``{root}/pq_codebook`` — per-subspace PQ codebook (sub, c_id,
      cvec), tiny (n_sub·n_cent rows);
    - ``{root}/codes``       — (vec_id, sub, code) partitioned by
      ``cell`` — the ADC scan's input, 1 byte of payload per
      (vector, subspace);
    - ``{root}/vectors``     — (vec_id, v, nrm) partitioned by
      ``cell`` — read only by the shortlist re-rank, DPP-pruned to
      the probed cells.

    PQ trains on the raw vectors with a codebook SHARED across cells
    (the residual-encoding variant is a quality refinement, not a
    layout change). Training cost: one grouped Lloyd per half; at
    100 TB both train on a hash sample (``train_fraction`` of the
    underlying k-means) while encoding covers the full corpus."""
    from portfolio1_etl_spark.operators.pq import (
        _assign,
        split_subspaces,
        train_codebook,
    )

    from portfolio1_etl_spark.parallelism import overlap_jobs

    # The two halves train independently (IVF on raw vectors, PQ on
    # subspaces) and every persisted output is write-independent, so
    # the driver overlaps them (guide §2.6): [IVF kmeans ‖ PQ train],
    # then [centroids ‖ pq_codebook writes] fold into each half's
    # thunk, then [codes ‖ vectors writes]. Sequentially this build
    # paid ~6 driver-serialized action groups; overlapped it pays the
    # longest chain (PQ train → encode → codes write).
    def _ivf_half():
        assigned, cent = lloyd_kmeans(
            vecs, k=k_cells, iters=iters, checkpoint_mode=checkpoint_mode
        )
        cent.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        return assigned

    def _pq_half():
        sub = split_subspaces(vecs, n_sub, sub_dim)
        pq_cent = train_codebook(sub, n_cent, checkpoint_mode=checkpoint_mode)
        pq_cent.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/pq_codebook"
        )
        return _assign(sub, pq_cent, "vec_id").select("vec_id", "sub", "code")

    assigned, codes = overlap_jobs(_ivf_half, _pq_half)
    cells = assigned.select("vec_id", "cell")
    overlap_jobs(
        lambda: codes.join(cells, "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes"),
        lambda: _with_nrm(assigned)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors"),
    )


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    n_probe: int = 3,
    shortlist: int = 32,
    k: int = 3,
    n_sub: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """Top-``k`` cosine neighbors through the IVF-PQ index: rank IVF
    cells per query (broadcast centroid table), join the byte-code
    scan on the PARTITION column so DPP prunes unprobed cell
    directories, ADC-score candidates from the broadcast per-query
    subspace distance table (DECIMAL(18,6) sums — exact,
    order-independent), keep the ``shortlist`` best per query, and
    exact-cosine re-rank only those (full vectors read DPP-pruned from
    the probed cells). Queries must be corpus members carrying
    (vec_id, v, nrm) — the pq_topk precondition."""
    cent = read_parquet(spark, f"{path}/centroids")
    pq_cent = read_parquet(spark, f"{path}/pq_codebook")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    d2 = F.expr(
        "round(aggregate(zip_with(qv, cvec, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, x) -> acc + x), 6)"
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "qnrm", "c_id", d2.alias("d2"))
        .withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("d2", "c_id")
            ),
        )
        .filter(F.col("prn") <= n_probe)
        .select("query_id", F.col("c_id").alias("cell"))
    )
    qsub = q.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice("qv", s * sub_dim + 1, sub_dim).alias("sv"),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("x"),
    ).select("query_id", "x.sub", "x.sv")
    subdist = F.expr(
        "round(aggregate(zip_with(sv, cvec, (a, b) -> (a - b) * (a - b)), "
        "cast(0.0 as double), (acc, x) -> acc + x), 6)"
    )
    qdist = qsub.join(F.broadcast(pq_cent), "sub").select(
        "query_id",
        "sub",
        F.col("c_id").alias("code"),
        subdist.cast("decimal(18,6)").alias("qd"),
    )
    codes = read_parquet(spark, f"{path}/codes")
    adc = (
        codes.join(probes, "cell")
        .join(F.broadcast(qdist), ["query_id", "sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").cast("double").alias("adc"))
    )
    short = (
        adc.withColumn(
            "srn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("adc").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    vectors = read_parquet(spark, f"{path}/vectors")
    # the re-rank reads full vectors ONLY within the probed cells —
    # the same DPP prune as the code scan (shortlist ids live there
    # by construction)
    rerank = (
        vectors.join(probes, "cell")
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(short, ["query_id", "neighbor_id"])
        .join(
            F.broadcast(
                q.select("query_id", "qv", "qnrm")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "v", "qnrm", "nrm").alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
