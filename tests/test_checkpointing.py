"""Reliable-checkpoint mode for iterative operators.

``checkpoint_mode='local'`` (the default everywhere) truncates lineage
with executor-local blocks — fine on the test harness, fatal on a
cluster if an executor dies mid-iteration. ``'reliable'`` routes the
same materializations through ``DataFrame.checkpoint`` into the
SparkContext checkpoint dir. These tests pin (1) result equality
between the two modes for every iterative operator, (2) that reliable
mode actually writes checkpoint files (the durability artifact), and
(3) that the returned plan is a checkpoint scan, not the unrolled
iteration lineage.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import (
    ensure_checkpoint_dir,
    materialize,
)


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    """Point the context at a fresh checkpoint dir for each test and
    restore nothing after — the next test overwrites it."""
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    yield d


def _checkpoint_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files]
    return out


def test_materialize_modes_and_errors(spark, ckpt_dir):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    loc = materialize(df, "local")
    rel = materialize(df, "reliable")
    assert sorted(r.x for r in loc.collect()) == sorted(r.x for r in rel.collect())
    with pytest.raises(ValueError, match="checkpoint_mode"):
        materialize(df, "durable")


def test_reliable_truncates_lineage_to_checkpoint_files(spark, ckpt_dir):
    df = spark.range(1000)
    for _ in range(3):  # grow some lineage
        df = df.withColumn("id", F.col("id") + 1)
    out = materialize(df, "reliable")
    # the durability artifact exists on (what would be durable) storage
    files = _checkpoint_files(ckpt_dir)
    assert files, "reliable checkpoint wrote no files"
    # and the plan is a scan of those blocks, not the unrolled lineage
    debug = out.rdd.toDebugString().decode()
    assert "ReliableCheckpointRDD" in debug


def test_ensure_checkpoint_dir_precedence(spark, tmp_path):
    explicit = str(tmp_path / "explicit")
    spark.sparkContext.setCheckpointDir(explicit)
    got = ensure_checkpoint_dir(spark)
    # Spark appends a per-context UUID subdir under the configured root
    assert "explicit" in got


def test_connected_components_reliable_matches_local(spark, ckpt_dir):
    """Bound 0 keeps the distributed star rounds (and their observed
    per-round counts) under the reliable checkpoint; the default bound
    checks that the driver finish reads a reliable checkpoint the same
    way."""
    from unittest import mock

    from portfolio1_etl_spark.operators import dedup

    # two cliques + a chain bridge — enough structure for >1 round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)],
        "doc_a long, doc_b long",
    )

    def labels(mode):
        return sorted(
            map(tuple, dedup.connected_components(pairs, checkpoint_mode=mode).collect())
        )

    with mock.patch.object(dedup, "_DRIVER_FINISH_EDGES", 0):
        assert labels("reliable") == labels("local")
    assert labels("reliable") == labels("local")
    assert _checkpoint_files(ckpt_dir)


def test_pagerank_reliable_matches_local(spark, ckpt_dir):
    from portfolio1_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 3, 0.5), (4, 1, 1.0)],
        "src long, dst long, w double",
    )
    for dang in (False, True):
        want = {
            r.node: r.rank
            for r in pagerank(
                edges, iters=4, redistribute_dangling=dang, checkpoint_mode="local"
            ).collect()
        }
        got = {
            r.node: r.rank
            for r in pagerank(
                edges, iters=4, redistribute_dangling=dang, checkpoint_mode="reliable"
            ).collect()
        }
        assert got == want
    assert _checkpoint_files(ckpt_dir)


def test_kmeans_reliable_matches_local(spark, ckpt_dir):
    from portfolio1_etl_spark.operators.clustering import lloyd_kmeans

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 7) % 11)]) for i in range(60)],
        "vec_id long, v array<double>",
    )
    a_loc, c_loc = lloyd_kmeans(vecs, k=3, iters=3, checkpoint_mode="local")
    a_rel, c_rel = lloyd_kmeans(vecs, k=3, iters=3, checkpoint_mode="reliable")
    assert sorted((r.vec_id, r.cell) for r in a_loc.collect()) == sorted(
        (r.vec_id, r.cell) for r in a_rel.collect()
    )
    assert sorted((r.c_id, tuple(r.cvec)) for r in c_loc.collect()) == sorted(
        (r.c_id, tuple(r.cvec)) for r in c_rel.collect()
    )
    assert _checkpoint_files(ckpt_dir)


def test_train_codebook_reliable_matches_local(spark, ckpt_dir):
    from portfolio1_etl_spark.operators.pq import split_subspaces, train_codebook
    from portfolio1_etl_spark.operators.similarity import with_norms

    vecs = with_norms(
        spark.createDataFrame(
            [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
    )
    sub = split_subspaces(vecs, n_sub=2, sub_dim=4)
    want = sorted(
        (r.sub, r.c_id, tuple(r.cvec))
        for r in train_codebook(sub, k=4, iters=3, checkpoint_mode="local").collect()
    )
    got = sorted(
        (r.sub, r.c_id, tuple(r.cvec))
        for r in train_codebook(
            sub, k=4, iters=3, checkpoint_mode="reliable"
        ).collect()
    )
    assert got == want
    assert _checkpoint_files(ckpt_dir)


def test_prepare_corpus_reliable_matches_local(spark, sf_dir, ckpt_dir):
    from portfolio1_etl_spark.corpus_pipeline import prepare_corpus

    loc = prepare_corpus(spark, sf_dir, count_rows=False, checkpoint_mode="local")
    rel = prepare_corpus(spark, sf_dir, count_rows=False, checkpoint_mode="reliable")
    want = sorted(map(tuple, loc.decisions.collect()))
    got = sorted(map(tuple, rel.decisions.collect()))
    assert got == want
    assert _checkpoint_files(ckpt_dir)
