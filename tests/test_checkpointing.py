"""Lineage truncation: one decision per session.

``checkpointing.materialize`` writes a local checkpoint (executor-local
blocks — fine on the test harness, fatal on a cluster if an executor
dies mid-iteration) unless the SparkContext has a checkpoint directory;
then every materialization is a reliable ``DataFrame.checkpoint`` into
it. These tests pin (1) result equality with and without a directory
for every iterative operator, (2) that with one, iterative operators,
plan-level cuts and streaming folds actually write checkpoint files
(the durability artifact), (3) that the returned plan is a checkpoint
scan, not the unrolled iteration lineage, and (4) that no code outside
``operators/checkpointing.py`` checkpoints on its own.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import materialize

PACKAGE = Path(__file__).resolve().parent.parent / "portfolio1_etl_spark"


def _checkpoint_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files]
    return out


def _lineage(df) -> str:
    return df.rdd.toDebugString().decode()


def test_materialize_local_and_reliable_agree(spark, request):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    loc = materialize(df)
    assert "ReliableCheckpointRDD" not in _lineage(loc)
    d = request.getfixturevalue("ckpt_dir")
    rel = materialize(df)
    assert "ReliableCheckpointRDD" in _lineage(rel)
    assert sorted(r.x for r in loc.collect()) == sorted(r.x for r in rel.collect())
    assert _checkpoint_files(d)


def test_reliable_truncates_lineage_to_checkpoint_files(spark, ckpt_dir):
    df = spark.range(1000)
    for _ in range(3):  # grow some lineage
        df = df.withColumn("id", F.col("id") + 1)
    out = materialize(df)
    # the durability artifact exists on (what would be durable) storage
    files = _checkpoint_files(ckpt_dir)
    assert files, "reliable checkpoint wrote no files"
    # and the plan is a scan of those blocks, not the unrolled lineage
    assert "ReliableCheckpointRDD" in _lineage(out)


def test_get_spark_checkpoint_dir_makes_materialize_reliable(
    spark, tmp_path, monkeypatch, restore_checkpoint_dir
):
    """``get_spark(checkpoint_dir=...)`` and
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` each switch ``materialize`` on the
    session to reliable checkpoints in that directory."""
    from portfolio1_etl_spark import get_spark

    df = spark.range(10)
    # the shared session's own shuffle width, so the rebuild leaves it as is
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    explicit = str(tmp_path / "explicit")
    assert get_spark(shuffle_partitions=width, checkpoint_dir=explicit) is spark
    assert "ReliableCheckpointRDD" in _lineage(materialize(df))
    assert _checkpoint_files(explicit)

    from_env = str(tmp_path / "from_env")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", from_env)
    assert get_spark(shuffle_partitions=width) is spark
    assert "ReliableCheckpointRDD" in _lineage(materialize(df))
    assert _checkpoint_files(from_env)


def test_connected_components_reliable_matches_local(spark, request):
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

    def labels():
        return sorted(map(tuple, dedup.connected_components(pairs).collect()))

    def both():
        with mock.patch.object(dedup, "_DRIVER_FINISH_EDGES", 0):
            star = labels()
        return star, labels()

    want = both()
    d = request.getfixturevalue("ckpt_dir")
    assert both() == want
    assert _checkpoint_files(d)


def test_pagerank_reliable_matches_local(spark, request):
    from portfolio1_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 3, 0.5), (4, 1, 1.0)],
        "src long, dst long, w double",
    )

    def ranks():
        return [
            {
                r.node: r.rank
                for r in pagerank(
                    edges, iters=4, redistribute_dangling=dang
                ).collect()
            }
            for dang in (False, True)
        ]

    want = ranks()
    d = request.getfixturevalue("ckpt_dir")
    assert ranks() == want
    assert _checkpoint_files(d)


def test_kmeans_reliable_matches_local(spark, request):
    from portfolio1_etl_spark.operators.clustering import lloyd_kmeans

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 7) % 11)]) for i in range(60)],
        "vec_id long, v array<double>",
    )

    def fit():
        a, c = lloyd_kmeans(vecs, k=3, iters=3)
        return (
            sorted((r.vec_id, r.cell) for r in a.collect()),
            sorted((r.c_id, tuple(r.cvec)) for r in c.collect()),
        )

    want = fit()
    d = request.getfixturevalue("ckpt_dir")
    assert fit() == want
    assert _checkpoint_files(d)


def test_train_codebook_reliable_matches_local(spark, request):
    from portfolio1_etl_spark.operators.pq import split_subspaces, train_codebook
    from portfolio1_etl_spark.operators.similarity import with_norms

    vecs = with_norms(
        spark.createDataFrame(
            [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
    )
    sub = split_subspaces(vecs, n_sub=2, sub_dim=4)

    def codebook():
        return sorted(
            (r.sub, r.c_id, tuple(r.cvec))
            for r in train_codebook(sub, k=4, iters=3).collect()
        )

    want = codebook()
    d = request.getfixturevalue("ckpt_dir")
    assert codebook() == want
    assert _checkpoint_files(d)


def test_prepare_corpus_reliable_matches_local(spark, sf_dir, request):
    from portfolio1_etl_spark.corpus_pipeline import prepare_corpus

    def decisions():
        res = prepare_corpus(spark, sf_dir, count_rows=False)
        return sorted(map(tuple, res.decisions.collect()))

    want = decisions()
    d = request.getfixturevalue("ckpt_dir")
    assert decisions() == want
    assert _checkpoint_files(d)


def test_plan_cuts_and_stream_folds_write_reliable_checkpoints(
    spark, sf_dir, ckpt_dir, monkeypatch
):
    """With a checkpoint directory, every cut of q243's and q259's
    closures and a streaming fold's state are reliable checkpoints:
    each materialized frame reads a ``ReliableCheckpointRDD`` and each
    caller writes files into the directory."""
    import importlib

    from portfolio1_etl_spark import catalog
    from portfolio1_etl_spark.plans import REGISTRY
    from portfolio1_etl_spark.streaming import cms_maintenance_stream

    cuts = []

    def spy(df):
        cuts.append(materialize(df))
        return cuts[-1]

    def check(label, module, run):
        monkeypatch.setattr(importlib.import_module(module), "materialize", spy)
        before, cuts[:] = set(_checkpoint_files(ckpt_dir)), []
        run()
        assert cuts, f"{label} materialized nothing"
        for out in cuts:
            assert "ReliableCheckpointRDD" in _lineage(out), label
        assert set(_checkpoint_files(ckpt_dir)) - before, f"{label} wrote no files"

    for name in ("q243_transitive_closure", "q259_golden_record"):
        fn = REGISTRY[name].fn
        check(name, fn.__module__, lambda: fn(spark, sf_dir).collect())

    state: dict = {}
    events = catalog.load(spark, sf_dir, "events").select("event_type")
    fold = cms_maintenance_stream(
        spark.readStream.schema("event_type string").parquet(sf_dir), state
    ).epoch_fold
    check("cms fold", fold.__module__, lambda: fold(events, 0))
    assert "ReliableCheckpointRDD" in _lineage(state["sketch"])


def _bypasses(node: ast.AST) -> bool:
    """A checkpoint call, or the name of the removed per-operator knob."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        return node.func.attr in ("localCheckpoint", "checkpoint")
    name = {ast.Name: "id", ast.arg: "arg", ast.keyword: "arg"}.get(type(node))
    return name is not None and getattr(node, name) == "checkpoint_mode"


def test_only_checkpointing_module_checkpoints():
    """No module but ``operators/checkpointing.py`` calls
    ``localCheckpoint``/``checkpoint`` or names ``checkpoint_mode``: the
    local-vs-reliable decision has one home, and a call that bypasses
    it would stay local under a session checkpoint directory. The one
    exception is q269's LAZY candidate cut (``materialize`` is eager)."""
    allowed = {("plans/similarity_ops.py", "q269_mmr_diversified_topk")}
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "operators/checkpointing.py":
            continue
        tree = ast.parse(path.read_text(), filename=rel)
        tops = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not _bypasses(node):
                continue
            owner = next(
                (f.name for f in tops if f.lineno <= node.lineno <= f.end_lineno),
                None,
            )
            if (rel, owner) not in allowed:
                found.add(f"{rel}:{node.lineno}")
    assert not found, f"checkpointing outside its module: {sorted(found)}"
