"""The manifest chain's one optimistic commit (``_commit_with_retry``):
refused writes leave no staging behind, every mutation kind survives a
lost race by re-deriving against the intruder's version, every kind
gives up loudly after ``_COMMIT_RETRIES`` lost races without leaking
staging, and each commit kind keeps its manifest key set."""

from __future__ import annotations

import json
import os

import pytest

from portfolio1_etl_spark.operators import sinks
from portfolio1_etl_spark.operators.sinks import (
    ConcurrentCommitError,
    add_chain_constraint,
    analyze_chain,
    clone_chain,
    compact_versioned,
    delete_from_chain,
    drop_chain_constraint,
    read_changes,
    read_version,
    upsert_into_chain,
    write_versioned,
)


def _mk(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _orphan_staging(spark, path) -> set[str]:
    """``_staging/`` token directories and parquet files that no
    committed manifest references."""
    rels = set()
    for n in sinks._versions(spark, path):
        man = sinks._read_manifest(spark, path, n)
        rels |= set(man["files"] + man["changes"])
        rels |= {e["path"] for e in man.get("row_deletes") or []}
    tokens = {r.split("/")[1] for r in rels if r.startswith("_staging/")}
    sdir = os.path.join(path, "_staging")
    orphans = set()
    for root, dirs, files in os.walk(sdir):
        if root == sdir:
            orphans |= {f"_staging/{d}" for d in dirs if d not in tokens}
        rel_root = os.path.relpath(root, path)
        orphans |= {
            f"{rel_root}/{f}"
            for f in files
            if f.endswith(".parquet") and f"{rel_root}/{f}" not in rels
        }
    return orphans


@pytest.fixture()
def chain(spark, tmp_path):
    path = str(tmp_path / "chain")
    write_versioned(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]),
        path,
        manifest=True,
        capture_changes=True,
    )
    return path


# --- refusals clean their staging ---------------------------------------------


def _snapshot_check(spark, path):
    add_chain_constraint(spark, path, name="v_set", check="v IS NOT NULL")
    write_versioned(_mk(spark, [(9, None)]), path)


def _upsert_check(spark, path):
    add_chain_constraint(spark, path, name="k_pos", check="k > 0")
    upsert_into_chain(spark, path, _mk(spark, [(-1, "x")]), ["k"])


def _upsert_narrowing(spark, path):
    upsert_into_chain(spark, path, _mk(spark, [(1, "x")], "k smallint, v string"), ["k"])


def _upsert_schema(spark, path):
    upsert_into_chain(spark, path, _mk(spark, [(1, "x", 2)], "k int, v string, w int"), ["k"])


@pytest.mark.parametrize(
    "refused, match",
    [
        (_snapshot_check, r"snapshot write violates chain constraints \['CHECK v_set'\]"),
        (_upsert_check, r"upsert source violates chain constraints \['CHECK k_pos'\]"),
        (_upsert_narrowing, "not a type-widening promotion"),
        (_upsert_schema, "upsert source schema must match the chain"),
    ],
    ids=["snapshot-check", "upsert-check", "upsert-narrowing", "upsert-schema"],
)
def test_refused_write_removes_its_staging(spark, chain, refused, match):
    """A write refused after staging (constraint violation, narrowing
    type change, schema mismatch) raises its original error, commits
    nothing and leaves no unreferenced ``_staging/`` directory — the
    staged input used to stay behind until a vacuum."""
    with pytest.raises(ValueError, match=match):
        refused(spark, chain)
    assert _rows(read_version(spark, chain)) == [(1, "a"), (2, "b"), (3, "c")]
    assert not _orphan_staging(spark, chain)


# --- lost races ---------------------------------------------------------------

#: intruder snapshot committed inside the mutation's first CAS attempt
_INTRUDER = [(1, "a"), (2, "B"), (4, "d")]

#: mutation kind -> (call, rows after intruder + mutation, retried step feed)
_MUTATIONS = {
    "upsert": (
        lambda spark, p: upsert_into_chain(
            spark, p, _mk(spark, [(2, "x"), (5, "e")]), ["k"]
        ),
        [(1, "a"), (2, "x"), (4, "d"), (5, "e")],
        [(2, "B", "delete"), (2, "x", "insert"), (5, "e", "insert")],
    ),
    "delete": (
        lambda spark, p: delete_from_chain(spark, p, _mk(spark, [(2,)], "k int"), ["k"]),
        [(1, "a"), (4, "d")],
        [(2, "B", "delete")],
    ),
    "compact": (
        lambda spark, p: compact_versioned(spark, p),
        _INTRUDER,
        [],
    ),
}


@pytest.mark.parametrize("kind", sorted(_MUTATIONS))
def test_mutation_retries_after_lost_race(spark, chain, monkeypatch, kind):
    """A snapshot write commits version N inside the mutation's first
    commit call: the mutation's CAS loses, it re-derives against the
    intruder's version and lands at N+1. The intruder's version stays
    intact, the head equals the serial replay (intruder, then
    mutation), the retried step's feed diffs against the intruder's
    rows, and the lost attempt's staging is gone."""
    call, replay, step = _MUTATIONS[kind]
    real = sinks._commit_manifest
    calls = []

    def intruding(*args, **kwargs):
        calls.append(args[2])
        if len(calls) == 1:
            write_versioned(_mk(spark, _INTRUDER), chain, capture_changes=True)
        return real(*args, **kwargs)

    monkeypatch.setattr(sinks, "_commit_manifest", intruding)
    got = call(spark, chain)
    # calls: the mutation's v=1 attempt, the intruder's v=1, the retry
    assert calls == [1, 1, 2] and got == 2
    assert _rows(read_version(spark, chain, 1)) == sorted(_INTRUDER)
    assert _rows(read_changes(spark, chain, 0, 1)) == [
        (2, "B", "insert"),
        (2, "b", "delete"),
        (3, "c", "delete"),
        (4, "d", "insert"),
    ]
    assert _rows(read_version(spark, chain)) == sorted(replay)
    assert _rows(read_changes(spark, chain, 1, 2)) == sorted(step)
    assert not _orphan_staging(spark, chain)


_GIVE_UP = {
    "snapshot": lambda spark, p: write_versioned(_mk(spark, [(7, "g")]), p),
    "upsert": _MUTATIONS["upsert"][0],
    "delete": _MUTATIONS["delete"][0],
    "compact": _MUTATIONS["compact"][0],
    "add-constraint": lambda spark, p: add_chain_constraint(spark, p, not_null=["k"]),
}


@pytest.mark.parametrize("kind", sorted(_GIVE_UP))
def test_mutation_gives_up_after_commit_retries(spark, chain, monkeypatch, kind):
    """Every commit attempt loses: the mutation raises
    ``ConcurrentCommitError`` after exactly ``_COMMIT_RETRIES`` commit
    calls, commits nothing, and leaves no unreferenced staging (each
    lost attempt's files and the writer token directory are
    deleted)."""
    calls = []

    def always_lose(*args, **kwargs):
        calls.append(args[2])
        raise ConcurrentCommitError("simulated lost race")

    monkeypatch.setattr(sinks, "_commit_manifest", always_lose)
    with pytest.raises(ConcurrentCommitError, match="gave up committing"):
        _GIVE_UP[kind](spark, chain)
    assert calls == [1] * sinks._COMMIT_RETRIES
    assert sinks._versions(spark, chain) == [0]
    assert not _orphan_staging(spark, chain)


def test_ambiguous_commit_error_keeps_staging(spark, chain, monkeypatch):
    """An error out of the commit other than a lost race may come after
    the manifest landed (e.g. the tmp-file removal failing after the
    create-exclusive link): the error propagates, nothing is retried,
    and the staged files stay — deleting them would break a committed
    version."""
    real = sinks._commit_manifest
    calls = []

    def landed_then_failed(*args, **kwargs):
        calls.append(args[2])
        real(*args, **kwargs)
        raise OSError("simulated failure after the manifest landed")

    monkeypatch.setattr(sinks, "_commit_manifest", landed_then_failed)
    with pytest.raises(OSError, match="after the manifest landed"):
        write_versioned(_mk(spark, [(7, "g")]), chain, capture_changes=True)
    assert calls == [1]
    assert _rows(read_version(spark, chain, 1)) == [(7, "g")]
    assert _rows(read_changes(spark, chain, 0, 1)) == [
        (1, "a", "delete"),
        (2, "b", "delete"),
        (3, "c", "delete"),
        (7, "g", "insert"),
    ]


class _WriterKilled(BaseException):
    """Stands in for the process dying: not an ``Exception``, so no
    handler meant for errors can swallow it."""


def test_writer_killed_between_staging_and_manifest(spark, chain, monkeypatch):
    """A writer dies after staging its data and feed but before its
    manifest lands: the head, time travel and the change feed read
    exactly as before, the next write commits the version number the
    dead writer was aiming for, and ``vacuum_chain`` deletes exactly
    the dead writer's ``_staging/{token}`` and nothing a manifest
    references."""
    upsert_into_chain(spark, chain, _mk(spark, [(2, "x")]), ["k"])
    head = _rows(read_version(spark, chain))
    feed = _rows(read_changes(spark, chain, 0, 1))
    real = sinks._commit_manifest
    aimed = []

    def killed(spark_, path_, n, meta=None, **kwargs):
        aimed.append((n, kwargs["files"][0].split("/")[1]))
        raise _WriterKilled()

    monkeypatch.setattr(sinks, "_commit_manifest", killed)
    with pytest.raises(_WriterKilled):
        write_versioned(_mk(spark, [(7, "g")]), chain, capture_changes=True)
    monkeypatch.setattr(sinks, "_commit_manifest", real)
    [(dead_n, dead_token)] = aimed
    assert dead_n == 2
    assert os.path.isdir(os.path.join(chain, "_staging", dead_token, "data"))
    assert sinks._versions(spark, chain) == [0, 1]
    assert _rows(read_version(spark, chain)) == head
    assert _rows(read_changes(spark, chain, 0, 1)) == feed
    assert _rows(read_changes(spark, chain, 0)) == feed

    assert write_versioned(_mk(spark, [(8, "h")]), chain, capture_changes=True) == dead_n
    orphans = {"/".join(o.split("/")[:2]) for o in _orphan_staging(spark, chain)}
    assert orphans == {f"_staging/{dead_token}"}
    assert sinks.vacuum_chain(spark, chain) == [f"_staging/{dead_token}"]
    assert not _orphan_staging(spark, chain)
    for n in sinks._versions(spark, chain):
        man = sinks._read_manifest(spark, chain, n)
        for rel in man["files"] + man["changes"]:
            assert os.path.isfile(os.path.join(chain, rel)), rel
    assert _rows(read_version(spark, chain, 1)) == head
    assert _rows(read_version(spark, chain)) == [(8, "h")]


@pytest.mark.parametrize("kind", ["upsert", "delete"])
def test_delta_commit_reads_head_once_per_phase(spark, chain, monkeypatch, kind):
    """An upsert or delete on a capture chain lists the versions and
    reads the head manifest once before staging (the partition layout)
    and once in its commit attempt — the attempt builds the
    predecessor's scan from the head it already holds."""
    counts = {"_read_manifest": 0, "_versions": 0}

    def counted(name):
        real = getattr(sinks, name)

        def wrapper(*args, **kwargs):
            counts[name] += 1
            return real(*args, **kwargs)

        return wrapper

    for name in counts:
        monkeypatch.setattr(sinks, name, counted(name))
    if kind == "upsert":
        upsert_into_chain(spark, chain, _mk(spark, [(2, "x"), (5, "e")]), ["k"])
    else:
        delete_from_chain(spark, chain, _mk(spark, [(2,)], "k int"), ["k"])
    assert counts == {"_read_manifest": 2, "_versions": 2}
    monkeypatch.undo()
    assert _rows(read_changes(spark, chain, 0, 1)) == {
        "upsert": [(2, "b", "delete"), (2, "x", "insert"), (5, "e", "insert")],
        "delete": [(2, "b", "delete")],
    }[kind]


# --- manifest format ------------------------------------------------------------

#: sorted top-level manifest keys per commit kind
_MANIFEST_KEYS = {
    "plain": ["base", "changes", "committed_at", "files", "meta", "schemas", "version"],
    "captured-partitioned": [
        "base", "changes", "committed_at", "files", "meta", "partition_by",
        "schemas", "version",
    ],
    "upsert": [
        "bases", "changes", "committed_at", "files", "meta", "partition_by",
        "row_deletes", "schemas", "seqs", "version",
    ],
    "delete": [
        "bases", "changes", "committed_at", "files", "meta", "partition_by",
        "row_deletes", "schemas", "seqs", "version",
    ],
    "compact": [
        "base", "changes", "committed_at", "files", "meta", "partition_by",
        "schemas", "version",
    ],
    "add-constraint": [
        "base", "changes", "committed_at", "constraints", "files", "meta",
        "partition_by", "schemas", "version",
    ],
    "analyze": [
        "base", "changes", "committed_at", "constraints", "files", "meta",
        "partition_by", "schemas", "stats", "version",
    ],
    "drop-constraint": [
        "base", "changes", "committed_at", "files", "meta", "partition_by",
        "schemas", "stats", "version",
    ],
    "clone": ["changes", "clone_of", "committed_at", "files", "meta", "version"],
}


def test_manifest_keys_per_commit_kind(spark, tmp_path):
    """Each commit kind writes the same top-level manifest keys as
    before the commit paths shared one retry loop — the on-disk format
    guard for chains written by either side."""

    def keys(path, n):
        text = (tmp_path / path / "_manifests" / f"v={n}.json").read_text()
        return sorted(json.loads(text))

    write_versioned(_mk(spark, [(1, "a")]), str(tmp_path / "plain"), manifest=True)
    path = str(tmp_path / "cap")
    write_versioned(
        _mk(spark, [(1, "a"), (2, "b")]),
        path,
        manifest=True,
        capture_changes=True,
        partition_by=["v"],
        meta={"epoch": 1},
    )
    upsert_into_chain(spark, path, _mk(spark, [(1, "c")]), ["k"])
    delete_from_chain(spark, path, _mk(spark, [(2,)], "k int"), ["k"])
    compact_versioned(spark, path)
    add_chain_constraint(spark, path, name="k_pos", check="k > 0")
    analyze_chain(spark, path, exact_ndv=True)
    drop_chain_constraint(spark, path, name="k_pos")
    clone_chain(spark, path, str(tmp_path / "clone"))
    got = {
        "plain": keys("plain", 0),
        "captured-partitioned": keys("cap", 0),
        "upsert": keys("cap", 1),
        "delete": keys("cap", 2),
        "compact": keys("cap", 3),
        "add-constraint": keys("cap", 4),
        "analyze": keys("cap", 5),
        "drop-constraint": keys("cap", 6),
        "clone": keys("clone", 0),
    }
    assert got == _MANIFEST_KEYS
