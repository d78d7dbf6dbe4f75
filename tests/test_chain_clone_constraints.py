"""Shallow clone + write-time constraints on the manifest chain
(r12): zero-copy delegation, write isolation in both directions,
delta commits on top of a clone, and CHECK / NOT NULL enforcement at
every commit type — the Delta-style storage features a lakehouse
user expects next to time travel and CDC."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.sinks import (
    add_chain_constraint,
    chain_constraints,
    clone_chain,
    compact_versioned,
    delete_from_chain,
    drop_chain_constraint,
    prune_versions,
    read_changes,
    read_version,
    upsert_into_chain,
    write_versioned,
)


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v").collect())


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


@pytest.fixture()
def src_chain(spark, tmp_path):
    path = str(tmp_path / "src")
    write_versioned(
        _mk(spark, [(1, "a"), (2, "b"), (3, "c")]),
        path,
        manifest=True,
        capture_changes=True,
    )
    write_versioned(
        _mk(spark, [(1, "a"), (2, "B"), (3, "c"), (4, "d")]),
        path,
        capture_changes=True,
    )
    return path


# --- shallow clone ----------------------------------------------------------


def test_clone_is_zero_copy_and_reads_pinned_version(
    spark, tmp_path, src_chain
):
    dst = str(tmp_path / "dst")
    assert clone_chain(spark, src_chain, dst) == 0
    # zero-copy: the clone owns a manifest and nothing else
    assert glob.glob(f"{dst}/**/*.parquet", recursive=True) == []
    assert _rows(read_version(spark, dst)) == _rows(
        read_version(spark, src_chain, 1)
    )
    # pinning: clone at the OLD version reads v=0 even as src advances
    dst0 = str(tmp_path / "dst0")
    clone_chain(spark, src_chain, dst0, n=0)
    write_versioned(_mk(spark, [(9, "z")]), src_chain, capture_changes=True)
    assert _rows(read_version(spark, dst0)) == [(1, "a"), (2, "b"), (3, "c")]


def test_clone_write_isolation_both_directions(spark, tmp_path, src_chain):
    dst = str(tmp_path / "dst")
    clone_chain(spark, src_chain, dst)
    write_versioned(
        _mk(spark, [(7, "clone-only")]), dst, capture_changes=True
    )
    assert _rows(read_version(spark, dst)) == [(7, "clone-only")]
    assert (9, "z") not in _rows(read_version(spark, dst, 0))
    # the source never saw the clone's write
    assert _rows(read_version(spark, src_chain)) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (4, "d"),
    ]


def test_delta_commits_on_clone_head(spark, tmp_path, src_chain):
    dst = str(tmp_path / "dst")
    clone_chain(spark, src_chain, dst)
    delete_from_chain(spark, dst, _mk(spark, [(2, "x")]).select("k"), ["k"])
    upsert_into_chain(spark, dst, _mk(spark, [(3, "C3"), (5, "e")]), ["k"])
    assert _rows(read_version(spark, dst)) == [
        (1, "a"),
        (3, "C3"),
        (4, "d"),
        (5, "e"),
    ]
    # still zero-copy for the base: only delta staging exists under dst
    base_bytes = glob.glob(f"{dst}/v=*/**/*.parquet", recursive=True)
    assert base_bytes == []
    # the source is untouched by the clone's deletes/upserts
    assert _rows(read_version(spark, src_chain, 1)) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (4, "d"),
    ]
    # time travel within the clone still resolves the delegated base
    assert _rows(read_version(spark, dst, 0)) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (4, "d"),
    ]


def test_clone_cdc_and_materializing_compaction(spark, tmp_path, src_chain):
    dst = str(tmp_path / "dst")
    clone_chain(spark, src_chain, dst)
    upsert_into_chain(spark, dst, _mk(spark, [(2, "BB")]), ["k"])
    feed = read_changes(spark, dst, 0, 1, key_cols=["k"])
    got = sorted(
        (r["k"], r["v"], r["_change"]) for r in feed.collect()
    )
    assert got == [(2, "B", "update_preimage"), (2, "BB", "update_postimage")]
    # compaction materializes: real files land, delegation marker gone,
    # and pruning the materialized head never needs the source
    n = compact_versioned(spark, dst)
    assert glob.glob(f"{dst}/**/*.parquet", recursive=True) != []
    assert _rows(read_version(spark, dst, n)) == [
        (1, "a"),
        (2, "BB"),
        (3, "c"),
        (4, "d"),
    ]
    prune_versions(spark, dst, keep=1)
    assert _rows(read_version(spark, dst)) == [
        (1, "a"),
        (2, "BB"),
        (3, "c"),
        (4, "d"),
    ]


def test_clone_of_clone_and_bad_inputs(spark, tmp_path, src_chain):
    dst = str(tmp_path / "dst")
    clone_chain(spark, src_chain, dst)
    dst2 = str(tmp_path / "dst2")
    clone_chain(spark, dst, dst2)
    assert _rows(read_version(spark, dst2)) == _rows(
        read_version(spark, src_chain, 1)
    )
    with pytest.raises(ValueError, match="already holds"):
        clone_chain(spark, src_chain, dst)
    with pytest.raises(FileNotFoundError, match="no version 9"):
        clone_chain(spark, src_chain, str(tmp_path / "dst9"), n=9)


# --- constraints ------------------------------------------------------------


def test_check_constraint_gates_snapshot_and_upsert(
    spark, tmp_path, src_chain
):
    v = add_chain_constraint(
        spark, src_chain, name="v_nonempty", check="length(v) > 0"
    )
    assert chain_constraints(spark, src_chain) == {
        "not_null": [],
        "check": {"v_nonempty": "length(v) > 0"},
    }
    # the metadata commit reuses data and emits an EMPTY captured feed
    assert read_changes(spark, src_chain, v - 1, v).count() == 0
    assert _rows(read_version(spark, src_chain, v)) == _rows(
        read_version(spark, src_chain, v - 1)
    )
    # a good write passes and the rule carries forward
    write_versioned(_mk(spark, [(1, "ok")]), src_chain, capture_changes=True)
    assert "v_nonempty" in chain_constraints(spark, src_chain)["check"]
    # violating snapshot refuses with the name, and commits nothing
    head = read_version(spark, src_chain)
    with pytest.raises(ValueError, match="CHECK v_nonempty"):
        write_versioned(
            _mk(spark, [(2, "")]), src_chain, capture_changes=True
        )
    assert _rows(read_version(spark, src_chain)) == _rows(head)
    # violating upsert refuses too (NULL passes CHECK — ANSI)
    with pytest.raises(ValueError, match="CHECK v_nonempty"):
        upsert_into_chain(spark, src_chain, _mk(spark, [(3, "")]), ["k"])
    upsert_into_chain(spark, src_chain, _mk(spark, [(3, None)]), ["k"])
    assert (3, None) in _rows(read_version(spark, src_chain))


def test_not_null_and_drop(spark, tmp_path, src_chain):
    add_chain_constraint(spark, src_chain, not_null=["k"])
    with pytest.raises(ValueError, match="NOT NULL k"):
        write_versioned(
            _mk(spark, [(None, "x")]), src_chain, capture_changes=True
        )
    drop_chain_constraint(spark, src_chain, not_null=["k"])
    assert chain_constraints(spark, src_chain) == {}
    write_versioned(
        _mk(spark, [(None, "x")]), src_chain, capture_changes=True
    )
    with pytest.raises(ValueError, match="no check constraint"):
        drop_chain_constraint(spark, src_chain, name="ghost")


def test_add_constraint_validates_existing_rows(spark, tmp_path, src_chain):
    # head holds k in 1..4 — a rule the data already violates refuses
    # BEFORE any commit
    with pytest.raises(ValueError, match="existing table data"):
        add_chain_constraint(spark, src_chain, name="k_big", check="k > 2")
    assert chain_constraints(spark, src_chain) == {}
    # and one the data satisfies lands
    add_chain_constraint(spark, src_chain, name="k_pos", check="k > 0")
    assert "k_pos" in chain_constraints(spark, src_chain)["check"]


def test_constraints_survive_compaction_and_clone(
    spark, tmp_path, src_chain
):
    add_chain_constraint(spark, src_chain, name="k_pos", check="k > 0")
    compact_versioned(spark, src_chain)
    assert "k_pos" in chain_constraints(spark, src_chain)["check"]
    dst = str(tmp_path / "dst")
    clone_chain(spark, src_chain, dst)
    assert "k_pos" in chain_constraints(spark, dst)["check"]
    with pytest.raises(ValueError, match="CHECK k_pos"):
        write_versioned(
            _mk(spark, [(-1, "bad")]), dst, capture_changes=True
        )
    # dropping on the clone never touches the source
    drop_chain_constraint(spark, dst, name="k_pos")
    assert chain_constraints(spark, dst) == {}
    assert "k_pos" in chain_constraints(spark, src_chain)["check"]


# --- ANALYZE / table statistics ----------------------------------------------


def test_analyze_chain_stats_roundtrip(spark, tmp_path, src_chain):
    from portfolio1_etl_spark.operators.sinks import analyze_chain, chain_stats

    v = analyze_chain(spark, src_chain, exact_ndv=True)
    st = chain_stats(spark, src_chain)
    assert st["analyzed_version"] == v - 1
    assert st["n_rows"] == 4
    assert st["columns"]["k"] == {
        "min": "1",
        "max": "4",
        "n_nulls": 0,
        "ndv": 4,
    }
    assert st["columns"]["v"]["ndv"] == 4
    # stats carry through a METADATA commit (identical files)...
    add_chain_constraint(spark, src_chain, name="k_pos", check="k > 0")
    assert chain_stats(spark, src_chain)["n_rows"] == 4
    # ...and DROP on any data commit (stale stats are worse than none)
    upsert_into_chain(spark, src_chain, _mk(spark, [(9, "z")]), ["k"])
    assert chain_stats(spark, src_chain) is None
    # historical versions keep their pinned stats (time travel)
    assert chain_stats(spark, src_chain, v)["n_rows"] == 4


def test_analyze_chain_null_counts_and_bad_column(spark, tmp_path):
    from portfolio1_etl_spark.operators.sinks import analyze_chain, chain_stats

    path = str(tmp_path / "chain")
    write_versioned(
        _mk(spark, [(1, "a"), (2, None), (None, "c")]), path, manifest=True
    )
    analyze_chain(spark, path, columns=["v"], exact_ndv=True)
    st = chain_stats(spark, path)
    assert st["columns"]["v"] == {
        "min": "a",
        "max": "c",
        "n_nulls": 1,
        "ndv": 2,
    }
    assert "k" not in st["columns"]
    with pytest.raises(ValueError, match="ghost"):
        analyze_chain(spark, path, columns=["ghost"])


def test_analyze_chain_handles_empty_table(spark, tmp_path):
    """ANALYZE on a 0-row head: F.sum over no rows is NULL, which used
    to crash the int() cast on the null counters (r12 advisor find).
    min/max stay None — 'no values' is the honest stat there."""
    from portfolio1_etl_spark.operators.sinks import analyze_chain, chain_stats

    path = str(tmp_path / "chain")
    write_versioned(_mk(spark, [(1, "a")]).limit(0), path, manifest=True)
    analyze_chain(spark, path, exact_ndv=True)
    st = chain_stats(spark, path)
    assert st["n_rows"] == 0
    assert st["columns"]["k"] == {
        "min": None,
        "max": None,
        "n_nulls": 0,
        "ndv": 0,
    }


def test_metadata_commit_cleans_staging_on_lost_race(
    spark, tmp_path, monkeypatch
):
    """A lost CAS race in a metadata-only commit must delete its staged
    empty change feed before retrying — write_versioned/_delta_commit
    already did; _metadata_commit used to abandon it, leaking orphan
    _staging dirs until vacuum (r12 advisor find)."""
    import portfolio1_etl_spark.operators.sinks as sinks

    path = str(tmp_path / "chain")
    write_versioned(
        _mk(spark, [(1, "a")]), path, manifest=True, capture_changes=True
    )
    real = sinks._commit_manifest
    failures = {"left": 1}

    def flaky(*args, **kwargs):
        if failures["left"]:
            failures["left"] -= 1
            raise sinks.ConcurrentCommitError("simulated lost race")
        return real(*args, **kwargs)

    monkeypatch.setattr(sinks, "_commit_manifest", flaky)
    v = add_chain_constraint(spark, path, not_null=["k"])
    assert v == 1 and failures["left"] == 0
    # committed files legitimately live under _staging (the manifest
    # references them); an ORPHAN is a token dir no manifest mentions —
    # empty ones included (a per-attempt token used to leave one per
    # lost race)
    referenced = set()
    for ver in sinks._versions(spark, path):
        man = sinks._read_manifest(spark, path, ver)
        rels = man["files"] + man["changes"] + [
            e["path"] for e in man.get("row_deletes") or []
        ]
        referenced |= {r.split("/")[1] for r in rels if r.startswith("_staging/")}
    staged = {p.rsplit("/", 1)[1] for p in glob.glob(f"{path}/_staging/*")}
    orphans = staged - referenced
    assert not orphans, f"orphan staging left behind: {orphans}"


def test_clone_pins_absolute_qualified_src(spark, tmp_path, src_chain):
    """clone_of must hold a filesystem-QUALIFIED URI (scheme +
    absolute path), never the caller's src string verbatim: a bare or
    relative path would resolve against whatever context the READER
    runs under and silently break delegated reads (r12 advisor find).
    src_chain is a scheme-less absolute path — the pinned form must
    come back file:-qualified and still delegate correctly."""
    assert not src_chain.startswith("file:")
    dst = str(tmp_path / "dst")
    clone_chain(spark, src_chain, dst)
    from portfolio1_etl_spark.operators.sinks import _read_manifest

    pinned = _read_manifest(spark, dst, 0)["clone_of"]["path"]
    assert pinned.startswith("file:") and src_chain in pinned
    assert _rows(read_version(spark, dst)) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (4, "d"),
    ]
