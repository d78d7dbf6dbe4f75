"""Range-sorted layout (sinks.write_range_sorted): per-file footer
min/max stats must form narrow, near-disjoint slices, and a range
filter must actually skip files."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.operators.sinks import write_range_sorted


def _file_ranges(path: str, col: str) -> list[tuple]:
    out = []
    for fp in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(fp).metadata
        idx = md.schema.names.index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((min(mins), max(maxs)))
    return sorted(out)


def test_range_sorted_files_are_near_disjoint(spark, sf_dir, tmp_path):
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    path = str(tmp_path / "li_sorted")
    write_range_sorted(li, path, ["l_extendedprice"], n_files=8)
    ranges = _file_ranges(path, "l_extendedprice")
    assert len(ranges) >= 6  # range partitioner may merge tiny tails
    # consecutive files overlap at most at the boundary value: each
    # file's max is <= the next file's min (disjoint slices)
    for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi <= lo2
    # every slice is narrow: no file spans more than ~2x the fair
    # share of the global range
    glo = min(r[0] for r in ranges)
    ghi = max(r[1] for r in ranges)
    fair = (ghi - glo) / len(ranges)
    assert all((hi - lo) <= 2.5 * fair for lo, hi in ranges)


def test_range_filter_skips_files(spark, sf_dir, tmp_path):
    """A selective range predicate over the clustered column must
    read fewer files than exist — parquet footer skipping doing its
    job on the layout we wrote."""
    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    path = str(tmp_path / "li_sorted2")
    write_range_sorted(li, path, ["l_extendedprice"], n_files=8)
    ranges = _file_ranges(path, "l_extendedprice")
    glo = min(r[0] for r in ranges)
    ghi = max(r[1] for r in ranges)
    cut = glo + (ghi - glo) / 10  # bottom decile → ~1 file
    out = spark.read.parquet(path).filter(F.col("l_extendedprice") <= cut)
    # correctness of the filtered read
    expected = li.filter(F.col("l_extendedprice") <= cut).count()
    assert out.count() == expected
    # layout effectiveness: the predicate's range intersects few files
    touched = sum(1 for lo, hi in ranges if lo <= cut)
    assert touched <= 2


def test_versioned_snapshot_chain(spark, sf_dir, tmp_path):
    """Three writes → three readable versions; read-as-of returns each
    exactly; latest is the default; pruning keeps the newest and
    reports what it dropped; version allocation is monotonic."""
    from portfolio1_etl_spark.operators.sinks import (
        prune_versions,
        read_version,
        write_versioned,
    )

    nation = catalog.load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_versions")
    assert write_versioned(nation.limit(5), path) == 0
    assert write_versioned(nation.limit(10), path) == 1
    assert write_versioned(nation, path) == 2
    assert read_version(spark, path, 0).count() == 5
    assert read_version(spark, path, 1).count() == 10
    assert read_version(spark, path).count() == nation.count()  # latest
    assert prune_versions(spark, path, keep=1) == [0, 1]
    assert read_version(spark, path).count() == nation.count()
    # a new write after pruning continues the monotonic numbering
    assert write_versioned(nation.limit(3), path) == 3


def test_versioned_write_never_clobbers(spark, sf_dir, tmp_path):
    """The self-overwrite hazard of the reference's inventory flow
    (write_snapshot's documented caveat) cannot occur: writing a plan
    that READS the latest version lands in a NEW directory."""
    from portfolio1_etl_spark.operators.sinks import (
        read_version,
        write_versioned,
    )
    from pyspark.sql import functions as F

    nation = catalog.load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_rmw")
    write_versioned(nation, path)
    # read-modify-write straight from the chain, no materialization
    current = read_version(spark, path)
    updated = current.withColumn("n_name", F.upper("n_name"))
    v = write_versioned(updated, path)
    assert v == 1
    assert read_version(spark, path, 0).count() == nation.count()  # intact
    assert read_version(spark, path, 1).filter(
        F.col("n_name") != F.upper(F.col("n_name"))
    ).count() == 0


def test_versioned_chain_on_scheme_qualified_uri(spark, sf_dir, tmp_path):
    """The version listing resolves the filesystem from the path's OWN
    scheme (Hadoop FileSystem API), so a scheme-qualified URI — the
    shape every HDFS/object-store deployment uses — round-trips:
    write → list → read-latest → prune all see the same store. The
    prior driver-local ``glob`` implementation saw zero versions for
    ``file:///…`` (and would for ``s3a://…``), silently restarting the
    chain at v=0 and never enforcing retention."""
    from portfolio1_etl_spark.operators.sinks import (
        _read_manifest,
        prune_versions,
        read_version,
        write_versioned,
    )

    nation = catalog.load(spark, sf_dir, "nation")
    local = tmp_path / "nation_uri_versions"
    uri = local.as_uri()  # file:///…
    assert uri.startswith("file://")
    assert write_versioned(nation.limit(4), uri) == 0
    # the second write must SEE v=0 through the scheme, not restart
    assert write_versioned(nation.limit(9), uri) == 1
    assert read_version(spark, uri).count() == 9
    assert read_version(spark, uri, 0).count() == 4
    v0_token = _read_manifest(spark, uri, 0)["files"][0].split("/")[1]
    assert (local / "_staging" / v0_token).is_dir()
    # retention actually deletes through the scheme'd filesystem
    assert prune_versions(spark, uri, keep=1) == [0]
    assert not (local / "_manifests" / "v=0.json").exists()
    assert not (local / "_staging" / v0_token).exists()
    assert read_version(spark, uri).count() == 9


def test_zorder_skips_files_on_every_clustered_column(spark, sf_dir, tmp_path):
    """The multi-dimensional layout claim, measured from real footers:
    under a lexicographic (hierarchical) sort only the LEADING column
    gets narrow per-file ranges — a range predicate on the second
    column overlaps essentially every file. Z-ordering interleaves the
    two, so BOTH columns' predicates skip files. Row fidelity holds."""
    from portfolio1_etl_spark.operators.sinks import write_range_sorted
    from portfolio1_etl_spark.operators.zorder import write_zordered

    li = catalog.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    n_rows = li.count()
    lex, zord = str(tmp_path / "lex"), str(tmp_path / "zord")
    write_range_sorted(li, lex, ["l_orderkey", "l_extendedprice"], n_files=16)
    write_zordered(
        li,
        zord,
        ["l_orderkey", "l_extendedprice"],
        num_files=16,
        boundaries="quantile",
    )
    assert spark.read.parquet(zord).count() == n_rows

    def overlap_fraction(path, col, lo, hi):
        ranges = _file_ranges(path, col)
        hit = sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))
        return hit / len(ranges)

    # a ~1/8th range of each column's domain
    ok_lo, ok_hi = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey")
    ).collect()[0]
    pr_lo, pr_hi = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).collect()[0]
    k_band = (ok_lo, ok_lo + (ok_hi - ok_lo) / 8)
    p_band = (pr_lo, pr_lo + (pr_hi - pr_lo) / 8)

    # leading column: both layouts skip well
    assert overlap_fraction(lex, "l_orderkey", *k_band) <= 0.25
    assert overlap_fraction(zord, "l_orderkey", *k_band) <= 0.75
    # second column: lexicographic sort is blind, z-order still skips
    lex_price = overlap_fraction(lex, "l_extendedprice", *p_band)
    z_price = overlap_fraction(zord, "l_extendedprice", *p_band)
    assert lex_price >= 0.9, "hierarchical sort unexpectedly skipped"
    assert z_price <= 0.625, f"z-order failed to skip on 2nd col: {z_price}"


def test_write_partitioned_bloom_filter_columns(spark, tmp_path):
    """bloom_filter_columns must materialize parquet-level bloom
    filters: the files measurably grow by roughly the filter size for
    the declared NDV (the only footer-independent evidence this
    pyarrow build can give — it does not expose bloom offsets), and
    the data reads back identically. The column must exceed parquet-
    mr's dictionary threshold — a fully dictionary-encoded column
    gets NO bloom filter by design (the dictionary already answers
    exact membership), which is why this test uses ~200k near-unique
    keys rather than the tiny fixture tables. Row-group skipping
    itself is the READER's job (parquet-mr predicate pushdown);
    writing the filter is what the sink owes."""
    import glob
    import os

    from portfolio1_etl_spark.operators.sinks import write_partitioned

    df = spark.range(200_000).selectExpr(
        "id",
        "concat('k', cast(id * 2654435761 % 1000000007 as string)) AS k",
        "cast(id % 2 as string) AS part",
    ).coalesce(1)
    plain = str(tmp_path / "plain")
    bloom = str(tmp_path / "bloom")
    write_partitioned(df, plain, ["part"])
    write_partitioned(
        df, bloom, ["part"], bloom_filter_columns={"k": 200_000}
    )
    size = lambda p: sum(
        os.path.getsize(f)
        for f in glob.glob(f"{p}/**/*.parquet", recursive=True)
    )
    grew = size(bloom) - size(plain)
    assert grew > 50_000, f"bloom filters not written (delta {grew}B)"
    a = spark.read.parquet(plain).orderBy("id").collect()
    b = spark.read.parquet(bloom).orderBy("id").collect()
    assert a == b


def test_read_changes_cdc_between_versions(spark, tmp_path):
    """CDC over the versioned chain: multiset inserts/deletes between
    any two snapshots, and keyed reclassification into update pre/post
    images — the feed a downstream consumer replays instead of a full
    re-read."""
    from portfolio1_etl_spark.operators.sinks import (
        read_changes,
        write_versioned,
    )

    path = str(tmp_path / "chain")
    v0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (3, "c", 30)],
        "id int, k string, qty int",
    )
    v1 = spark.createDataFrame(
        # id 1 updated, id 2 unchanged, one duplicate of id 3 removed,
        # id 4 inserted
        [(1, "a", 11), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id int, k string, qty int",
    )
    assert write_versioned(v0, path) == 0
    assert write_versioned(v1, path) == 1

    plain = {
        (r.id, r.qty, r._change)
        for r in read_changes(spark, path, 0, 1).collect()
    }
    assert plain == {
        (1, 11, "insert"),
        (4, 40, "insert"),
        (1, 10, "delete"),
        (3, 30, "delete"),  # ONE of the duplicate rows — multiset diff
    }

    keyed = {
        (r.id, r.qty, r._change)
        for r in read_changes(spark, path, 0, 1, key_cols=["id"]).collect()
    }
    assert keyed == {
        (1, 11, "update_postimage"),
        (1, 10, "update_preimage"),
        (4, 40, "insert"),
        (3, 30, "delete"),  # dup-count change on same key: keyed rows
        # with no matching insert stay deletes
    }

    # reverse direction inverts the feed
    rev = {
        (r.id, r.qty, r._change)
        for r in read_changes(spark, path, 1, 0).collect()
    }
    assert rev == {
        (1, 10, "insert"),
        (3, 30, "insert"),
        (1, 11, "delete"),
        (4, 40, "delete"),
    }

    # identical versions: empty feed
    assert read_changes(spark, path, 1, 1).count() == 0


def test_read_changes_pairs_updates_positionally(spark, tmp_path):
    """Review r7-s2 finding: a key with 2 inserts and 1 delete must
    yield ONE balanced update pair plus one plain insert — never an
    unpaired postimage a CDC consumer cannot replay."""
    from portfolio1_etl_spark.operators.sinks import (
        read_changes,
        write_versioned,
    )

    path = str(tmp_path / "chain2")
    write_versioned(
        spark.createDataFrame([(1, 10)], "id int, qty int"), path
    )
    write_versioned(
        spark.createDataFrame([(1, 11), (1, 12)], "id int, qty int"), path
    )
    feed = sorted(
        (r.qty, r._change)
        for r in read_changes(spark, path, 0, 1, key_cols=["id"]).collect()
    )
    assert feed == [
        (10, "update_preimage"),
        (11, "update_postimage"),
        (12, "insert"),
    ]


def test_read_changes_key_covers_all_columns(spark, tmp_path):
    """ADVICE r7: when key_cols covers every column there are no value
    columns to order the reclassification window by — the keyed path
    must degrade to the plain insert/delete feed instead of failing
    analysis (an insert/delete sharing an all-column key would be an
    identical row, which exceptAll already cancelled)."""
    from portfolio1_etl_spark.operators.sinks import (
        read_changes,
        write_versioned,
    )

    path = str(tmp_path / "chain_allkey")
    v0 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, k string")
    v1 = spark.createDataFrame([(2, "b"), (3, "c")], "id int, k string")
    write_versioned(v0, path)
    write_versioned(v1, path)
    feed = {
        (r.id, r.k, r._change)
        for r in read_changes(spark, path, 0, 1, key_cols=["id", "k"]).collect()
    }
    assert feed == {(3, "c", "insert"), (1, "a", "delete")}


def _feed_set(df):
    return {(r.id, r.qty, r._change) for r in df.collect()}


def _captured_feed_files(spark, path):
    """Absolute paths of every change-feed file the chain's manifests
    commit."""
    from portfolio1_etl_spark.operators.sinks import _read_manifest, _versions

    return {
        os.path.join(path, rel)
        for n in _versions(spark, path)
        for rel in _read_manifest(spark, path, n)["changes"]
    }


def _local_files(df):
    """``df.inputFiles()`` as local paths."""
    import urllib.parse

    return [urllib.parse.urlparse(f).path for f in df.inputFiles()]


def test_write_time_cdc_capture_matches_snapshot_diff(spark, tmp_path):
    """r8: chains written with capture_changes=True publish per-step
    delta files, and read_changes over a fully-captured span must (a)
    return exactly what the snapshot diff returns — plain, keyed, and
    multi-version net — and (b) scan ONLY the delta files, never the
    snapshots (the property that makes the feed worth publishing at
    100 TB)."""
    from portfolio1_etl_spark.operators.sinks import (
        read_changes,
        write_versioned,
    )

    cap = str(tmp_path / "cap")
    ref = str(tmp_path / "ref")
    frames = [
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (3, "c", 30)],
            "id int, k string, qty int",
        ),
        spark.createDataFrame(
            [(1, "a", 11), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "id int, k string, qty int",
        ),
        # v2: id 4 deleted again (insert@v1 then delete@v2 must NET
        # OUT of the 0→2 feed), id 1 updated a second time
        spark.createDataFrame(
            [(1, "a", 12), (2, "b", 20), (3, "c", 30)],
            "id int, k string, qty int",
        ),
    ]
    for f in frames:
        assert write_versioned(f, cap, capture_changes=True) in (0, 1, 2)
        write_versioned(f, ref)

    feed_files = _captured_feed_files(spark, cap)
    for args in [(0, 1), (0, 2), (1, 2), (2, 0)]:
        got = read_changes(spark, cap, *args)
        want = read_changes(spark, ref, *args)
        assert _feed_set(got) == _feed_set(want), args
        files = _local_files(got)
        assert files and set(files) <= feed_files, args
    # keyed reclassification over the captured span
    keyed = _feed_set(read_changes(spark, cap, 0, 2, key_cols=["id"]))
    assert keyed == {
        (1, 12, "update_postimage"),
        (1, 10, "update_preimage"),
        (3, 30, "delete"),
    }
    # the 0→2 net feed dropped the transient id-4 row entirely
    assert (4, 40, "insert") not in _feed_set(read_changes(spark, cap, 0, 2))
    # identical-span read stays empty
    assert read_changes(spark, cap, 2, 2).count() == 0


def test_write_time_cdc_self_heals_missing_step(spark, tmp_path):
    """A middle write committed without a feed (capture_changes=False
    on a capture chain) leaves one step uncaptured: the span read must
    reconstruct THAT step by snapshot diff and still use the committed
    deltas for the rest."""
    from portfolio1_etl_spark.operators.sinks import (
        _read_manifest,
        read_changes,
        write_versioned,
    )

    path = str(tmp_path / "heal")
    rows = [
        [(1, 10)],
        [(1, 10), (2, 20)],
        [(1, 11), (2, 20)],
    ]
    for i, rs in enumerate(rows):
        write_versioned(
            spark.createDataFrame(rs, "id int, qty int"), path,
            capture_changes=i != 1,  # step 1 commits no feed
        )
    assert _read_manifest(spark, path, 1)["changes"] == []
    feed = {
        (r.id, r.qty, r._change)
        for r in read_changes(spark, path, 0, 2).collect()
    }
    assert feed == {(2, 20, "insert"), (1, 11, "insert"), (1, 10, "delete")}
    # step 1 alone is rebuilt from the two snapshots
    assert _feed_set(read_changes(spark, path, 0, 1)) == {(2, 20, "insert")}
    # the captured step's read is still delta-only
    files = _local_files(read_changes(spark, path, 1, 2))
    assert files and set(files) <= _captured_feed_files(spark, path)


# --- manifest commit protocol (r8) -----------------------------------------


def test_manifest_chain_commits_and_reads(spark, tmp_path):
    """Basic manifest chain: versions resolve through _manifests, the
    flag is sticky across writes, and reads return each version."""
    from portfolio1_etl_spark.operators.sinks import (
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "mchain")
    assert write_versioned(
        spark.createDataFrame([(1, "a")], "id int, k string"),
        path, manifest=True,
    ) == 0
    # second write WITHOUT the flag still commits via manifest (sticky)
    assert write_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, k string"), path
    ) == 1
    import os

    listed = [f for f in os.listdir(f"{path}/_manifests") if not f.startswith(".")]
    assert sorted(listed) == ["v=0.json", "v=1.json"]
    assert {(r.id, r.k) for r in read_version(spark, path).collect()} == {
        (1, "a"), (2, "b"),
    }
    assert read_version(spark, path, 0).count() == 1


def test_manifest_uncommitted_version_is_invisible(spark, tmp_path):
    """Crash injection: a data directory whose manifest never landed
    (writer died between the parquet write and the manifest commit)
    must be invisible to every reader, and the next write sweeps and
    reuses the version number."""
    from portfolio1_etl_spark.operators.sinks import (
        _versions,
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "crash")
    write_versioned(
        spark.createDataFrame([(1,)], "id int"), path, manifest=True
    )
    # simulated crash: v=1 data written, no manifest
    spark.createDataFrame([(99,)], "id int").write.parquet(f"{path}/v=1")
    assert _versions(spark, path) == [0]
    assert [r.id for r in read_version(spark, path).collect()] == [1]
    # recovery: the next write reclaims v=1; the orphan rows are gone
    assert write_versioned(
        spark.createDataFrame([(2,)], "id int"), path
    ) == 1
    assert {r.id for r in read_version(spark, path, 1).collect()} == {2}


def test_manifest_read_ignores_stray_files(spark, tmp_path):
    """read_version on a manifest chain scans exactly the committed
    file list — a stray parquet dropped into the version directory
    after the commit (half-written copy, concurrent junk) is never
    picked up."""
    from portfolio1_etl_spark.operators.sinks import (
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "stray")
    write_versioned(
        spark.createDataFrame([(1,)], "id int"), path, manifest=True
    )
    spark.createDataFrame([(666,)], "id int").coalesce(1).write.parquet(
        f"{path}/straysrc"
    )
    import glob
    import os
    import shutil

    from portfolio1_etl_spark.operators.sinks import _read_manifest

    src = glob.glob(f"{path}/straysrc/part-*.parquet")[0]
    # drop the stray next to the committed data files (r9 staged
    # layout: the manifest's file list is the only source of truth)
    data_dir = os.path.dirname(_read_manifest(spark, path, 0)["files"][0])
    shutil.copy(src, f"{path}/{data_dir}/zz-stray.parquet")
    assert [r.id for r in read_version(spark, path, 0).collect()] == [1]


def test_legacy_layout_is_refused_and_kept(spark, tmp_path):
    """A path holding pre-manifest ``v=N/`` directories and no
    ``_manifests/`` is neither adopted nor swept: ``write_versioned``
    refuses it and leaves no file or directory behind, ``vacuum_chain`` keeps the
    old data, and ``manifest=False`` is refused outright."""
    import pytest

    from portfolio1_etl_spark.operators.sinks import (
        vacuum_chain,
        write_versioned,
    )

    path = tmp_path / "legacy"
    spark.createDataFrame([(1,)], "id int").write.parquet(str(path / "v=0"))

    def tree():
        return sorted(
            os.path.relpath(os.path.join(root, f), path)
            for root, _, files in os.walk(path)
            for f in files
        )

    before = tree()
    with pytest.raises(ValueError, match="pre-manifest"):
        write_versioned(spark.createDataFrame([(2,)], "id int"), str(path))
    assert tree() == before
    # no empty _staging/ directory either
    assert sorted(os.listdir(path)) == ["v=0"]
    assert not (path / "_manifests").exists()
    assert vacuum_chain(spark, str(path)) == []
    assert tree() == before
    assert [r.id for r in spark.read.parquet(str(path / "v=0")).collect()] == [1]
    with pytest.raises(ValueError, match="plain"):
        write_versioned(
            spark.createDataFrame([(2,)], "id int"), str(tmp_path / "fresh"),
            manifest=False,
        )
    assert not (tmp_path / "fresh").exists()


def test_compact_versioned_transactional(spark, tmp_path):
    """Chain compaction: the latest version rewrites into fewer files
    as a NEW committed version (no directory rename anywhere), content
    is unchanged, the change feed for the compaction step is EMPTY,
    and a crashed prior attempt's leftovers are swept."""
    from portfolio1_etl_spark.operators.sinks import (
        compact_versioned,
        read_changes,
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "compact")
    df = spark.range(1000).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 7).cast("int").alias("g"),
    )
    write_versioned(
        df.repartition(16), path, capture_changes=True, manifest=True
    )
    # crashed prior compaction attempt left an uncommitted v=1
    spark.createDataFrame([(0, 0)], "id int, g int").write.parquet(
        f"{path}/v=1"
    )
    new = compact_versioned(spark, path, target_file_bytes=1 << 30)
    assert new == 1
    got = read_version(spark, path, new)
    assert len(got.inputFiles()) == 1
    assert got.count() == 1000
    assert got.agg(F.sum("id")).collect()[0][0] == df.agg(
        F.sum("id")
    ).collect()[0][0]
    # layout rewrite is not a data change: empty captured feed
    assert read_changes(spark, path, 0, 1).count() == 0


def test_manifest_prune_uncommits_first(spark, tmp_path):
    """prune_versions on a manifest chain removes the manifest, the
    data directory, and the captured feed for pruned versions."""
    import os

    from portfolio1_etl_spark.operators.sinks import (
        _read_manifest,
        _versions,
        prune_versions,
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "prune")
    for i in range(4):
        write_versioned(
            spark.createDataFrame([(i,)], "id int"), path,
            capture_changes=True, manifest=True,
        )
    tokens = [
        _read_manifest(spark, path, n)["files"][0].split("/")[1]
        for n in range(4)
    ]
    assert prune_versions(spark, path, keep=2) == [0, 1]
    assert _versions(spark, path) == [2, 3]
    listed = [f for f in os.listdir(f"{path}/_manifests") if not f.startswith(".")]
    assert sorted(listed) == ["v=2.json", "v=3.json"]
    # each pruned version's staged data and feed go with its token dir
    assert sorted(os.listdir(f"{path}/_staging")) == sorted(tokens[2:])
    assert [r.id for r in read_version(spark, path).collect()] == [3]


def test_compact_versioned_carries_meta_forward(spark, tmp_path):
    """Review regression (r8): compaction must carry the prior
    manifest's meta into the compacted version — dropping it would
    reset the CDC stream's durable epoch marker and let a re-delivered
    epoch double-fold after maintenance."""
    from portfolio1_etl_spark.operators.sinks import (
        compact_versioned,
        version_meta,
        write_versioned,
    )

    path = str(tmp_path / "metacompact")
    write_versioned(
        spark.createDataFrame([(1,)], "id int"), path,
        capture_changes=True, manifest=True, meta={"epoch": 7},
    )
    new = compact_versioned(spark, path, target_file_bytes=1 << 30)
    assert version_meta(spark, path, new) == {"epoch": 7}


def test_vacuum_chain_reclaims_unreferenced_versions(spark, tmp_path):
    """vacuum_chain deletes data/changes directories with no committed
    manifest — the crashed-prune leak (below head, never swept by
    number reuse) and the crashed-write head orphan — and leaves every
    committed version intact."""
    import os

    from portfolio1_etl_spark.operators.sinks import (
        read_version,
        vacuum_chain,
        write_versioned,
    )

    path = str(tmp_path / "vac")
    for i in range(3):
        write_versioned(
            spark.createDataFrame([(i,)], "id int"), path,
            capture_changes=True, manifest=True,
        )
    # crashed prune: manifest for v=0 gone, its staged data + changes
    # left behind (r9 layout: data lives under _staging/{token})
    from portfolio1_etl_spark.operators.sinks import _read_manifest

    v0_token = _read_manifest(spark, path, 0)["files"][0].split("/")[1]
    os.remove(f"{path}/_manifests/v=0.json")
    # crashed write: head orphan v=7 with no manifest (legacy naming)
    spark.createDataFrame([(99,)], "id int").write.parquet(f"{path}/v=7")
    gone = vacuum_chain(spark, path)
    assert gone == [f"_staging/{v0_token}", "v=7"]
    assert not os.path.exists(f"{path}/_staging/{v0_token}")
    assert not os.path.exists(f"{path}/v=7")
    assert [r.id for r in read_version(spark, path, 1).collect()] == [1]
    assert [r.id for r in read_version(spark, path, 2).collect()] == [2]


def test_cas_primitive_create_exclusive(spark, tmp_path):
    """The commit primitive: overwrite=True is an atomic replace,
    overwrite=False is create-exclusive and loses loudly."""
    import pytest

    from portfolio1_etl_spark.operators.sinks import (
        ConcurrentCommitError,
        _read_small_file,
        _write_small_file_atomic,
    )

    p = f"{tmp_path}/ptr"
    _write_small_file_atomic(spark, p, "a", overwrite=False)
    assert _read_small_file(spark, p) == "a"
    # CAS: destination exists -> loud conflict, content untouched
    with pytest.raises(ConcurrentCommitError):
        _write_small_file_atomic(spark, p, "b", overwrite=False)
    assert _read_small_file(spark, p) == "a"
    # atomic replace path still works
    _write_small_file_atomic(spark, p, "c", overwrite=True)
    assert _read_small_file(spark, p) == "c"


def test_cas_primitive_true_parallel_race(spark, tmp_path):
    """16 threads genuinely racing the create-exclusive commit on a
    LOCAL path (where Hadoop's RawLocalFs rename is check-then-act,
    not atomic): exactly ONE wins, the rest get ConcurrentCommitError,
    and the surviving content is the winner's intact payload — the
    POSIX os.link branch's kernel-level putIfAbsent, not a serialized
    monkeypatch interleave."""
    import threading

    from portfolio1_etl_spark.operators.sinks import (
        ConcurrentCommitError,
        _read_small_file,
        _write_small_file_atomic,
    )

    p = f"{tmp_path}/racefile"
    barrier = threading.Barrier(16)
    outcomes = [None] * 16

    def attempt(i):
        barrier.wait()
        try:
            _write_small_file_atomic(spark, p, f"writer-{i}", overwrite=False)
            outcomes[i] = "won"
        except ConcurrentCommitError:
            outcomes[i] = "lost"

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes.count("won") == 1, outcomes
    winner = outcomes.index("won")
    assert _read_small_file(spark, p) == f"writer-{winner}"
    import os as _os

    leftover = [f for f in _os.listdir(tmp_path) if f.endswith(".tmp")]
    assert not leftover, leftover


def test_manifest_commit_cas_rejects_duplicate_version(spark, tmp_path):
    """Two manifests for the same version number: the second commit
    raises instead of silently replacing the winner's file list."""
    import pytest

    from portfolio1_etl_spark.operators.sinks import (
        ConcurrentCommitError,
        _commit_manifest,
        _read_manifest,
        write_versioned,
    )

    path = str(tmp_path / "casdup")
    write_versioned(spark.createDataFrame([(1,)], "id int"), path, manifest=True)
    before = _read_manifest(spark, path, 0)
    with pytest.raises(ConcurrentCommitError):
        _commit_manifest(spark, path, 0, files=["_staging/fake/data/x.parquet"])
    assert _read_manifest(spark, path, 0) == before


def test_two_interleaved_writers_both_commit(spark, tmp_path):
    """The r9 concurrent-writer contract: writer B commits version N
    while writer A (which also allocated N) is still staging; A's CAS
    loses, and A retries to N+1 — both writers' data survive, with
    correct change feeds against each ACTUAL predecessor. Deterministic
    interleave: B runs to completion inside A's staging window via a
    monkeypatched commit hook."""
    from portfolio1_etl_spark.operators import sinks
    from portfolio1_etl_spark.operators.sinks import (
        read_changes,
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "race")
    write_versioned(
        spark.createDataFrame([(0, 5)], "id int, qty int"), path,
        capture_changes=True, manifest=True,
    )

    # interleave: the first time writer A reaches its manifest commit,
    # writer B sneaks in a full committed write at the same version
    real_commit = sinks._commit_manifest
    state = {"intruded": False}

    def intruding_commit(spark_, path_, n, meta=None, **kw):
        if not state["intruded"]:
            state["intruded"] = True
            write_versioned(  # writer B: full write-and-commit of v=1
                spark.createDataFrame([(2, 7)], "id int, qty int"), path,
                capture_changes=True, manifest=True,
            )
        return real_commit(spark_, path_, n, meta, **kw)

    sinks._commit_manifest = intruding_commit
    try:
        got = write_versioned(  # writer A: loses v=1, retries to v=2
            spark.createDataFrame([(1, 6)], "id int, qty int"), path,
            capture_changes=True, manifest=True,
        )
    finally:
        sinks._commit_manifest = real_commit

    assert got == 2
    assert {(r.id, r.qty) for r in read_version(spark, path, 1).collect()} == {(2, 7)}
    assert {(r.id, r.qty) for r in read_version(spark, path, 2).collect()} == {(1, 6)}
    # A's change feed was re-derived against B's committed v=1, not
    # against the v=0 it first staged for
    step = {
        (r.id, r.qty, r._change)
        for r in read_changes(spark, path, 1, 2).collect()
    }
    assert step == {(1, 6, "insert"), (2, 7, "delete")}


def test_schema_evolution_additive_column_cdc(spark, tmp_path):
    """Additive schema evolution on a captured manifest chain: a new
    nullable column diffs as update pairs (old NULL -> new value),
    time travel returns each version's own schema, a span fold across
    the boundary carries the union of columns, and a TYPE change
    fails loudly instead of silently casting."""
    import pytest

    from portfolio1_etl_spark.operators.sinks import (
        read_changes,
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "evo")
    write_versioned(
        spark.createDataFrame([(1, 5), (2, 6)], "id int, qty int"), path,
        capture_changes=True, manifest=True,
    )
    # v1 adds `note`; row 1 unchanged except the new column
    write_versioned(
        spark.createDataFrame(
            [(1, 5, "a"), (2, 7, None)], "id int, qty int, note string"
        ),
        path, capture_changes=True, manifest=True,
    )
    assert read_version(spark, path, 0).columns == ["id", "qty"]
    assert read_version(spark, path, 1).columns == ["id", "qty", "note"]

    feed = {
        (r.id, r.qty, r.note, r._change)
        for r in read_changes(spark, path, 0, 1).collect()
    }
    assert feed == {
        (1, 5, None, "delete"), (1, 5, "a", "insert"),
        (2, 6, None, "delete"), (2, 7, None, "insert"),
    }
    # keyed reclassification across the evolution boundary
    keyed = {
        (r.id, r.note, r._change)
        for r in read_changes(spark, path, 0, 1, key_cols=["id"]).collect()
    }
    assert keyed == {
        (1, None, "update_preimage"), (1, "a", "update_postimage"),
        (2, None, "update_preimage"), (2, None, "update_postimage"),
    }
    # span fold across the boundary (v0 -> v2) still nets correctly
    write_versioned(
        spark.createDataFrame([(1, 5, "a")], "id int, qty int, note string"),
        path, capture_changes=True, manifest=True,
    )
    span = {
        (r.id, r.qty, r.note, r._change)
        for r in read_changes(spark, path, 0, 2).collect()
    }
    assert span == {
        (1, 5, None, "delete"), (1, 5, "a", "insert"),
        (2, 6, None, "delete"),
    }
    # type evolution is refused loudly at write time
    with pytest.raises(ValueError, match="type"):
        write_versioned(
            spark.createDataFrame(
                [(1, "five", "a")], "id int, qty string, note string"
            ),
            path, capture_changes=True, manifest=True,
        )


def test_read_version_asof_timestamp_time_travel(spark, tmp_path):
    """asof resolves the newest commit at or before the timestamp,
    using the committed_at recorded atomically inside the manifest."""
    from datetime import datetime, timezone

    import pytest

    from portfolio1_etl_spark.operators.sinks import (
        read_version_asof,
        write_versioned,
    )

    path = str(tmp_path / "asof")
    before_all = datetime.now(timezone.utc).isoformat()
    write_versioned(spark.createDataFrame([(0,)], "id int"), path, manifest=True)
    between = datetime.now(timezone.utc).isoformat()
    write_versioned(spark.createDataFrame([(1,)], "id int"), path, manifest=True)
    after_all = datetime.now(timezone.utc).isoformat()

    assert [r.id for r in read_version_asof(spark, path, between).collect()] == [0]
    assert [r.id for r in read_version_asof(spark, path, after_all).collect()] == [1]
    with pytest.raises(FileNotFoundError):
        read_version_asof(spark, path, before_all)


def test_partitioned_versioned_chain_prunes_and_compacts(spark, sf_dir, tmp_path):
    """write_versioned(partition_by=...): the manifest records the
    layout, read_version restores the partition columns and a filter
    on them prunes at PLAN time (PartitionFilters), the change feed
    carries the partition column, compaction preserves the layout,
    and prune reclaims the whole partitioned staging tree."""
    import glob as _g

    from portfolio1_etl_spark import catalog
    from portfolio1_etl_spark.operators.sinks import (
        compact_versioned,
        prune_versions,
        read_changes,
        read_version,
        write_versioned,
    )

    orders = catalog.load(spark, sf_dir, "orders").limit(400)
    path = str(tmp_path / "part_chain")
    write_versioned(
        orders, path, capture_changes=True, manifest=True,
        partition_by=["o_orderpriority"],
    )
    got = read_version(spark, path, 0)
    assert "o_orderpriority" in got.columns
    assert got.count() == 400

    scan = got.filter(F.col("o_orderpriority") == "1-URGENT")
    plan = scan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderpriority" in pf[0]
    want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert scan.count() == want

    # feed carries the partition column; second write diffs correctly
    write_versioned(
        orders.filter(F.col("o_orderpriority") != "1-URGENT"),
        path, capture_changes=True, manifest=True,
        partition_by=["o_orderpriority"],
    )
    feed = read_changes(spark, path, 0, 1)
    assert set(feed.select("_change").distinct().toPandas()["_change"]) == {
        "delete"
    }
    assert feed.count() == want

    # compaction preserves the hive layout
    v2 = compact_versioned(spark, path)
    m_files = read_version(spark, path, v2)
    assert "o_orderpriority" in m_files.columns
    assert m_files.count() == 400 - want
    assert any(
        "o_orderpriority=" in f for f in m_files.inputFiles()
    )

    # prune reclaims the whole partitioned staging tree of v=0
    prune_versions(spark, path, keep=2)
    staging_dirs = _g.glob(f"{path}/_staging/*")
    assert len(staging_dirs) == 2  # v1 + compacted v2 remain


def test_vacuum_sweeps_tmp_debris_and_reused_number_orphans(spark, tmp_path):
    """Review r9: a writer that died between staging and rename leaves
    .{name}.{uuid}.tmp under _manifests, and a pre-staging crashed v=N
    dir whose number a staged commit later REUSED is unreferenced by
    the committed manifest — both are vacuum garbage; referencedness,
    not version-number membership, decides."""
    import os

    from portfolio1_etl_spark.operators.sinks import (
        read_version,
        vacuum_chain,
        write_versioned,
    )

    path = str(tmp_path / "vacdebris")
    write_versioned(spark.createDataFrame([(1,)], "id int"), path, manifest=True)
    # pre-staging orphan whose number the NEXT staged commit will reuse
    spark.createDataFrame([(666,)], "id int").write.parquet(f"{path}/v=1")
    write_versioned(spark.createDataFrame([(2,)], "id int"), path, manifest=True)
    assert [r.id for r in read_version(spark, path, 1).collect()] == [2]
    # crashed commit stage
    with open(f"{path}/_manifests/.v=9.json.deadbeef.tmp", "w") as f:
        f.write("{}")
    gone = vacuum_chain(spark, path)
    assert "_manifests/.v=9.json.deadbeef.tmp" in gone
    assert "v=1" in gone  # the orphan, even though version 1 is committed
    assert not os.path.exists(f"{path}/v=1")
    assert [r.id for r in read_version(spark, path, 1).collect()] == [2]
    assert [r.id for r in read_version(spark, path, 0).collect()] == [1]
