"""Multimodal binary-column plumbing + sink layout tests."""

from __future__ import annotations

import os

import pytest

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.operators import (
    MEDIA_FEATURES_SCHEMA,
    decode_media,
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    featurize_media,
    read_media_dir,
    write_partitioned,
    write_report_csv,
    write_snapshot,
)


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "a.jpg").write_bytes(b"\xff\xd8fakejpegbytes")
    (d / "b.png").write_bytes(b"\x89PNGfakebytes")
    (d / "c.wav").write_bytes(b"RIFFfakewav")
    return str(d)


def test_read_media_dir_schema_and_modality(spark, media_dir):
    media = read_media_dir(spark, media_dir)
    rows = {r.path.split("/")[-1]: r for r in media.collect()}
    assert rows["a.jpg"].modality == "image"
    assert rows["a.jpg"].meta.mime == "image/jpeg"
    assert rows["c.wav"].modality == "audio"
    assert rows["b.png"].meta.length == len(b"\x89PNGfakebytes")


def test_featurize_media_batched(spark, media_dir):
    feats = featurize_media(read_media_dir(spark, media_dir))
    assert feats.schema == MEDIA_FEATURES_SCHEMA
    rows = {r.path.split("/")[-1]: r for r in feats.collect()}
    assert rows["a.jpg"].n_bytes == len(b"\xff\xd8fakejpegbytes")
    assert len(rows["a.jpg"].feature) == 8
    # deterministic digest features
    import hashlib

    assert rows["b.png"].content_sha256 == hashlib.sha256(b"\x89PNGfakebytes").hexdigest()


def test_compressed_decode_is_clearly_bounded():
    """The remaining codec boundary (MP3/MP4) stays an explicit
    NotImplementedError; a CORRUPT member of a natively-decoded
    family (JPEG since r7) must raise ValueError — never return
    garbage pixels and never fall through to the 'needs a library'
    message."""
    with pytest.raises(NotImplementedError, match="media decode"):
        decode_media(b"ID3\x04fakemp3bytes")
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8fakejpegbytes")


def test_png_round_trip_every_filter_type():
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, (9, 7, 3)).astype(np.uint8)
    # each filter type alone, then all five cycling row by row — every
    # unfilter branch (None/Sub/Up/Average/Paeth) must invert exactly
    for filters in (None, [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        back, w, h = decode_png(encode_png(px, filters=filters))
        assert (w, h) == (7, 9) and (back == px).all(), filters
    modality, vals, dims = decode_media(encode_png(px))
    assert modality == "image" and dims == "7x9" and len(vals) == 9 * 7 * 3


def test_png_round_trip_property():
    """Property: decode(encode(px, any filter schedule)) == px for
    arbitrary image shapes and pixel contents."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from portfolio1_etl_spark.operators.multimodal import decode_png, encode_png

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
        filters=st.lists(st.integers(0, 4), min_size=1, max_size=7),
    )
    def check(h, w, seed, filters):
        px = (
            np.random.RandomState(seed)
            .randint(0, 256, (h, w, 3))
            .astype(np.uint8)
        )
        back, ww, hh = decode_png(encode_png(px, filters=filters))
        assert (ww, hh) == (w, h) and (back == px).all()

    check()


def test_png_rejects_corruption_and_unsupported():
    import struct

    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import decode_png, encode_png

    b = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + b[4:])
    # flip one IDAT payload byte: the CRC check must catch it
    corrupt = bytearray(b)
    idat_at = b.index(b"IDAT") + 4
    corrupt[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(corrupt))
    # 16-bit depth is a documented NotImplementedError boundary
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    from portfolio1_etl_spark.operators.multimodal import _png_chunk, _PNG_SIG

    deep = _PNG_SIG + _png_chunk(b"IHDR", ihdr16) + _png_chunk(b"IDAT", b"x") + _png_chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_png(deep)


def test_png_resize_real(spark):
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import (
        decode_png,
        encode_png,
        resize_media,
    )

    px = np.arange(16 * 12 * 3, dtype=np.int64).astype(np.uint8).reshape(16, 12, 3)
    media = spark.createDataFrame(
        [("a.png", "image", bytearray(encode_png(px)), (int(16 * 12 * 3), "image/png"))],
        "path string, modality string, content binary, meta struct<length: long, mime: string>",
    )
    out = resize_media(media, target_px=8).collect()[0]
    back, w, h = decode_png(bytes(out["content"]))
    assert (w, h) == (6, 8)  # long edge 16 → 8, aspect kept
    assert back.shape == (8, 6, 3)


def test_resize_media_truncated_png_falls_back(spark):
    """A malformed (half-truncated) PNG must fall through to the
    byte-decimation stand-in — decode_png raises struct.error on a
    short chunk-header slice, and one bad file must not kill the Spark
    task (the documented contract the PPM path honors)."""
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import encode_png, resize_media

    px = np.arange(8 * 8 * 3, dtype=np.int64).astype(np.uint8).reshape(8, 8, 3)
    trunc = encode_png(px)
    trunc = trunc[: len(trunc) // 2]  # cuts mid-chunk → struct.error
    media = spark.createDataFrame(
        [("bad.png", "image", bytearray(trunc), (len(trunc), "image/png"))],
        "path string, modality string, content binary, meta struct<length: long, mime: string>",
    )
    out = resize_media(media, target_px=8).collect()[0]
    assert bytes(out["content"]) == trunc[::2]  # stand-in, not a crash


def test_ppm_round_trip():
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    b = encode_ppm(px)
    back, w, h = decode_ppm(b)
    assert (w, h) == (3, 2) and (back == px).all()
    # comment + extra whitespace tolerance in the header
    commented = b"P6\n# a comment\n 3  2\n255\n" + px.tobytes()
    back2, w2, h2 = decode_ppm(commented)
    assert (w2, h2) == (3, 2) and (back2 == px).all()


def test_wav_round_trip():
    import numpy as np

    smp = (np.arange(100, dtype=np.int64) * 321 - 16000).astype(np.int16)
    b = encode_wav(smp, sample_rate=44100)
    back, rate = decode_wav(b)
    assert rate == 44100 and (back == smp).all()
    modality, vals, dims = decode_media(b)
    assert modality == "audio" and dims == "44100Hz" and len(vals) == 100
    # odd-length data chunks are word-aligned per RIFF
    odd = encode_wav(smp[:1])  # 2-byte data chunk, already even
    assert decode_wav(odd)[0].tolist() == smp[:1].tolist()


def test_partitioned_sink_layout(spark, sf_dir, tmp_path):
    orders = catalog.load(spark, sf_dir, "orders")
    from pyspark.sql import functions as F

    out = str(tmp_path / "by_status")
    write_partitioned(
        orders.withColumn("yr", F.year("o_orderdate")),
        out,
        ["o_orderstatus", "yr"],
    )
    assert any(p.startswith("o_orderstatus=") for p in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # partition pruning: reading one partition only touches its dir
    one = back.filter((F.col("o_orderstatus") == "F") & (F.col("yr") == 1996))
    plan = one.explain(mode="formatted") or ""
    assert one.count() > 0


def test_report_and_snapshot_sinks(spark, sf_dir, tmp_path):
    li = catalog.load(spark, sf_dir, "lineitem").limit(100)
    csv_out = str(tmp_path / "report_csv")
    write_report_csv(li.select("l_orderkey", "l_quantity"), csv_out)
    files = [f for f in os.listdir(csv_out) if f.endswith(".csv")]
    assert len(files) == 1  # single-file report

    snap_out = str(tmp_path / "snapshot")
    write_snapshot(li, snap_out)
    assert spark.read.parquet(snap_out).count() == 100


def test_resize_media_batched(spark, media_dir):
    from portfolio1_etl_spark.operators.multimodal import resize_media, read_media_dir as rmd

    media = rmd(spark, media_dir)
    resized = resize_media(media, target_px=128)
    rows = {r.path.split("/")[-1]: r for r in resized.collect()}
    orig = {r.path.split("/")[-1]: r for r in media.collect()}
    for name, r in rows.items():
        assert r.meta.target_px == 128
        assert r.meta.length == len(bytes(r.content))
        assert len(bytes(r.content)) == len(bytes(orig[name].content)[::2])
        assert r.modality == orig[name].modality


def test_sample_frames_fanout(spark, media_dir):
    from portfolio1_etl_spark.operators.multimodal import read_media_dir as rmd, sample_frames

    media = rmd(spark, media_dir)
    frames = sample_frames(media, n_frames=4)
    assert frames.count() == media.count() * 4
    one = sorted(
        (r.frame_no, r.n_bytes)
        for r in frames.collect()
        if r.path.endswith("a.jpg")
    )
    assert [f for f, _ in one] == [0, 1, 2, 3]
    assert all(n >= 0 for _, n in one)


def test_resize_ppm_real(spark, tmp_path):
    """PPM content resizes for real: decoded dims shrink, pixel values
    come from the source image (nearest-neighbor), format survives."""
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import (
        decode_ppm, encode_ppm, read_media_dir, resize_media, resize_ppm,
    )

    px = (np.arange(16 * 16 * 3, dtype=np.int64) % 256).astype(np.uint8).reshape(16, 16, 3)
    b = encode_ppm(px)
    small = resize_ppm(b, 4)
    back, w, h = decode_ppm(small)
    assert (w, h) == (4, 4)
    assert (back == px[::4][:, ::4]).all()  # exact nearest-neighbor grid
    assert resize_ppm(b, 64) == b  # upscale is a no-op
    # and through the DataFrame operator
    d = tmp_path / "imgs"; d.mkdir()
    (d / "x.ppm").write_bytes(b)
    out = resize_media(read_media_dir(spark, str(d)), target_px=8).collect()
    assert decode_ppm(bytes(out[0].content))[1:] == (8, 8)


def test_sample_frames_wav_real(spark, tmp_path):
    """WAV frames are standalone decodable clips covering the stream."""
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import (
        decode_wav, encode_wav, read_media_dir, sample_frames,
    )

    smp = (np.arange(400, dtype=np.int64) % 2000 - 1000).astype(np.int16)
    d = tmp_path / "auds"; d.mkdir()
    (d / "x.wav").write_bytes(encode_wav(smp, 16000))
    frames = sample_frames(read_media_dir(spark, str(d)), n_frames=4).collect()
    assert len(frames) == 4
    rebuilt = []
    for r in sorted(frames, key=lambda r: r.frame_no):
        clip, rate = decode_wav(bytes(r.frame))
        assert rate == 16000 and len(clip) == 100
        rebuilt.extend(clip.tolist())
    assert rebuilt == smp.tolist()


def test_compact_parquet_on_scheme_qualified_uri(spark, sf_dir, tmp_path):
    """r7: staging/swap go through the Hadoop FileSystem API resolved
    from the path's own scheme, so a ``file://`` URI — the shape every
    HDFS deployment uses — compacts in place (the pre-r7 local-os
    implementation had to reject ``://`` paths loudly). An unreachable
    remote scheme still fails loudly at FS resolution, never silently
    against the wrong store."""
    from portfolio1_etl_spark.operators import compact_parquet

    nation = catalog.load(spark, sf_dir, "nation")
    local = tmp_path / "frag_uri"
    nation.repartition(8).write.parquet(str(local))
    uri = local.as_uri()  # file:///…
    n_rows = nation.count()
    n_after = compact_parquet(spark, uri, target_file_bytes=64 * 1024 * 1024)
    files = [f for f in os.listdir(local) if f.endswith(".parquet")]
    assert len(files) == n_after == 1
    assert spark.read.parquet(uri).count() == n_rows
    # no staging/backup leftovers beside the dataset
    assert not [p for p in os.listdir(tmp_path) if "_compacting" in p or "_precompact" in p]
    with pytest.raises(Exception):  # unknown scheme → loud FS failure
        compact_parquet(spark, "nosuchfs://bucket/table")


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """Compaction collapses a many-small-files dataset to the computed
    target count, preserves every row, and survives a re-read."""
    from portfolio1_etl_spark.operators import compact_parquet

    li = catalog.load(spark, sf_dir, "lineitem")
    path = str(tmp_path / "frag")
    li.repartition(64).write.parquet(path)  # simulate streaming fragments
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 32
    n_rows = li.count()
    n_after = compact_parquet(
        spark, path, target_file_bytes=64 * 1024 * 1024,
        sort_within_by=["l_orderkey"],
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == n_after < n_before
    assert spark.read.parquet(path).count() == n_rows


def test_wav_frames_cover_non_divisible_streams(spark, tmp_path):
    """402 % 4 != 0: the last frame extends to the end — concatenated
    clips always reconstruct the full stream."""
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import (
        decode_wav, encode_wav, read_media_dir, sample_frames,
    )

    smp = (np.arange(402, dtype=np.int64) % 1000 - 500).astype(np.int16)
    d = tmp_path / "odd"; d.mkdir()
    (d / "x.wav").write_bytes(encode_wav(smp, 8000))
    frames = sorted(
        sample_frames(read_media_dir(spark, str(d)), n_frames=4).collect(),
        key=lambda r: r.frame_no,
    )
    rebuilt = [v for r in frames for v in decode_wav(bytes(r.frame))[0].tolist()]
    assert rebuilt == smp.tolist()


def test_decode_features_survive_undecodable_content(spark, tmp_path):
    """A WebP (RIFF but not WAVE), a truncated P6 and a PNG whose chunk
    CRCs are valid but whose IDAT is not a deflate stream (zlib.error)
    must not kill the featurize job — rows come back marked
    undecodable."""
    import struct
    import zlib

    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import (
        _PNG_SIG, _png_chunk, decode_media, decode_media_features,
        encode_wav, read_media_dir,
    )

    with pytest.raises(NotImplementedError):
        decode_media(b"RIFF\x04\x00\x00\x00WEBPfake")
    bad_idat = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", b"not a deflate stream")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(zlib.error):
        decode_media(bad_idat)
    d = tmp_path / "mixed"; d.mkdir()
    (d / "bad.wav").write_bytes(b"RIFF\x04\x00\x00\x00WEBPfake")
    (d / "trunc.ppm").write_bytes(b"P6\n9999 9999\n255\n\x00\x01")
    (d / "bad_idat.png").write_bytes(bad_idat)
    (d / "good.wav").write_bytes(
        encode_wav((np.arange(10) * 7 % 100).astype("int16"), 8000)
    )
    rows = {r.path.split("/")[-1]: r
            for r in decode_media_features(read_media_dir(spark, str(d))).collect()}
    assert rows["good.wav"].n_units == 10 and rows["good.wav"].dims == "8000Hz"
    assert rows["bad.wav"].dims == "undecodable" and rows["bad.wav"].n_units == 0
    assert rows["trunc.ppm"].dims == "undecodable"
    assert rows["bad_idat.png"].dims == "undecodable"
    assert rows["bad_idat.png"].modality == "image"
    assert rows["bad_idat.png"].n_bytes == len(bad_idat)


def _ids(spark, n=4):
    return spark.createDataFrame([(k,) for k in range(n)], "k long")


def test_map_rows_keeps_nullable_longs_exact(spark):
    """A nullable long above 2^53 comes back exact beside a None (a
    pandas column would have turned it into float64)."""
    from portfolio1_etl_spark.operators.multimodal import map_rows

    big = (1 << 60) + 1
    out = map_rows(
        _ids(spark), lambda k: (k, None if k % 2 else big + k),
        "k long, v long", ["k"],
    ).collect()
    assert sorted((r.k, r.v) for r in out) == [
        (0, big), (1, None), (2, big + 2), (3, None)
    ]


def test_map_rows_builds_struct_binary_and_array_columns(spark):
    from portfolio1_etl_spark.operators.multimodal import map_rows

    out = map_rows(
        _ids(spark),
        lambda k: (k, (2 * k, f"m{k}"), bytes([k]) * k, [0.5 * k, 0.25]),
        "k long, s struct<a: bigint, b: string>, b binary, f array<float>",
        ["k"],
    )
    assert out.schema.simpleString() == (
        "struct<k:bigint,s:struct<a:bigint,b:string>,b:binary,"
        "f:array<float>>"
    )
    for r in out.collect():
        assert (r.s.a, r.s.b) == (2 * r.k, f"m{r.k}")
        assert bytes(r.b) == bytes([r.k]) * r.k
        assert r.f == [0.5 * r.k, 0.25]


def test_map_rows_error_rule(spark):
    """Only DECODE_ERRORS become on_error rows; any other exception —
    and a decode error with no on_error — fails the job."""
    import zlib

    from portfolio1_etl_spark.operators.multimodal import (
        DECODE_ERRORS, map_rows,
    )

    assert Exception not in DECODE_ERRORS and zlib.error in DECODE_ERRORS

    def decode(k):
        if k == 1:
            raise zlib.error("corrupt deflate stream")
        if k == 2:
            raise ValueError("malformed header")
        return k, "ok"

    marked = map_rows(
        _ids(spark), decode, "k long, status string", ["k"],
        on_error=lambda k: (k, "undecodable"),
    ).collect()
    assert sorted((r.k, r.status) for r in marked) == [
        (0, "ok"), (1, "undecodable"), (2, "undecodable"), (3, "ok")
    ]
    # rows 1 and 2 may sit in different tasks: either error may win
    with pytest.raises(Exception, match="malformed header|corrupt deflate"):
        map_rows(_ids(spark), decode, "k long, status string", ["k"]).collect()

    def buggy(k):
        raise TypeError("bug in the row code")

    with pytest.raises(Exception, match="bug in the row code"):
        map_rows(
            _ids(spark), buggy, "k long, status string", ["k"],
            on_error=lambda k: (k, "undecodable"),
        ).collect()


def test_map_rows_fanout_through_inline(spark):
    """The fan-out shape: an array<struct> column expanded by
    F.inline — an empty array drops the row, a one-element fallback
    of nulls gives one NULL row."""
    from pyspark.sql import functions as F

    from portfolio1_etl_spark.operators.multimodal import map_rows

    def items(k):
        if k == 3:
            raise ValueError("unresolvable structure")
        return k, [(i, bytes([i])) for i in range(k)]

    out = map_rows(
        _ids(spark), items, "k long, items array<struct<i: int, b: binary>>",
        ["k"], on_error=lambda k: (k, [(None, None)]),
    ).select("k", F.inline("items"))
    got = sorted(
        (r.k, r.i, None if r.b is None else bytes(r.b)) for r in out.collect()
    )
    assert got == [(1, 0, b"\x00"), (2, 0, b"\x00"), (2, 1, b"\x01"), (3, None, None)]


def test_compact_parquet_recovers_from_crashed_swap(spark, sf_dir, tmp_path):
    """A leftover ._precompact with the dataset missing at path (crash
    between the two renames) is restored before compacting."""
    import shutil as _sh

    from portfolio1_etl_spark.operators import compact_parquet

    li = catalog.load(spark, sf_dir, "lineitem").limit(500)
    path = str(tmp_path / "tbl")
    li.repartition(8).write.parquet(path)
    n = spark.read.parquet(path).count()
    _sh.move(path, path + "._precompact")  # simulate mid-swap crash
    assert not os.path.exists(path)
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == n
    assert not os.path.exists(path + "._precompact")


def test_dhash_perceptual_invariances():
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import dhash_bits

    rng = np.random.default_rng(7)
    px = rng.integers(40, 200, size=(8, 9, 3), dtype=np.int64).astype(np.uint8)
    h0 = dhash_bits(px)
    # global brightness shift (no clipping): hash unchanged — the
    # perceptual property a content digest lacks
    assert dhash_bits((px.astype(np.int64) + 30).astype(np.uint8)) == h0
    assert dhash_bits((px.astype(np.int64) - 25).astype(np.uint8)) == h0
    # geometry contract: not 64 comparisons -> loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="64 comparisons"):
        dhash_bits(px[:4])


def test_dhash_neardup_recall_vs_exact_pixel_diff(spark):
    """Recall gate: dHash Hamming <= 8 must recover >= 90% of the true
    near-dup pairs (exact pixel-L1 ground truth) on a fixture of
    perturbed image groups, and no far pair (different random base)
    may sneak under the same Hamming bar."""
    import numpy as np
    import pandas as pd

    from portfolio1_etl_spark.operators.multimodal import (
        dhash_bits,
        dhash_media,
        encode_png,
    )

    rng = np.random.default_rng(11)
    n_groups, variants = 25, 3
    images, gid_of = {}, {}
    for g in range(n_groups):
        base = rng.integers(30, 220, size=(8, 9, 3), dtype=np.int64)
        for v in range(variants):
            noise = np.zeros_like(base)
            # a few +-4 pixel nudges — sub-threshold for most comparisons
            for _ in range(4):
                r, c = rng.integers(0, 8), rng.integers(0, 9)
                noise[r, c, :] = rng.integers(-4, 5)
            img_id = g * variants + v
            images[img_id] = (base + noise).clip(0, 255).astype(np.uint8)
            gid_of[img_id] = g

    # exact ground truth: mean abs pixel diff < 3 <=> same group here
    ids = sorted(images)
    truth = set()
    for i in ids:
        for j in ids:
            if i < j:
                d = np.abs(
                    images[i].astype(np.int64) - images[j].astype(np.int64)
                ).mean()
                if d < 3.0:
                    truth.add((i, j))
    assert truth, "fixture produced no true near-dups"
    same_group = {(i, j) for i in ids for j in ids if i < j and gid_of[i] == gid_of[j]}
    assert truth == same_group  # ground truth is exactly the groups

    media = spark.createDataFrame(
        [
            (str(i), "image", bytearray(encode_png(images[i], filters=[0, 1, 2, 3, 4])), (1, "image/png"))
            for i in ids
        ],
        "path string, modality string, content binary, meta struct<length: long, mime: string>",
    )
    dh = {int(r.path): (r.dh_hi, r.dh_lo) for r in dhash_media(media).collect()}
    # spark path == local twin
    for i in ids:
        assert dh[i] == dhash_bits(images[i])

    def hamming(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    found = {(i, j) for (i, j) in truth if hamming(dh[i], dh[j]) <= 8}
    recall = len(found) / len(truth)
    assert recall >= 0.9, f"dhash recall {recall:.2f} below bar"
    # precision side: distinct random bases must stay far apart
    far = [
        hamming(dh[i], dh[j])
        for i in ids
        for j in ids
        if i < j and gid_of[i] != gid_of[j]
    ]
    assert min(far) > 8, "far pair under the near-dup bar"


def _minimal_jpeg(w, h, ch=3, progressive=False, pad=False):
    """Structurally-valid JPEG header stream: SOI, APP0, [fill bytes],
    DQT stub, SOFn with the given geometry, EOI. Not pixel-decodable —
    the probe only walks headers, which is the point."""
    import struct as s

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out = b"\xff\xd8" + b"\xff\xe0" + s.pack(">H", 2 + len(app0)) + app0
    if pad:
        out += b"\xff"  # marker fill byte before the next segment
    dqt = bytes(65)
    out += b"\xff\xdb" + s.pack(">H", 2 + len(dqt)) + dqt
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    body = b"\x08" + s.pack(">HH", h, w) + bytes([ch]) + bytes(3 * ch)
    out += sof + s.pack(">H", 2 + len(body)) + body
    return out + b"\xff\xd9"


def test_probe_image_dimensions_all_formats(spark):
    """Header-only dimensions for every recognized format — including
    the lossy ones whose PIXEL decode stays NotImplementedError-gated:
    a resolution census must not need a codec library."""
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import (
        encode_png,
        encode_ppm,
        image_metadata_media,
        probe_image_dimensions,
    )

    px = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    gray = px[:, :, :1].copy()
    assert probe_image_dimensions(encode_png(px)) == ("png", 7, 5, 3)
    assert probe_image_dimensions(encode_png(gray)) == ("png", 7, 5, 1)
    assert probe_image_dimensions(encode_ppm(px)) == ("ppm", 7, 5, 3)
    assert probe_image_dimensions(_minimal_jpeg(640, 480)) == ("jpeg", 640, 480, 3)
    assert probe_image_dimensions(
        _minimal_jpeg(31, 17, ch=1, progressive=True, pad=True)
    ) == ("jpeg", 31, 17, 1)
    gif = b"GIF89a" + (1920).to_bytes(2, "little") + (1080).to_bytes(2, "little")
    assert probe_image_dimensions(gif + bytes(4)) == ("gif", 1920, 1080, 3)
    import struct as s

    bmp = b"BM" + bytes(16) + s.pack("<ii", 800, -600) + bytes(2) + s.pack("<H", 24)
    assert probe_image_dimensions(bmp + bytes(4)) == ("bmp", 800, 600, 3)
    import pytest as _pt

    with _pt.raises(ValueError):
        probe_image_dimensions(b"\xff\xd8\xff\xd9")  # JPEG with no SOF
    with _pt.raises(ValueError):
        probe_image_dimensions(b"not an image at all")

    # Spark path: Arrow-batched census with NULLs for undecodables
    rows = [
        ("a.png", "image", bytearray(encode_png(px))),
        ("b.jpg", "image", bytearray(_minimal_jpeg(12, 34))),
        ("c.gif", "image", bytearray(gif + bytes(4))),
        ("bad", "image", bytearray(b"garbage")),
    ]
    media = spark.createDataFrame(
        rows, "path string, modality string, content binary"
    )
    got = {r.path: (r.format, r.width, r.height, r.channels)
           for r in image_metadata_media(media).collect()}
    assert got == {
        "a.png": ("png", 7, 5, 3),
        "b.jpg": ("jpeg", 12, 34, 3),
        "c.gif": ("gif", 1920, 1080, 3),
        "bad": (None, None, None, None),
    }


def test_probe_jpeg_truncated_after_sof_width_raises_valueerror():
    """ADVICE r7: a JPEG stream truncated exactly after the SOF width
    field (the component-count byte missing) must raise the documented
    ValueError, not leak an IndexError from the off-by-one bounds
    guard."""
    import struct as s

    import pytest as _pt

    from portfolio1_etl_spark.operators.multimodal import (
        probe_image_dimensions,
    )

    # SOI + SOF0 header + precision + h + w, cut BEFORE the component
    # count at pos+9 (stream length == pos+10-1)
    cut = b"\xff\xd8" + b"\xff\xc0" + s.pack(">H", 17) + b"\x08" + s.pack(">HH", 5, 7)
    with _pt.raises(ValueError):
        probe_image_dimensions(cut)
