"""TIFF codec + EXIF orientation (operators/tiff) — r7.

One IFD walker serves both consumers, so the tests pin them
separately: TIFF is lossless (bit-exact round trips across byte
orders × channels × strip layouts), and the 8 EXIF orientation
transforms satisfy algebraic identities (involutions, the 6/8
inverse pair, dims swap for 5-8, sum invariance) that hold for ANY
correct implementation — no shared code path with the operator."""

import numpy as np
import pytest

from portfolio1_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg
from portfolio1_etl_spark.operators.tiff import (
    decode_tiff,
    encode_tiff,
    exif_orientation,
    orient_pixels,
    with_exif_orientation,
)


@pytest.mark.parametrize("big_endian", [False, True])
@pytest.mark.parametrize("color", [False, True])
@pytest.mark.parametrize("rows_per_strip", [0, 1, 3])
def test_tiff_lossless_roundtrip(big_endian, color, rows_per_strip):
    rng = np.random.RandomState(7 + big_endian + 2 * color + rows_per_strip)
    for shape in [(1, 1), (7, 11), (16, 5)]:
        full = (*shape, 3) if color else shape
        px = rng.randint(0, 256, full, dtype=np.uint8)
        dec, w, h = decode_tiff(
            encode_tiff(px, big_endian=big_endian, rows_per_strip=rows_per_strip)
        )
        assert (w, h) == (shape[1], shape[0])
        assert (dec == px).all()


def test_tiff_malformed_and_unsupported_raise():
    px = np.zeros((4, 4, 3), np.uint8)
    enc = encode_tiff(px)
    with pytest.raises(ValueError):
        decode_tiff(b"II*\x00 nope")
    with pytest.raises(ValueError):
        decode_tiff(enc[: len(enc) // 3])
    with pytest.raises(ValueError):
        decode_tiff(b"XX\x2a\x00")  # bad byte-order mark
    # flip the compression tag to LZW (5): loud, not garbage
    import struct

    lzw = bytearray(enc)
    # find the compression entry (tag 0x0103, value short 1) in the IFD
    idx = lzw.find(struct.pack("<HH", 0x0103, 3))
    assert idx > 0
    lzw[idx + 8 : idx + 10] = struct.pack("<H", 5)
    with pytest.raises(NotImplementedError, match="compressed TIFF"):
        decode_tiff(bytes(lzw))


def test_exif_orientation_probe_both_endians_and_absence():
    img = np.full((6, 9), 80, dtype=np.uint8)
    jpg = encode_jpeg(img, quality=90)
    assert exif_orientation(jpg) == 1  # no APP1
    assert exif_orientation(b"GIF89a......") == 1  # not a JPEG
    for be in (False, True):
        for o in range(1, 9):
            tagged = with_exif_orientation(jpg, o, big_endian=be)
            assert exif_orientation(tagged) == o
            # the APP1 segment must not disturb the pixel decode
            assert np.array_equal(decode_jpeg(tagged)[0], decode_jpeg(jpg)[0])


def test_orientation_transform_algebra():
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, (4, 7, 3), dtype=np.uint8)
    # 2,3,4,5,7 are involutions; 6 and 8 invert each other
    for o in (2, 3, 4, 5, 7):
        assert (orient_pixels(orient_pixels(px, o), o) == px).all()
    assert (orient_pixels(orient_pixels(px, 6), 8) == px).all()
    assert (orient_pixels(orient_pixels(px, 8), 6) == px).all()
    for o in (5, 6, 7, 8):
        assert orient_pixels(px, o).shape[:2] == (7, 4)
    for o in (1, 2, 3, 4):
        assert orient_pixels(px, o).shape[:2] == (4, 7)
    for o in range(1, 9):
        assert int(orient_pixels(px, o).sum()) == int(px.sum())
    with pytest.raises(ValueError):
        orient_pixels(px, 9)
    # a concrete anchor: rotate-90-CW of a marked corner
    m = np.zeros((2, 3), np.uint8)
    m[0, 0] = 255  # top-left
    r = orient_pixels(m, 6)  # stored rotated-90-CCW → upright = CW
    assert r.shape == (3, 2) and r[0, 1] == 255  # corner moves to top-right


def test_tiff_through_decode_media_probe_and_transcode(spark, tmp_path):
    from portfolio1_etl_spark.operators.multimodal import (
        decode_media,
        decode_png,
        probe_image_dimensions,
        read_media_dir,
        transcode_media,
    )

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, (5, 8, 3), dtype=np.uint8)
    enc = encode_tiff(px, big_endian=True, rows_per_strip=2)
    modality, vals, dims = decode_media(enc)
    assert modality == "image" and dims == "8x5"
    assert (vals.reshape(5, 8, 3) == px).all()
    assert probe_image_dimensions(enc) == ("tiff", 8, 5, 3)
    gray = rng.randint(0, 256, (4, 6), dtype=np.uint8)
    assert probe_image_dimensions(encode_tiff(gray)) == ("tiff", 6, 4, 1)
    d = tmp_path / "t"
    d.mkdir()
    (d / "a.tif").write_bytes(enc)
    out = transcode_media(read_media_dir(spark, str(d)), "png").collect()
    png_px, _, _ = decode_png(bytes(out[0].content))
    assert (png_px == px).all()


# --- MP4 box walk (header-only video tier) ----------------------------------


def test_mp4_probe_reads_real_box_structure():
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_stub,
        probe_mp4_metadata,
    )

    for dur, w, h, nt in [(1000, 640, 480, 1), (98765, 1920, 1080, 3), (7, 16, 16, 2)]:
        assert probe_mp4_metadata(encode_mp4_stub(dur, w, h, nt)) == (dur, w, h, nt)
    # 64-bit largesize box wrapping the same moov must parse too
    import struct

    enc = encode_mp4_stub(5000, 320, 240, 1)
    # rewrite the moov box header to size==1 + largesize
    i = enc.index(b"moov") - 4
    size = struct.unpack(">I", enc[i : i + 4])[0]
    big = (
        enc[:i]
        + struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", size + 8)
        + enc[i + 8 : i + size]
        + enc[i + size :]
    )
    assert probe_mp4_metadata(big) == (5000, 320, 240, 1)


def test_mp4_probe_malformed_raises():
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_stub,
        probe_mp4_metadata,
    )

    with pytest.raises(ValueError):
        probe_mp4_metadata(b"\x00\x00\x00\x08free")  # no ftyp
    with pytest.raises(ValueError):
        probe_mp4_metadata(encode_mp4_stub(5000, 320, 240, 1)[:40])
    with pytest.raises(ValueError):
        probe_mp4_metadata(b"\x00\x00\x00\x10ftypisom corrupt")  # no moov


# --- EXIF privacy scrub (r8) -------------------------------------------------


class TestScrubExif:
    def test_whitelist_rebuild_strips_gps_keeps_orientation(self):
        from portfolio1_etl_spark.operators.tiff import (
            _read_ifd,
            exif_app1_with_gps,
            scrub_exif,
        )

        for big_endian in (False, True):
            jpeg = (
                b"\xff\xd8"
                + exif_app1_with_gps(6, 48, 11, big_endian=big_endian)
                + b"\xff\xdb\x00\x04\x00\x00"
                + b"\xff\xdaPAYLOAD"
            )
            clean, had_gps, ori = scrub_exif(jpeg)
            assert had_gps and ori == 6
            tags = _read_ifd(clean, base=12)
            assert 0x8825 not in tags
            assert tags[0x0112] == [6]
            assert clean.endswith(b"\xff\xdaPAYLOAD")
            # idempotent: scrubbing the clean stream changes nothing
            clean2, gps2, ori2 = scrub_exif(clean)
            assert clean2 == clean and not gps2 and ori2 == 6

    def test_no_exif_passthrough_and_malformed(self):
        import pytest

        from portfolio1_etl_spark.operators.tiff import scrub_exif

        plain = b"\xff\xd8\xff\xdaX"
        clean, gps, ori = scrub_exif(plain)
        assert clean == plain and not gps and ori is None
        with pytest.raises(ValueError):
            scrub_exif(b"no soi here")

    def test_exif_without_orientation_is_dropped_entirely(self):
        """A GPS-only Exif segment has no whitelisted tag to keep —
        the rebuilt stream carries NO APP1 at all."""
        import struct as _s

        from portfolio1_etl_spark.operators.tiff import (
            exif_app1_with_gps,
            scrub_exif,
        )

        app1 = exif_app1_with_gps(1, 10, 20)
        # surgically zero the orientation tag id so only GPS remains
        body = bytearray(app1)
        idx = app1.index(_s.pack("<HHI", 0x0112, 3, 1))
        body[idx : idx + 2] = b"\xff\xfe"  # unknown tag id
        jpeg = b"\xff\xd8" + bytes(body) + b"\xff\xdaX"
        clean, had_gps, ori = scrub_exif(jpeg)
        assert had_gps and ori is None
        assert b"Exif" not in clean

    def test_fill_bytes_and_rst_markers_do_not_desync(self):
        """Review regression (r8): spec-legal 0xFF fill bytes and
        length-less TEM/RSTn markers before the Exif segment must not
        desync the walk — a desynced scrub FAILS OPEN, copying GPS
        through unscrubbed with had_gps=False."""
        from portfolio1_etl_spark.operators.tiff import (
            _read_ifd,
            exif_app1_with_gps,
            scrub_exif,
        )

        jpeg = (
            b"\xff\xd8" + b"\xff"            # fill byte
            + exif_app1_with_gps(6, 48, 11)
            + b"\xff\xdaX"
        )
        clean, had_gps, ori = scrub_exif(jpeg)
        assert had_gps and ori == 6
        assert 0x8825 not in _read_ifd(clean, base=12)
        jpeg2 = (
            b"\xff\xd8\xff\x01\xff\xd3"      # TEM + RST3, no length
            + exif_app1_with_gps(2, 1, 2)
            + b"\xff\xdaY"
        )
        clean2, gps2, ori2 = scrub_exif(jpeg2)
        assert gps2 and ori2 == 2
        assert clean2.startswith(b"\xff\xd8\xff\x01\xff\xd3")

    def test_gps_in_thumbnail_ifd_is_reported(self):
        """Review regression (r8): a GPSInfo pointer living in IFD1
        (the thumbnail IFD — cameras duplicate metadata there) is
        destroyed by the rebuild AND counted by the audit flag."""
        import struct as _s

        from portfolio1_etl_spark.operators.tiff import (
            _TAG_ORIENTATION,
            scrub_exif,
        )

        e = "<"
        ifd0 = _s.pack(e + "H", 1)
        ifd0 += _s.pack(e + "HHI", _TAG_ORIENTATION, 3, 1)
        ifd0 += _s.pack(e + "H", 5) + b"\x00\x00"
        ifd1_off = 8 + 2 + 12 + 4
        ifd0 += _s.pack(e + "I", ifd1_off)
        ifd1 = _s.pack(e + "H", 1)
        ifd1 += _s.pack(e + "HHII", 0x8825, 4, 1, 200)
        ifd1 += _s.pack(e + "I", 0)
        tiff = b"II" + _s.pack(e + "H", 42) + _s.pack(e + "I", 8) + ifd0 + ifd1
        payload = b"Exif\x00\x00" + tiff
        app1 = b"\xff\xe1" + _s.pack(">H", 2 + len(payload)) + payload
        clean, had_gps, ori = scrub_exif(b"\xff\xd8" + app1 + b"\xff\xdaZ")
        assert had_gps and ori == 5
        assert scrub_exif(clean)[1] is False


def test_mp4_sample_table_probe_roundtrip():
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_sample_tables,
        probe_mp4_sample_tables,
    )

    b = encode_mp4_sample_tables(
        [
            {"codec": "avc1", "timescale": 3000,
             "runs": [(5, 100), (5, 200)], "sizes": list(range(41, 51))},
            {"codec": "mp4a", "timescale": 1000,
             "runs": [(12, 100)], "sizes": 73},
        ]
    )
    assert probe_mp4_sample_tables(b) == [
        (1, "avc1", 10, 455, 500, 7280),
        (2, "mp4a", 12, 876, 1200, 5840),
    ]
    # count disagreement between stts and stsz refuses the object
    import pytest as _pytest

    bad = encode_mp4_sample_tables(
        [{"codec": "avc1", "timescale": 1000,
          "runs": [(4, 100)], "sizes": 10}]
    )
    i = bad.index(b"stts") + 4
    bad = bad[: i + 4] + b"\x00\x00\x00\x09" + bad[i + 8 :]
    with _pytest.raises(ValueError):
        probe_mp4_sample_tables(bad)


# --- MP4 sample extraction (r13) --------------------------------------------


def _payload_mp4(samples_per_chunk=None, payloads=None):
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_sample_tables,
    )

    payloads = payloads if payloads is not None else [
        [bytes([i]) * (10 + i) for i in range(7)]
    ]
    tr = {
        "codec": "avc1",
        "timescale": 90000,
        "runs": [(len(payloads[0]), 3000)],
        "sizes": 0,
    }
    if samples_per_chunk:
        tr["samples_per_chunk"] = samples_per_chunk
    return encode_mp4_sample_tables([tr], payloads=payloads), payloads


def test_mp4_extract_samples_roundtrip_single_chunk():
    """Every sample slices back byte-exact through stsz/stsc/stco when
    the track muxes as one chunk."""
    from portfolio1_etl_spark.operators.multimodal import (
        extract_mp4_samples,
        probe_mp4_sample_tables,
    )

    mp4, payloads = _payload_mp4()
    assert extract_mp4_samples(mp4) == payloads[0]
    assert extract_mp4_samples(mp4, indices=[6, 0, 3]) == [
        payloads[0][6], payloads[0][0], payloads[0][3],
    ]
    # the census still reads the same file (sizes now payload-derived)
    (idx, codec, n, total, _, _), = probe_mp4_sample_tables(mp4)
    assert (idx, codec, n, total) == (
        1, "avc1", 7, sum(len(p) for p in payloads[0])
    )


def test_mp4_extract_samples_multi_chunk_and_short_tail():
    """Chunked layout (3 samples per chunk, short final chunk): the
    stsc run-length map plus per-chunk stco offsets must resolve every
    sample, including the tail chunk's."""
    from portfolio1_etl_spark.operators.multimodal import (
        extract_mp4_samples,
    )

    mp4, payloads = _payload_mp4(samples_per_chunk=3)
    assert extract_mp4_samples(mp4) == payloads[0]


def test_mp4_extract_samples_two_tracks():
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_sample_tables,
        extract_mp4_samples,
    )

    pay = [
        [b"video-%d" % i for i in range(4)],
        [b"AUDIO" * (i + 1) for i in range(3)],
    ]
    mp4 = encode_mp4_sample_tables(
        [
            {"codec": "avc1", "timescale": 90000,
             "runs": [(4, 3000)], "sizes": 0, "samples_per_chunk": 2},
            {"codec": "mp4a", "timescale": 44100,
             "runs": [(3, 1024)], "sizes": 0},
        ],
        payloads=pay,
    )
    assert extract_mp4_samples(mp4, track=1) == pay[0]
    assert extract_mp4_samples(mp4, track=2) == pay[1]


def test_mp4_extract_samples_fails_loudly():
    import pytest

    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_sample_tables,
        extract_mp4_samples,
    )

    mp4, _ = _payload_mp4()
    with pytest.raises(ValueError, match="not an MP4"):
        extract_mp4_samples(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError, match="out of range"):
        extract_mp4_samples(mp4, indices=[99])
    with pytest.raises(ValueError):
        extract_mp4_samples(mp4, track=9)
    # census-only fixture (no stsc/stco): refuses, never guesses
    census_only = encode_mp4_sample_tables(
        [{"codec": "avc1", "timescale": 90000,
          "runs": [(4, 3000)], "sizes": 11}]
    )
    with pytest.raises(ValueError, match="stsc"):
        extract_mp4_samples(census_only)
    # truncating the file below the mdat makes ranges fall outside
    with pytest.raises(ValueError, match="outside file"):
        extract_mp4_samples(mp4[: len(mp4) - 30], indices=[6])


def test_sample_frames_mp4_returns_real_samples(spark):
    """The map_rows fan-out returns the muxed compressed samples
    for MP4 (evenly spaced, always including the last), and falls back
    to byte chunks for an unresolvable census-only file."""
    from portfolio1_etl_spark.operators.multimodal import sample_frames

    mp4, payloads = _payload_mp4(samples_per_chunk=3)
    media = spark.createDataFrame(
        [("a.mp4", bytearray(mp4))], "path string, content binary"
    )
    rows = sample_frames(media, n_frames=4).orderBy("frame_no").collect()
    got = [bytes(r.frame) for r in rows]
    # picks over 7 samples at n=4: indices 0, 2, 4, 6
    assert got == [payloads[0][i] for i in (0, 2, 4, 6)]
