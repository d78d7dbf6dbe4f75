"""[ext] Multimodal columns: image/audio/video as opaque BINARY columns
with typed metadata (SURVEY.md §2.13).

Spark-side design (all real and tested):
- media rows are ``(path, modality, content binary, meta struct)`` —
  the schema a 100 TB media lake actually uses (content inline for
  small objects, or a reference path for large ones);
- ingestion via ``spark.read.format('binaryFile')``;
- every decode / feature-extraction pass crosses the Python boundary
  through ONE helper, :func:`map_rows` — Arrow record batches of
  binary columns in, Arrow record batches of features out, so the
  boundary is crossed per *batch*, never per row. Each operator is a
  per-row function; the helper owns batching, output assembly and the
  one survival rule: a row whose codec raises one of
  :data:`DECODE_ERRORS` becomes the operator's marked fallback row
  (``undecodable`` / NULLs / pass-through), and any other exception
  fails the task;
- NO repartition before the map: every decode/resize/featurize pass
  dispatches per row on magic bytes, so mixed-modality batches are
  fine and the pass is a pure narrow map over however many partitions
  the scan produced. (An earlier revision repartitioned on
  ``modality`` — a 2-3-distinct-value key that routes a whole corpus
  through 2-3 tasks at scale; if modality-homogeneous batches ever
  pay for a codec context, salt with a high-cardinality second key:
  ``repartition(col("modality"), pmod(xxhash64("path"), lit(N)))``.)

Decode support is two-tier:
- **Real, dependency-free decoders** for PPM (P6), PNG (8-bit
  gray/RGB[A], non-interlaced — stdlib zlib inflate + full
  None/Sub/Up/Average/Paeth unfiltering, ``decode_png``), JPEG
  (``operators.jpeg`` — BOTH baseline and progressive/SOF2 DCT
  processes, full Huffman/DCT/chroma pipeline, all tables read from
  the stream), GIF including ANIMATED (``operators.gif`` — LZW,
  interlace, local palettes, frame compositing with transparency and
  disposal methods), uncompressed 24/32 bpp BMP (``decode_bmp``),
  and WAV audio (PCM16, G.711 mu-law, mono IMA ADPCM via
  ``operators.audio``) — no image/audio library needed, exercised
  end-to-end by oracle-checked encode→decode round trips
  (q91/q102/q142-q145) and the codec fuzz families.
- Remaining codec families (MP3/MP4) need soundfile/av, which this
  image does not ship: ``decode_media`` raises a clearly-marked
  ``NotImplementedError`` for those, and the digest-feature path
  (``featurize_media``) remains the library-free fallback.
- **Header-only metadata** (r7) sits between the tiers:
  ``probe_image_dimensions`` / ``image_metadata_media`` read
  (format, width, height, channels) from file headers alone — JPEG
  SOF-walk, GIF/BMP headers, PNG IHDR, PPM — so resolution censuses,
  size-bucketed partitioning, and data cards stay a few hundred
  bytes per object even where pixel inflation is unnecessary.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: What a codec raises on content it cannot decode: malformed headers
#: and values (ValueError), a documented format boundary
#: (NotImplementedError), a stream shorter than its own length fields
#: (IndexError, struct.error) and a corrupt deflate stream (zlib.error).
#: The one decode-error rule of every media pass. Never widen it to
#: ``Exception``: a bug in the per-row code must fail the task, not
#: turn the whole corpus into marked rows.
DECODE_ERRORS = (ValueError, NotImplementedError, IndexError, struct.error, zlib.error)


def map_rows(
    df: DataFrame,
    fn: Callable[..., tuple],
    schema: T.StructType | str,
    cols: Sequence[str],
    on_error: Callable[..., tuple] | None = None,
) -> DataFrame:
    """Apply ``fn(*row)`` to the ``cols`` values of every row of ``df``
    and return one output row per input row, typed by ``schema`` (a
    ``StructType`` or a DDL string).

    Runs as one Arrow-batched ``mapInArrow`` narrow map: inputs are
    read with ``to_pylist()`` and each output column is built with
    ``pa.array(values, type=...)`` from the Arrow form of ``schema``,
    so a nullable ``long`` stays exact (pandas would turn ``[1, None]``
    into float64). When ``fn`` raises one of :data:`DECODE_ERRORS` the
    row becomes ``on_error(*row)``, or the error propagates when
    ``on_error`` is None; any other exception fails the task.

    Fan-out stays one row in, one row out: return an ``array<struct>``
    column and expand it with ``F.inline`` — an empty array drops the
    row, a one-element array of nulls gives one NULL row."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)

    def op(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = to_arrow_schema(schema)
        for batch in batches:
            rows = []
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                try:
                    rows.append(fn(*row))
                except DECODE_ERRORS:
                    if on_error is None:
                        raise
                    rows.append(on_error(*row))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[i] for r in rows], type=field.type)
                    for i, field in enumerate(out_schema)
                ],
                schema=out_schema,
            )

    return df.select(*cols).mapInArrow(op, schema)


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("length", T.LongType()),
                    T.StructField("mime", T.StringType()),
                ]
            ),
        ),
    ]
)

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

_EXT_MODALITY = {
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "png": ("image", "image/png"),
    "gif": ("image", "image/gif"),
    "bmp": ("image", "image/bmp"),
    "ppm": ("image", "image/x-portable-pixmap"),
    "tif": ("image", "image/tiff"),
    "tiff": ("image", "image/tiff"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "mp4": ("video", "video/mp4"),
}


def read_media_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Ingest a directory of media files as typed binary rows via the
    binaryFile source (distributed scan; content never touches the
    driver)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    ext = F.lower(F.element_at(F.split(F.col("path"), "\\."), -1))
    modality = F.coalesce(
        *[F.when(ext == k, F.lit(v[0])) for k, v in _EXT_MODALITY.items()],
        F.lit("unknown"),
    )
    mime = F.coalesce(
        *[F.when(ext == k, F.lit(v[1])) for k, v in _EXT_MODALITY.items()],
        F.lit("application/octet-stream"),
    )
    return raw.select(
        F.col("path"),
        modality.alias("modality"),
        F.col("content"),
        F.struct(F.col("length").alias("length"), mime.alias("mime")).alias("meta"),
    )


# --- real dependency-free codecs (PPM P6 images, WAV PCM16 audio) ----------


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary PPM (P6) file."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_ppm expects (h, w, 3) uint8")
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()


def decode_ppm(b: bytes) -> tuple[np.ndarray, int, int]:
    """Parse a binary PPM (P6): magic, whitespace/comment-tolerant
    header (width height maxval), then raw RGB bytes. Returns
    (pixels (h, w, 3) uint8, width, height)."""
    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    pixels = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=pos)
    return pixels.reshape(h, w, 3), w, h


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type → samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_filter_row(
    ftype: int, row: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one unfiltered scanline (int32 in,
    uint8 out). ``prev`` is the previous UNfiltered scanline."""
    left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
    upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
    if ftype == 0:
        out = row
    elif ftype == 1:  # Sub
        out = row - left
    elif ftype == 2:  # Up
        out = row - prev
    elif ftype == 3:  # Average
        out = row - (left + prev) // 2
    elif ftype == 4:  # Paeth
        p = left + prev - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
        )
        out = row - pred
    else:
        raise ValueError(f"unknown PNG filter {ftype}")
    return (out % 256).astype(np.uint8)


#: channel count → PNG color type (inverse of _PNG_CHANNELS)
_PNG_CTYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def encode_png(pixels: np.ndarray, filters: list[int] | None = None) -> bytes:
    """Encode an (h, w, c) uint8 array (c ∈ {1 gray, 2 gray+alpha,
    3 RGB, 4 RGBA}) as a non-interlaced 8-bit PNG — stdlib zlib only.
    ``filters`` picks the per-row filter type (default all 0); passing
    varied types makes round-trip tests exercise every unfilter branch
    (Sub/Up/Average/Paeth) across every channel layout the decoder
    supports."""
    if (
        pixels.ndim != 3
        or pixels.shape[2] not in _PNG_CTYPE
        or pixels.dtype != np.uint8
    ):
        raise ValueError("encode_png expects (h, w, 1|2|3|4) uint8")
    h, w, ch = pixels.shape
    stride, bpp = w * ch, ch
    rows = pixels.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        ftype = filters[y % len(filters)] if filters else 0
        raw.append(ftype)
        raw += _png_filter_row(ftype, rows[y], prev, bpp).tobytes()
        prev = rows[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_CTYPE[ch], 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(b: bytes) -> tuple[np.ndarray, int, int]:
    """Dependency-free PNG decode: chunk walk (CRC-checked), stdlib
    zlib inflate of the concatenated IDAT stream, then per-scanline
    unfilter (None/Sub/Up/Average/Paeth). Supports 8-bit depth,
    gray / gray+alpha / RGB / RGBA, non-interlaced. Returns
    (pixels (h, w, channels) uint8, width, height)."""
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG file")
    pos, idat, meta = 8, bytearray(), None
    while pos + 8 <= len(b):
        size = struct.unpack(">I", b[pos : pos + 4])[0]
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + size]
        crc = struct.unpack(">I", b[pos + 8 + size : pos + 12 + size])[0]
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            meta = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + size
    if meta is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, ctype, comp, filt, interlace = meta
    if depth != 8 or ctype not in _PNG_CHANNELS or comp or filt or interlace:
        raise NotImplementedError(
            f"only 8-bit non-interlaced gray/RGB[A] PNGs supported "
            f"(depth={depth}, color={ctype}, interlace={interlace})"
        )
    ch = _PNG_CHANNELS[ctype]
    stride, bpp = w * ch, ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel payload has the wrong length")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) % 256
        elif ftype == 1:  # Sub is a per-channel prefix sum — vectorize
            cur = (
                np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.int64) % 256
            ).reshape(-1).astype(np.int32)
        elif ftype in (3, 4):  # Average/Paeth need the running left
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                up = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 3:
                    pred = (a + up) // 2
                else:
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                cur[x] = (row[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, ch), w, h


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode int16 mono samples as a RIFF/WAVE PCM16 file (44-byte
    canonical header + little-endian samples)."""
    if samples.dtype != np.int16:
        raise ValueError("encode_wav expects int16 samples")
    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE file: walk the chunk list, read the fmt
    chunk, return (int16 samples, sample_rate). Natively decoded
    formats (r7): PCM16 (tag 1), G.711 mu-law (tag 7), and mono
    IMA/DVI ADPCM (tag 0x11) — the compressed telephony/voice-corpus
    codecs, both exactly-specified integer algorithms
    (``operators.audio``). Anything else (MP3-in-WAV, float PCM,
    multichannel) stays a loud NotImplementedError."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, sample_rate, data = 12, None, None
    fmt = channels = bits = block_align = None
    fact_samples = adpcm_spb = None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, sample_rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            # IMA ADPCM carries samples-per-block in the fmt extra —
            # the authoritative per-block count when fact is absent
            # (a spec-valid writer may omit fact; without this the
            # final pad nibble becomes a phantom sample)
            if fmt == 0x11 and len(body) >= 20:
                adpcm_spb = struct.unpack("<H", body[18:20])[0]
        elif cid == b"fact" and size >= 4:
            fact_samples = struct.unpack("<I", body[:4])[0]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if (fmt, channels, bits) == (1, 1, 16):
        return np.frombuffer(data, dtype="<i2"), sample_rate
    if (fmt, channels, bits) == (7, 1, 8):
        from portfolio1_etl_spark.operators.audio import mulaw_decode

        codes = np.frombuffer(data, dtype=np.uint8)
        if fact_samples is not None:
            codes = codes[:fact_samples]
        return mulaw_decode(codes), sample_rate
    if (fmt, channels, bits) == (0x11, 1, 4):
        from portfolio1_etl_spark.operators.audio import decode_wav_adpcm_data

        return (
            decode_wav_adpcm_data(
                data, block_align, fact_samples,
                samples_per_block=adpcm_spb,
            ),
            sample_rate,
        )
    raise NotImplementedError(
        f"unsupported WAV encoding (fmt={fmt}, ch={channels}, bits={bits}); "
        "PCM16, mu-law, and mono IMA ADPCM decode natively"
    )


def encode_bmp(pixels: np.ndarray, top_down: bool = False, bpp: int = 24) -> bytes:
    """Encode (h, w, 3) uint8 RGB as an uncompressed BITMAPINFOHEADER
    BMP — 24 bpp BGR rows padded to 4 bytes, or 32 bpp BGRX. Negative
    height encodes top-down row order (both orders exist in the wild,
    so both need a round-trip partner for :func:`decode_bmp`)."""
    px = np.asarray(pixels)
    if px.dtype != np.uint8 or px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("pixels must be uint8 (h,w,3)")
    if bpp not in (24, 32):
        raise ValueError("bpp must be 24 or 32")
    h, w = px.shape[:2]
    bgr = px[:, :, ::-1]
    if bpp == 32:
        rows = np.concatenate(
            [bgr, np.zeros((h, w, 1), dtype=np.uint8)], axis=2
        ).reshape(h, -1)
    else:
        stride = (3 * w + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : 3 * w] = bgr.reshape(h, -1)
    if not top_down:
        rows = rows[::-1]
    data = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp, 0, len(data),
        2835, 2835, 0, 0,
    )
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return hdr + info + data


def decode_bmp(b: bytes) -> tuple[np.ndarray, int, int]:
    """Decode an uncompressed 24/32 bpp BITMAPINFOHEADER BMP. Returns
    ((h, w, 3) uint8 RGB, w, h); handles bottom-up and top-down rows
    and 4-byte row padding. Palettized / RLE / bitfield variants raise
    NotImplementedError (a documented boundary — 24 bpp is what media
    pipelines emit)."""
    if b[:2] != b"BM" or len(b) < 54:
        raise ValueError("not a BMP / truncated header")
    data_off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h_signed = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    compression = struct.unpack("<I", b[30:34])[0]
    if compression != 0:
        raise NotImplementedError(f"compressed BMP (method {compression}) not supported")
    if bpp not in (24, 32):
        raise NotImplementedError(f"{bpp} bpp BMP not supported (24/32 only)")
    if w <= 0 or h_signed == 0:
        raise ValueError("invalid BMP dimensions")
    top_down = h_signed < 0
    h = abs(h_signed)
    stride = (w * (bpp // 8) + 3) & ~3
    need = data_off + stride * h
    if len(b) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(b[data_off : data_off + stride * h], dtype=np.uint8)
    rows = rows.reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    px = rows[:, : w * (bpp // 8)].reshape(h, w, bpp // 8)
    return px[:, :, 2::-1].copy(), w, h  # BGR(X) -> RGB


def decode_media(content: bytes) -> tuple[str, np.ndarray, str]:
    """Decode one media object by magic bytes. Returns
    (modality, values int64, dims) where values are pixel bytes
    (image) or PCM16 samples (audio) and dims is '{w}x{h}' or
    '{rate}Hz'.

    Native dependency-free decoders cover PPM, PNG (zlib inflate +
    unfilter), JPEG in both DCT processes (``operators.jpeg`` —
    baseline AND progressive, tables read from the stream), GIF
    (``operators.gif.decode_gif`` — LZW, interlace, local palettes,
    first composited frame of animations), uncompressed BMP, and WAV
    (PCM16 / mu-law / IMA ADPCM). The remaining boundary raises a
    clearly-marked ``NotImplementedError``: MP3/MP4 (codec families
    needing soundfile/av)."""
    if content[:2] == b"P6":
        pixels, w, h = decode_ppm(content)
        return "image", pixels.reshape(-1).astype(np.int64), f"{w}x{h}"
    if content[:8] == _PNG_SIG:
        pixels, w, h = decode_png(content)
        return "image", pixels.reshape(-1).astype(np.int64), f"{w}x{h}"
    if content[:2] == b"\xff\xd8":
        from portfolio1_etl_spark.operators.jpeg import decode_jpeg

        pixels, w, h = decode_jpeg(content)
        return "image", pixels.reshape(-1).astype(np.int64), f"{w}x{h}"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        from portfolio1_etl_spark.operators.gif import decode_gif

        pixels, w, h = decode_gif(content)
        return "image", pixels.reshape(-1).astype(np.int64), f"{w}x{h}"
    if content[:2] == b"BM":
        pixels, w, h = decode_bmp(content)
        return "image", pixels.reshape(-1).astype(np.int64), f"{w}x{h}"
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from portfolio1_etl_spark.operators.tiff import decode_tiff

        pixels, w, h = decode_tiff(content)
        return "image", pixels.reshape(-1).astype(np.int64), f"{w}x{h}"
    # RIFF alone is not enough — WebP/AVI are RIFF containers too;
    # only RIFF/WAVE routes to the WAV decoder.
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        samples, rate = decode_wav(content)
        return "audio", samples.astype(np.int64), f"{rate}Hz"
    raise NotImplementedError(
        "media decode for this format requires an audio/video library "
        "(MP3/MP4 via soundfile/av — not available in this image); "
        "PPM, PNG, JPEG (baseline + progressive), GIF, BMP, and WAV "
        "(PCM16/mu-law/ADPCM) decode natively"
    )


DECODED_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_units", T.LongType()),
        T.StructField("dims", T.StringType()),
        T.StructField("mean_val", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def decode_media_features(media: DataFrame) -> DataFrame:
    """REAL decode pass: parse each binary object (PPM/WAV via the
    native codecs), then aggregate the decoded pixel/sample values to
    per-object features — unit count, dims string ('8x8' / '8000Hz'),
    mean value, RMS. A :func:`map_rows` narrow map; sums run in int64
    (exact up to ~2^33 PCM16 samples per object), so the final double
    division and sqrt are bit-reproducible across engines. One
    undecodable object must not kill a corpus-wide job: its row
    survives with its input modality, ``dims='undecodable'`` and zero
    features."""

    def _features(path, in_modality, content):
        modality, vals, dims = decode_media(content)
        n = len(vals)
        s, s2 = int(vals.sum()), int((vals * vals).sum())
        mean = s / n if n else 0.0
        rms = float(np.sqrt(s2 / n)) if n else 0.0
        return path, modality, len(content), n, dims, mean, rms

    def _undecodable(path, modality, content):
        return path, modality, len(content), 0, "undecodable", 0.0, 0.0

    return map_rows(
        media, _features, DECODED_FEATURES_SCHEMA,
        ["path", "modality", "content"], on_error=_undecodable,
    )


def _fake_features(content: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a decoder+encoder: 8 floats derived
    from the sha256 digest — stable across engines and runs."""
    digest = hashlib.sha256(content).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)
    ]


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("length", T.LongType()),
                    T.StructField("mime", T.StringType()),
                    T.StructField("target_px", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def resize_ppm(b: bytes, target_px: int) -> bytes:
    """REAL image resize for PPM content: decode, nearest-neighbor
    downsample to at most ``target_px`` on the long edge (pure numpy
    index striding — deterministic, no interpolation library), then
    re-encode. Upscaling is a no-op (training pipelines shrink)."""
    pixels, w, h = decode_ppm(b)
    scale = max(w, h) / target_px
    if scale <= 1.0:
        return b
    nw, nh = max(int(w / scale), 1), max(int(h / scale), 1)
    rows = (np.arange(nh) * h) // nh
    cols = (np.arange(nw) * w) // nw
    return encode_ppm(pixels[rows][:, cols])


def resize_media(media: DataFrame, target_px: int = 256) -> DataFrame:
    """Resize/transcode pass over a media column via :func:`map_rows`.
    PPM, RGB PNG, baseline JPEG, GIF, and BMP images resize for REAL
    (decode → nearest-neighbor downsample → re-encode in the SAME
    format, r7); remaining formats fall back to a deterministic
    byte-decimation stand-in (MP3/MP4 need soundfile/av, absent in
    this image). The Spark-side contract — binary in / smaller binary
    out per Arrow batch, metadata struct rewritten — is identical on
    both paths. Each format's decode error (:data:`DECODE_ERRORS`)
    falls through to the next path, so no object kills the task."""

    def _shrink(pixels: np.ndarray, w: int, h: int) -> np.ndarray | None:
        """Nearest-neighbor downsample to ≤ target_px on the long
        edge; None means 'already small enough, keep the original'
        (upscaling is a no-op — training pipelines shrink)."""
        scale = max(w, h) / target_px
        if scale <= 1.0:
            return None
        nw, nh = max(int(w / scale), 1), max(int(h / scale), 1)
        rows = (np.arange(nh) * h) // nh
        cols = (np.arange(nw) * w) // nw
        return pixels[rows][:, cols]

    def _resize_one(b: bytes) -> bytes:
        if b[:2] == b"P6":
            try:
                return resize_ppm(b, target_px)
            except DECODE_ERRORS:
                pass  # malformed P6 → fall through, don't kill the job
        if b[:8] == _PNG_SIG:
            try:
                pixels, w, h = decode_png(b)
                if pixels.shape[2] == 3:  # RGB re-encodes natively
                    small = _shrink(pixels, w, h)
                    return b if small is None else encode_png(small)
            except DECODE_ERRORS:
                pass  # unsupported/malformed PNG → stand-in path
        if b[:2] == b"\xff\xd8":
            try:
                from portfolio1_etl_spark.operators.jpeg import (
                    decode_jpeg,
                    encode_jpeg,
                )

                pixels, w, h = decode_jpeg(b)
                small = _shrink(pixels, w, h)
                return b if small is None else encode_jpeg(small, quality=85)
            except DECODE_ERRORS:
                pass  # corrupt JPEG → stand-in path
        if b[:6] in (b"GIF87a", b"GIF89a"):
            try:
                from portfolio1_etl_spark.operators.gif import (
                    decode_gif,
                    encode_gif,
                )

                pixels, w, h = decode_gif(b)
                small = _shrink(pixels, w, h)
                # a pixel subset of a palette image stays ≤256 colors
                return b if small is None else encode_gif(small)
            except DECODE_ERRORS:
                pass
        if b[:2] == b"BM":
            try:
                pixels, w, h = decode_bmp(b)
                small = _shrink(pixels, w, h)
                return b if small is None else encode_bmp(small)
            except DECODE_ERRORS:
                pass
        if b[:4] in (b"II*\x00", b"MM\x00*"):
            try:
                from portfolio1_etl_spark.operators.tiff import (
                    decode_tiff,
                    encode_tiff,
                )

                pixels, w, h = decode_tiff(b)
                small = _shrink(pixels, w, h)
                return b if small is None else encode_tiff(small)
            except DECODE_ERRORS:
                pass
        # deterministic stand-in for codec-backed formats: a resize
        # produces smaller content derived from the original.
        return bytes(b[::2])

    def _row(path, modality, content, meta):
        small = _resize_one(content)
        return path, modality, small, (len(small), meta["mime"], target_px)

    return map_rows(
        media, _row, RESIZED_SCHEMA, ["path", "modality", "content", "meta"]
    )


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling for video/audio: one media row fans out to
    ``n_frames`` rows — :func:`map_rows` returns one ``array<struct>``
    of frames per object and ``F.inline`` expands it (the one-to-many
    shape). Two REAL paths (r7):
    WAV audio splits the PCM stream into ``n_frames`` equal windows,
    each re-encoded as a standalone WAV clip; ANIMATED GIF decodes
    and composites its frame sequence (``gif.decode_gif_frames``) and
    evenly samples ``n_frames`` composited canvases, each re-encoded
    as a single-frame GIF — actual video-frame extraction, not byte
    math. MP4 resolves REAL samples (r13): evenly-spaced track-1
    samples sliced through the stsz/stsc/stco addressing chain
    (``extract_mp4_samples``) — the compressed sample payloads a
    downstream decoder consumes; decoding them stays the library
    boundary. Files whose structure cannot be resolved (no moov, a
    census-only fixture without stco, a malformed table — any of
    :data:`DECODE_ERRORS`) fall back to fixed-stride byte chunks; the
    fan-out schema and batching are identical on every path."""

    def _frames_of(b: bytes) -> list[bytes]:
        # the LAST frame always extends to the end so the frames cover
        # the whole stream for non-divisible lengths too
        def _bounds(length: int, i: int) -> tuple[int, int]:
            stride = max(length // n_frames, 1)
            return i * stride, (i + 1) * stride if i < n_frames - 1 else length

        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            try:
                samples, rate = decode_wav(b)
                return [
                    encode_wav(samples[lo:hi], rate)
                    for lo, hi in (
                        _bounds(len(samples), i) for i in range(n_frames)
                    )
                ]
            except DECODE_ERRORS:
                pass  # malformed WAV → byte chunks
        if b[:6] in (b"GIF87a", b"GIF89a"):
            try:
                from portfolio1_etl_spark.operators.gif import (
                    decode_gif_frames,
                    encode_gif,
                )

                frames, _, _ = decode_gif_frames(b)
                take = min(n_frames, len(frames))
                # evenly spaced, always including the last frame
                picks = [
                    (i * (len(frames) - 1)) // max(take - 1, 1)
                    for i in range(take)
                ]
                return [encode_gif(frames[p]) for p in picks]
            except DECODE_ERRORS:
                pass  # malformed GIF → byte chunks
        if len(b) >= 8 and b[4:8] == b"ftyp":
            try:
                n = probe_mp4_sample_tables(b)[0][2]  # track 1 samples
                take = min(n_frames, n)
                picks = [
                    (i * (n - 1)) // max(take - 1, 1) for i in range(take)
                ]
                return extract_mp4_samples(b, track=1, indices=picks)
            except DECODE_ERRORS:
                pass  # unresolvable structure → byte chunks
        return [
            b[lo:hi] for lo, hi in (_bounds(len(b), i) for i in range(n_frames))
        ]

    def _row(path, content):
        return path, [(i, f, len(f)) for i, f in enumerate(_frames_of(content))]

    # one row per object: path + the FRAMES_SCHEMA frame fields as an array
    frame = T.StructType(FRAMES_SCHEMA.fields[1:])
    per_object = T.StructType(
        [FRAMES_SCHEMA["path"], T.StructField("frames", T.ArrayType(frame))]
    )
    frames = map_rows(media, _row, per_object, ["path", "content"])
    return frames.select("path", F.inline("frames"))


def featurize_media(media: DataFrame) -> DataFrame:
    """Feature-extract every media row via :func:`map_rows`: Arrow
    batches in, Arrow batches out — a pure narrow map, no pre-shuffle
    (the digest featurizer is modality-agnostic and never fails)."""

    def _row(path, modality, content):
        digest = hashlib.sha256(content).hexdigest()
        return path, modality, len(content), digest, _fake_features(content)

    return map_rows(
        media, _row, MEDIA_FEATURES_SCHEMA, ["path", "modality", "content"]
    )


def dhash_bits(pixels: np.ndarray) -> tuple[int, int]:
    """64-bit difference hash (dHash) of a decoded image, returned as
    two 32-bit halves ``(hi, lo)`` so both engines stay inside signed
    64-bit arithmetic (bit 63 of a single word would need unsigned).

    Canonical dHash geometry: a 9-wide × 8-tall grayscale thumbnail —
    each row contributes 8 left-to-right brighter-than comparisons,
    bit k = r·8 + c set iff gray[r][c+1] > gray[r][c]. Grayscale is
    the integer channel mean (sum // n_channels) — integer-exact, so
    a SQL oracle can replay the hash from a pixel generator. The
    input must already be thumbnail-sized (production: resize_media
    first); that is what makes the hash PERCEPTUAL — global
    brightness shifts and sub-threshold pixel noise do not flip
    comparisons, unlike any content-hash of the bytes."""
    h, w = pixels.shape[0], pixels.shape[1]
    if (w - 1) * h != 64:
        raise ValueError(f"dhash needs (w-1)*h == 64 comparisons, got {w}x{h}")
    gray = pixels.astype(np.int64).sum(axis=2) // pixels.shape[2]
    bits = (gray[:, 1:] > gray[:, :-1]).flatten()  # k = r*(w-1) + c
    ks = np.nonzero(bits)[0]
    lo = int(np.sum(1 << ks[ks < 32].astype(np.int64))) if len(ks) else 0
    hi = int(np.sum(1 << (ks[ks >= 32].astype(np.int64) - 32))) if len(ks) else 0
    return hi, lo


def dhash_media(media: DataFrame) -> DataFrame:
    """(path, modality, dh_hi, dh_lo): perceptual dHash per media row
    via :func:`map_rows` over the real decoders (PNG and
    PPM by signature). Narrow map, no shuffle — hashing 100 TB of
    thumbnails is embarrassingly parallel; the 64-bit outputs then
    feed the SAME pigeonhole-blocked Hamming join machinery as the
    text SimHash family (q74/q75), which is the point: one Hamming
    index serves text and images. Undecodable rows yield NULL halves
    (malformed media must not kill the job — resize_media contract)."""

    def _row(path, modality, content):
        if content[:8] == _PNG_SIG:
            px = decode_png(content)[0]
        elif content[:2] == b"P6":
            px = decode_ppm(content)[0]
        else:
            raise ValueError("not a decodable image")
        return (path, modality, *dhash_bits(px))

    return map_rows(
        media, _row,
        "path string, modality string, dh_hi bigint, dh_lo bigint",
        ["path", "modality", "content"],
        on_error=lambda path, modality, content: (path, modality, None, None),
    )


# --------------------------------------------------------------------------
# Header-only metadata probe (r7) — dimensions without pixel decode
# --------------------------------------------------------------------------

#: JPEG start-of-frame markers that carry dimensions: every SOFn except
#: DHT (C4), JPG (C8), and DAC (CC), which reuse the 0xCn slot but are
#: not frames.
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def probe_image_dimensions(content: bytes) -> tuple[str, int, int, int]:
    """(format, width, height, channels) from HEADERS alone — no pixel
    decode, no codec library. Covers the natively-decodable formats
    (PNG, PPM) plus the ones whose PIXEL decode is a documented
    NotImplementedError boundary (JPEG, GIF, BMP): real multimodal
    corpora are mostly JPEG, and partitioning/filtering/data-card
    statistics only need dimensions — a 100 TB resolution census
    should read a few hundred bytes per object, not inflate anything.
    Raises ValueError on unrecognized or malformed headers.

    JPEG dimensions live in the first SOFn segment (height, width,
    components after the 1-byte precision); the walk skips every other
    segment by its declared length, tolerating marker fill bytes
    (0xFF padding) and standalone markers (RSTn/TEM) per the spec."""
    if content[:8] == _PNG_SIG:
        if len(content) < 29 or content[12:16] != b"IHDR":
            raise ValueError("malformed PNG header")
        w, h = struct.unpack(">II", content[16:24])
        ctype = content[25]
        if ctype not in _PNG_CHANNELS:
            raise ValueError(f"unknown PNG color type {ctype}")
        return "png", w, h, _PNG_CHANNELS[ctype]
    if content[:2] == b"P6":
        _, w, h = decode_ppm(content)  # header parse dominates; tiny files
        return "ppm", w, h, 3
    if content[:6] in (b"GIF87a", b"GIF89a"):
        if len(content) < 10:
            raise ValueError("truncated GIF header")
        w, h = struct.unpack("<HH", content[6:10])
        return "gif", w, h, 3
    if content[:2] == b"BM":
        if len(content) < 30:
            raise ValueError("truncated BMP header")
        w, h = struct.unpack("<ii", content[18:26])
        bpp = struct.unpack("<H", content[28:30])[0]
        return "bmp", w, abs(h), max(1, bpp // 8)  # h<0 = top-down rows
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        from portfolio1_etl_spark.operators.tiff import _read_ifd

        tags = _read_ifd(content)
        if 0x0100 not in tags or 0x0101 not in tags:
            raise ValueError("TIFF missing dimensions")
        return (
            "tiff",
            tags[0x0100][0],
            tags[0x0101][0],
            tags.get(0x0115, [1])[0],
        )
    if content[:2] == b"\xff\xd8":  # JPEG SOI
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                raise ValueError("JPEG marker desync")
            marker = content[pos + 1]
            if marker == 0xFF:  # fill byte
                pos += 1
                continue
            if marker in (0x01, *range(0xD0, 0xD8)):  # TEM/RSTn: no length
                pos += 2
                continue
            if marker == 0xD9:  # EOI before any SOF
                break
            seg_len = struct.unpack(">H", content[pos + 2 : pos + 4])[0]
            if marker in _JPEG_SOF:
                # need bytes pos+5..pos+9 inclusive (h, w, then the
                # component count at pos+9), so the stream must hold
                # pos+10 bytes — a +9 guard lets a stream truncated
                # right after the width field escape as IndexError
                if pos + 10 > len(content):
                    raise ValueError("truncated JPEG SOF")
                h, w = struct.unpack(">HH", content[pos + 5 : pos + 9])
                ch = content[pos + 9]
                return "jpeg", w, h, ch
            pos += 2 + seg_len
        raise ValueError("no JPEG SOF segment found")
    raise ValueError("unrecognized image format")


IMAGE_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
    ]
)


def image_metadata_media(media: DataFrame) -> DataFrame:
    """(path, format, width, height, channels) per media row via
    :func:`map_rows` over :func:`probe_image_dimensions`.
    Narrow map, bytes-in/5-scalars-out — the resolution census that
    feeds size-bucketed partitioning and data cards at any corpus
    size. Unrecognized/malformed rows yield NULL metadata (a corrupt
    object must not kill a 100 TB census — the dhash_media contract)."""

    return map_rows(
        media,
        lambda path, content: (path, *probe_image_dimensions(content)),
        IMAGE_METADATA_SCHEMA,
        ["path", "content"],
        on_error=lambda path, content: (path, None, None, None, None),
    )


ANIMATION_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_units", T.LongType()),
        T.StructField("mean_val", T.DoubleType()),
    ]
)


def animation_census_media(media: DataFrame) -> DataFrame:
    """Frame census over ANIMATED media (r7): decode + composite every
    GIF frame (``gif.decode_gif_frames`` — offsets, transparency,
    disposal methods) and reduce to (frame count, total decoded
    values, mean value) per object. A :func:`map_rows` narrow map,
    sums in int64 so the one double division is bit-reproducible
    across engines. Non-GIF and malformed rows survive as (0, 0, 0.0)
    — a corrupt clip must not kill a corpus-wide census."""

    def _row(path, content):
        if content[:6] not in (b"GIF87a", b"GIF89a"):
            return path, 0, 0, 0.0
        from portfolio1_etl_spark.operators.gif import decode_gif_frames

        frames = decode_gif_frames(content)[0]
        n_units = int(frames.size)
        mean = int(frames.astype(np.int64).sum()) / n_units
        return path, int(frames.shape[0]), n_units, mean

    return map_rows(
        media, _row, ANIMATION_CENSUS_SCHEMA, ["path", "content"],
        on_error=lambda path, content: (path, 0, 0, 0.0),
    )


def transcode_media(media: DataFrame, target: str = "png") -> DataFrame:
    """Format-normalization pass (r7): decode every IMAGE object and
    re-encode it in ``target`` format ('png' or 'bmp' — the lossless
    targets a training corpus normalizes to; BMP requires 3-channel).
    Decoded pixels carry over EXACTLY (lossless re-encode of whatever
    the source decoder produced — for JPEG sources that is the one
    decode the corpus will ever pay), so a census over the transcoded
    corpus hashes identically to one over the originals (q146 vs
    q142). Audio/video and undecodable objects pass through
    unchanged (survival, not task death) — the ENCODE step counts
    too: an image that decodes but cannot re-encode in the target
    (e.g. gray+alpha → BMP) passes through. A :func:`map_rows` narrow
    map; metadata struct rewritten to the new byte length and mime.
    The transcode FLAG, not a byte compare, decides the mime (a
    deterministic re-encode can be byte-identical); genuine
    pass-throughs keep the input's (``application/octet-stream`` when
    the input carries no ``meta`` column)."""
    if target not in ("png", "bmp"):
        raise ValueError("target must be 'png' or 'bmp'")
    mime = {"png": "image/png", "bmp": "image/bmp"}[target]

    def _decode_image(b: bytes):
        if b[:2] == b"P6":
            return decode_ppm(b)[0]
        if b[:8] == _PNG_SIG:
            return decode_png(b)[0]
        if b[:2] == b"\xff\xd8":
            from portfolio1_etl_spark.operators.jpeg import decode_jpeg

            px = decode_jpeg(b)[0]
            return px[:, :, None] if px.ndim == 2 else px
        if b[:6] in (b"GIF87a", b"GIF89a"):
            from portfolio1_etl_spark.operators.gif import decode_gif

            return decode_gif(b)[0]
        if b[:2] == b"BM":
            return decode_bmp(b)[0]
        if b[:4] in (b"II*\x00", b"MM\x00*"):
            from portfolio1_etl_spark.operators.tiff import decode_tiff

            px = decode_tiff(b)[0]
            return px[:, :, None] if px.ndim == 2 else px
        return None

    has_meta = "meta" in media.columns

    def _keep(path, modality, content, meta=None):
        in_mime = meta["mime"] if has_meta else "application/octet-stream"
        return path, modality, content, (len(content), in_mime)

    def _row(path, modality, content, meta=None):
        px = _decode_image(content)
        if px is None:  # not an image (audio/video/unknown)
            return _keep(path, modality, content, meta)
        if target == "png":
            out = encode_png(px)
        else:
            if px.shape[2] == 1:
                px = np.repeat(px, 3, axis=2)
            elif px.shape[2] == 2:  # gray+alpha: replicate luma
                px = np.repeat(px[:, :, :1], 3, axis=2)
            elif px.shape[2] == 4:
                px = px[:, :, :3]
            out = encode_bmp(np.ascontiguousarray(px))
        return path, modality, out, (len(out), mime)

    cols = ["path", "modality", "content"] + (["meta"] if has_meta else [])
    return map_rows(media, _row, MEDIA_SCHEMA, cols, on_error=_keep)


def probe_mp4_metadata(content: bytes) -> tuple[int, int, int, int]:
    """(duration_ms, width, height, n_tracks) from an MP4/ISO-BMFF
    container's box structure alone — the video member of the
    header-only tier (``probe_image_dimensions`` for images): a
    100 TB video census reads moov/mvhd/tkhd, never a codec frame.
    Walks top-level boxes (64-bit largesize supported), recurses into
    moov/trak, takes duration from mvhd (v0/v1) and dimensions from
    the first track with nonzero 16.16-fixed width/height. Raises
    ValueError on malformed/truncated structure or a missing moov.
    (DECODING MP4 payloads remains the library boundary — this reads
    structure, which is plain public ISO 14496-12.)"""
    if len(content) < 8 or content[4:8] != b"ftyp":
        raise ValueError("not an MP4 (missing ftyp)")

    def boxes(b: bytes, pos: int, end: int):
        while pos + 8 <= end:
            size = struct.unpack(">I", b[pos : pos + 4])[0]
            typ = b[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated MP4 largesize box")
                size = struct.unpack(">Q", b[pos + 8 : pos + 16])[0]
                hdr = 16
            elif size == 0:  # box extends to end of file
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("malformed MP4 box size")
            yield typ, pos + hdr, pos + size
            pos += size

    duration_ms = None
    width = height = 0
    n_tracks = 0
    for typ, body, bend in boxes(content, 0, len(content)):
        if typ != b"moov":
            continue
        for t2, b2, e2 in boxes(content, body, bend):
            if t2 == b"mvhd":
                ver = content[b2]
                if ver == 1:
                    ts, dur = struct.unpack(">IQ", content[b2 + 20 : b2 + 32])
                else:
                    ts, dur = struct.unpack(">II", content[b2 + 12 : b2 + 20])
                if ts == 0:
                    raise ValueError("mvhd timescale is zero")
                duration_ms = dur * 1000 // ts
            elif t2 == b"trak":
                n_tracks += 1
                for t3, b3, e3 in boxes(content, b2, e2):
                    if t3 != b"tkhd":
                        continue
                    ver = content[b3]
                    # ver/flags + times + id + reserved + duration +
                    # reserved(8) + layer/alt/volume/reserved(8) +
                    # matrix(36) = 76 (v0) / 88 (v1, 64-bit times)
                    off = b3 + (88 if ver == 1 else 76)
                    if off + 8 > e3:
                        raise ValueError("truncated tkhd")
                    w16, h16 = struct.unpack(">II", content[off : off + 8])
                    if width == 0 and (w16 or h16):
                        width, height = w16 >> 16, h16 >> 16
    if duration_ms is None:
        raise ValueError("MP4 missing moov/mvhd")
    return duration_ms, width, height, n_tracks


def encode_mp4_stub(
    duration_ms: int, width: int, height: int, n_tracks: int = 1
) -> bytes:
    """A structurally-valid MP4 skeleton (ftyp + moov[mvhd + trak*] +
    empty mdat) carrying real duration/dimension metadata — what the
    header-only census and its tests need; there is no media payload
    (payload DECODE is the documented library boundary). Track 1
    carries the dimensions; extra tracks are dimension-less (audio-
    style), exercising the first-visual-track selection."""

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = bytes(4)  # version 0 + flags
    mvhd += bytes(8)  # ctime, mtime
    mvhd += struct.pack(">II", 1000, duration_ms)  # timescale ms, duration
    mvhd += struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
    mvhd += bytes(10) + bytes(36) + bytes(24) + struct.pack(">I", n_tracks + 1)
    traks = b""
    for t in range(n_tracks):
        tkhd = bytes(4) + bytes(8) + struct.pack(">I", t + 1) + bytes(4)
        tkhd += struct.pack(">I", duration_ms) + bytes(8)
        tkhd += bytes(8)  # layer, alt group, volume, reserved
        tkhd += bytes(36)  # identity matrix omitted (zeros fine for probe)
        if t == 0:
            tkhd += struct.pack(">II", width << 16, height << 16)
        else:
            tkhd += bytes(8)
        traks += box(b"trak", box(b"tkhd", tkhd))
    return (
        box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
        + box(b"moov", box(b"mvhd", mvhd) + traks)
        + box(b"mdat", b"")
    )


def encode_mp4_sample_tables(
    tracks: list[dict], payloads: list[list[bytes]] | None = None
) -> bytes:
    """A structurally-valid MP4 whose per-track SAMPLE TABLES (stbl)
    carry real census data — codec fourcc in stsd, decode timeline in
    stts (run-length), sample byte sizes in stsz (uniform or
    per-sample) — inside the full trak → mdia → mdhd/minf → stbl
    nesting a real muxer writes. Each track dict:
    ``{"codec": 4-char str, "timescale": int, "runs": [(count, delta),
    ...], "sizes": int | list[int], "samples_per_chunk": int
    (optional)}`` (int sizes = uniform sample size; the sample count
    then comes from the runs).

    With ``payloads`` (one ``list[bytes]`` per track, one entry per
    sample) the file carries a REAL mdat: per-sample sizes come from
    the payload lengths, samples group into chunks of
    ``samples_per_chunk`` (default: one chunk per track), and stsc +
    stco are emitted with correct absolute file offsets — the full
    ISO 14496-12 addressing chain ``extract_mp4_samples`` resolves.
    Without it, mdat is empty and stsc/stco absent (census-only
    fixtures, the pre-r13 shape). Codec DECODE of the payload bytes
    stays the documented library boundary either way."""
    if payloads is not None and len(payloads) != len(tracks):
        raise ValueError("payloads must carry one list per track")

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def assemble(chunk_offsets: list[list[int]]) -> bytes:
        mvhd = bytes(20) + struct.pack(">II", 1000, 0)
        mvhd += bytes(70) + struct.pack(">I", len(tracks) + 1)
        traks = b""
        for i, tr in enumerate(tracks):
            n_samples = sum(c for c, _ in tr["runs"])
            tkhd = bytes(12) + struct.pack(">I", i + 1) + bytes(72)
            # stsd: one sample entry — fourcc + minimal 8-byte body
            entry = (
                struct.pack(">I", 16) + tr["codec"].encode("ascii") + bytes(8)
            )
            stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
            stts = box(
                b"stts",
                bytes(4)
                + struct.pack(">I", len(tr["runs"]))
                + b"".join(struct.pack(">II", c, d) for c, d in tr["runs"]),
            )
            if payloads is not None:
                if len(payloads[i]) != n_samples:
                    raise ValueError("payload count != stts sample count")
                sizes = [len(p) for p in payloads[i]]
            else:
                sizes = tr["sizes"]
            if isinstance(sizes, int):
                stsz = box(
                    b"stsz", bytes(4) + struct.pack(">II", sizes, n_samples)
                )
            else:
                if len(sizes) != n_samples:
                    raise ValueError("stsz table length != stts sample count")
                stsz = box(
                    b"stsz",
                    bytes(4)
                    + struct.pack(">II", 0, n_samples)
                    + b"".join(struct.pack(">I", s) for s in sizes),
                )
            addressing = b""
            if payloads is not None:
                spc = tr.get("samples_per_chunk") or n_samples
                n_chunks = -(-n_samples // spc) if n_samples else 0
                # one stsc run covers uniform chunking; a short final
                # chunk needs its own entry (first_chunk is 1-based)
                ents = [(1, spc)]
                if n_samples and n_samples % spc and n_chunks > 1:
                    ents.append((n_chunks, n_samples % spc))
                stsc = box(
                    b"stsc",
                    bytes(4)
                    + struct.pack(">I", len(ents))
                    + b"".join(
                        struct.pack(">III", fc, s, 1) for fc, s in ents
                    ),
                )
                stco = box(
                    b"stco",
                    bytes(4)
                    + struct.pack(">I", len(chunk_offsets[i]))
                    + b"".join(
                        struct.pack(">I", o) for o in chunk_offsets[i]
                    ),
                )
                addressing = stsc + stco
            mdhd = bytes(12) + struct.pack(">II", tr["timescale"], 0) + bytes(4)
            mdia = box(
                b"mdia",
                box(b"mdhd", mdhd)
                + box(b"minf", box(b"stbl", stsd + stts + stsz + addressing)),
            )
            traks += box(b"trak", box(b"tkhd", tkhd) + mdia)
        mdat = b"" if payloads is None else b"".join(
            b"".join(ps) for ps in payloads
        )
        return (
            box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
            + box(b"moov", box(b"mvhd", mvhd) + traks)
            + box(b"mdat", mdat)
        )

    if payloads is None:
        return assemble([])
    # two-pass: offsets depend on moov's length, which is offset-count
    # dependent but not offset-value dependent (fixed-width fields) —
    # assemble once with zeros to measure, then patch real offsets
    zero_offsets = []
    for i, tr in enumerate(tracks):
        n_samples = sum(c for c, _ in tr["runs"])
        spc = tr.get("samples_per_chunk") or n_samples
        zero_offsets.append([0] * (-(-n_samples // spc) if n_samples else 0))
    draft = assemble(zero_offsets)
    mdat_payload_start = len(draft) - sum(
        len(p) for ps in payloads for p in ps
    )
    offsets, pos = [], mdat_payload_start
    for i, tr in enumerate(tracks):
        n_samples = sum(c for c, _ in tr["runs"])
        spc = tr.get("samples_per_chunk") or n_samples
        track_offsets = []
        for c in range(len(zero_offsets[i])):
            track_offsets.append(pos)
            pos += sum(len(p) for p in payloads[i][c * spc : (c + 1) * spc])
        offsets.append(track_offsets)
    return assemble(offsets)


def probe_mp4_sample_tables(
    content: bytes,
) -> list[tuple[int, str, int, int, int, int]]:
    """Per-track sample-table census from MP4 box structure alone —
    q149's moov walk extended one level down, into what a real video
    pipeline actually audits before spending GPU decode: one
    ``(track_idx, codec, n_samples, total_bytes, duration_ms,
    bitrate_bps)`` tuple per track, from stsd (codec fourcc), stts
    (sum of count·delta in mdhd timescale units → duration), and stsz
    (uniform size or per-sample table → total bytes). Bitrate is
    exact integer ``bytes·8·timescale // duration_units``. Raises
    ValueError on any malformed/truncated table, a missing stbl, or a
    stts/stsz sample-count disagreement — a censused track is either
    fully consistent or NULL, never half-read. (Payload DECODE stays
    the library boundary: this reads ISO 14496-12 structure only.)"""
    if len(content) < 8 or content[4:8] != b"ftyp":
        raise ValueError("not an MP4 (missing ftyp)")

    def boxes(b: bytes, pos: int, end: int):
        while pos + 8 <= end:
            size = struct.unpack(">I", b[pos : pos + 4])[0]
            typ = b[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated MP4 largesize box")
                size = struct.unpack(">Q", b[pos + 8 : pos + 16])[0]
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("malformed MP4 box size")
            yield typ, pos + hdr, pos + size
            pos += size

    def child(b: bytes, pos: int, end: int, want: bytes):
        for typ, body, bend in boxes(b, pos, end):
            if typ == want:
                return body, bend
        return None

    out = []
    moov = child(content, 0, len(content), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov")
    idx = 0
    for typ, tb, te in boxes(content, *moov):
        if typ != b"trak":
            continue
        idx += 1
        mdia = child(content, tb, te, b"mdia")
        if mdia is None:
            raise ValueError(f"track {idx}: missing mdia")
        mdhd = child(content, *mdia, b"mdhd")
        if mdhd is None or mdhd[0] + 20 > mdhd[1]:
            raise ValueError(f"track {idx}: missing/truncated mdhd")
        ver = content[mdhd[0]]
        ts_off = mdhd[0] + (20 if ver == 1 else 12)
        timescale = struct.unpack(">I", content[ts_off : ts_off + 4])[0]
        if timescale == 0:
            raise ValueError(f"track {idx}: mdhd timescale is zero")
        minf = child(content, *mdia, b"minf")
        stbl = child(content, *minf, b"stbl") if minf else None
        if stbl is None:
            raise ValueError(f"track {idx}: missing stbl")
        stsd = child(content, *stbl, b"stsd")
        if stsd is None or stsd[0] + 16 > stsd[1]:
            raise ValueError(f"track {idx}: missing/truncated stsd")
        codec = content[stsd[0] + 12 : stsd[0] + 16].decode(
            "ascii", errors="replace"
        )
        stts = child(content, *stbl, b"stts")
        if stts is None or stts[0] + 8 > stts[1]:
            raise ValueError(f"track {idx}: missing/truncated stts")
        n_runs = struct.unpack(">I", content[stts[0] + 4 : stts[0] + 8])[0]
        if stts[0] + 8 + 8 * n_runs > stts[1]:
            raise ValueError(f"track {idx}: truncated stts run table")
        n_stts = dur_units = 0
        for r in range(n_runs):
            c, d = struct.unpack(
                ">II", content[stts[0] + 8 + 8 * r : stts[0] + 16 + 8 * r]
            )
            n_stts += c
            dur_units += c * d
        stsz = child(content, *stbl, b"stsz")
        if stsz is None or stsz[0] + 12 > stsz[1]:
            raise ValueError(f"track {idx}: missing/truncated stsz")
        uniform, n_stsz = struct.unpack(
            ">II", content[stsz[0] + 4 : stsz[0] + 12]
        )
        if n_stsz != n_stts:
            raise ValueError(
                f"track {idx}: stsz/stts sample counts disagree "
                f"({n_stsz} vs {n_stts})"
            )
        if uniform:
            total = uniform * n_stsz
        else:
            if stsz[0] + 12 + 4 * n_stsz > stsz[1]:
                raise ValueError(f"track {idx}: truncated stsz table")
            total = sum(
                struct.unpack(
                    ">I", content[stsz[0] + 12 + 4 * i : stsz[0] + 16 + 4 * i]
                )[0]
                for i in range(n_stsz)
            )
        if dur_units == 0:
            raise ValueError(f"track {idx}: zero duration timeline")
        out.append(
            (
                idx,
                codec,
                n_stts,
                total,
                dur_units * 1000 // timescale,
                total * 8 * timescale // dur_units,
            )
        )
    if not out:
        raise ValueError("MP4 has no tracks")
    return out


def extract_mp4_samples(
    content: bytes, track: int = 1, indices: list[int] | None = None
) -> list[bytes]:
    """Per-sample PAYLOAD extraction from MP4 structure alone — the
    pre-decode step a GPU video pipeline actually runs at corpus
    scale: resolve each sample's byte range through the ISO 14496-12
    addressing chain (stsz sizes → stsc chunk map → stco/co64 chunk
    offsets) and slice the compressed sample bytes out of mdat, so
    the decoder downstream receives exactly the samples it was asked
    for instead of whole files. This is byte-range arithmetic over
    public container structure; DECODING the returned payloads stays
    the documented library boundary (operators/audio.py:29).

    ``track`` is 1-based (the stbl census's track_idx); ``indices``
    selects 0-based sample numbers (default: every sample). Raises
    ValueError on missing/truncated/inconsistent tables or a sample
    range outside the file — an extracted sample is either exactly
    its muxed bytes or an error, never a silent partial slice."""
    if len(content) < 8 or content[4:8] != b"ftyp":
        raise ValueError("not an MP4 (missing ftyp)")

    def boxes(b: bytes, pos: int, end: int):
        while pos + 8 <= end:
            size = struct.unpack(">I", b[pos : pos + 4])[0]
            typ = b[pos + 4 : pos + 8]
            hdr = 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated MP4 largesize box")
                size = struct.unpack(">Q", b[pos + 8 : pos + 16])[0]
                hdr = 16
            elif size == 0:
                size = end - pos
            if size < hdr or pos + size > end:
                raise ValueError("malformed MP4 box size")
            yield typ, pos + hdr, pos + size
            pos += size

    def child(b: bytes, pos: int, end: int, want: bytes):
        for typ, body, bend in boxes(b, pos, end):
            if typ == want:
                return body, bend
        return None

    moov = child(content, 0, len(content), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov")
    idx = 0
    stbl = None
    for typ, tb, te in boxes(content, *moov):
        if typ != b"trak":
            continue
        idx += 1
        if idx != track:
            continue
        mdia = child(content, tb, te, b"mdia")
        minf = child(content, *mdia, b"minf") if mdia else None
        stbl = child(content, *minf, b"stbl") if minf else None
        break
    if stbl is None:
        raise ValueError(f"track {track}: not found or missing stbl")

    stsz = child(content, *stbl, b"stsz")
    if stsz is None or stsz[0] + 12 > stsz[1]:
        raise ValueError(f"track {track}: missing/truncated stsz")
    uniform, n_samples = struct.unpack(
        ">II", content[stsz[0] + 4 : stsz[0] + 12]
    )
    if uniform:
        sizes = [uniform] * n_samples
    else:
        if stsz[0] + 12 + 4 * n_samples > stsz[1]:
            raise ValueError(f"track {track}: truncated stsz table")
        sizes = list(
            struct.unpack(
                f">{n_samples}I",
                content[stsz[0] + 12 : stsz[0] + 12 + 4 * n_samples],
            )
        )

    stsc = child(content, *stbl, b"stsc")
    if stsc is None or stsc[0] + 8 > stsc[1]:
        raise ValueError(f"track {track}: missing/truncated stsc")
    n_ents = struct.unpack(">I", content[stsc[0] + 4 : stsc[0] + 8])[0]
    if stsc[0] + 8 + 12 * n_ents > stsc[1]:
        raise ValueError(f"track {track}: truncated stsc table")
    stsc_ents = [
        struct.unpack(
            ">III", content[stsc[0] + 8 + 12 * e : stsc[0] + 20 + 12 * e]
        )[:2]
        for e in range(n_ents)
    ]
    if not stsc_ents or any(spc == 0 for _, spc in stsc_ents):
        raise ValueError(f"track {track}: degenerate stsc")

    co = child(content, *stbl, b"stco")
    width = 4
    if co is None:
        co = child(content, *stbl, b"co64")
        width = 8
    if co is None or co[0] + 8 > co[1]:
        raise ValueError(f"track {track}: missing stco/co64")
    n_chunks = struct.unpack(">I", content[co[0] + 4 : co[0] + 8])[0]
    if co[0] + 8 + width * n_chunks > co[1]:
        raise ValueError(f"track {track}: truncated chunk-offset table")
    fmt = ">Q" if width == 8 else ">I"
    chunk_offsets = [
        struct.unpack(
            fmt, content[co[0] + 8 + width * c : co[0] + 8 + width * (c + 1)]
        )[0]
        for c in range(n_chunks)
    ]

    # expand the stsc run-length map: entry (first_chunk, spc) applies
    # from its 1-based first_chunk until the next entry's
    spc_of_chunk = []
    for e, (fc, spc) in enumerate(stsc_ents):
        last = (
            stsc_ents[e + 1][0] - 1 if e + 1 < len(stsc_ents) else n_chunks
        )
        if fc < 1 or last < fc - 1:
            raise ValueError(f"track {track}: non-monotone stsc")
        spc_of_chunk.extend([spc] * (last - fc + 1))
    if len(spc_of_chunk) != n_chunks:
        raise ValueError(
            f"track {track}: stsc covers {len(spc_of_chunk)} chunks, "
            f"stco has {n_chunks}"
        )
    if sum(spc_of_chunk) < n_samples:
        raise ValueError(
            f"track {track}: chunk map addresses {sum(spc_of_chunk)} "
            f"samples, stsz has {n_samples}"
        )

    # absolute (offset, size) per sample, walking chunks in order
    ranges: list[tuple[int, int]] = []
    s = 0
    for c in range(n_chunks):
        pos = chunk_offsets[c]
        for _ in range(spc_of_chunk[c]):
            if s >= n_samples:
                break
            ranges.append((pos, sizes[s]))
            pos += sizes[s]
            s += 1

    want = range(n_samples) if indices is None else indices
    out = []
    for i in want:
        if not 0 <= i < n_samples:
            raise ValueError(f"sample index {i} out of range 0..{n_samples - 1}")
        off, size = ranges[i]
        if off + size > len(content):
            raise ValueError(
                f"track {track} sample {i}: range {off}+{size} outside file"
            )
        out.append(content[off : off + size])
    return out
