"""[ext] Multimodal-column queries: the Arrow-batched media passes of
operators/multimodal driven end-to-end and oracle-checked.

The driver testdata ships no media files, so the binary column is
synthesized deterministically from ``documents.text`` (UTF-8 encode) —
which is exactly what makes the Python featurizer oracle-checkable:
its digest features are pure functions of the bytes, and DuckDB can
recompute them in SQL (sha256 + hex arithmetic). The float32 snap of
each feature is reproduced with an explicit FLOAT round-trip cast.

Every synthesizer and census here is a per-row function run through
``operators.multimodal.map_rows`` — the engine's one Python data-path
boundary — so it still gets the full differential gate: batch
boundaries, Arrow conversion, and the row bodies are all under test.
The survival rule is the helper's: a row whose codec or probe raises
one of ``DECODE_ERRORS`` becomes the query's marked fallback row
(``undecodable`` / ``corrupt`` / NULLs); any other exception fails
the task.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from portfolio1_etl_spark import catalog
from portfolio1_etl_spark.operators.multimodal import (
    DECODE_ERRORS,
    MEDIA_SCHEMA,
    decode_media_features,
    dhash_media,
    encode_png,
    encode_ppm,
    encode_wav,
    featurize_media,
    map_rows,
)
from portfolio1_etl_spark.plans.registry import query


def _feature_sql(i: int) -> str:
    """f_i = float32(int(digest[4i:4i+4] big-endian) / 2^32) — the SQL
    twin of operators.multimodal._fake_features."""
    return (
        f"CAST(CAST(('0x' || substr(sha256(text), {8 * i + 1}, 8))::BIGINT"
        f" / 4294967296.0 AS FLOAT) AS DOUBLE)"
    )


@query(
    "q90_multimodal_featurize",
    sql=f"""
    SELECT
      doc_id,
      'text' AS modality,
      octet_length(encode(text)) AS n_bytes,
      sha256(text) AS content_sha256,
      {_feature_sql(0)} AS f0,
      {_feature_sql(1)} AS f1
    FROM documents
    """,
    operators=("X-multimodal",),
)
def q90_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column featurization through the real multimodal
    plumbing: typed media rows (path/modality/content/meta) →
    ``map_rows`` digest features (a narrow map — no pre-shuffle) →
    typed feature rows. Python sees Arrow batches only; the oracle
    recomputes every output from the same bytes in SQL."""
    docs = catalog.load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.lit("text").alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.length("text").cast("long").alias("length"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )
    feats = featurize_media(media)
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "modality",
        "n_bytes",
        "content_sha256",
        F.element_at("feature", 1).cast("double").alias("f0"),
        F.element_at("feature", 2).cast("double").alias("f1"),
    )


# --- q91: REAL encode→decode round trip ------------------------------------

#: even doc_id → 8×8 RGB PPM image (192 pixel bytes), odd → 256-sample
#: PCM16 WAV. Value generators are integer-exact so the oracle can
#: recompute every feature analytically (no bytes cross into SQL).
_IMG_N, _AUD_N = 8 * 8 * 3, 256


def _spread_ids(docs):
    """doc_id input for a PIXEL/SAMPLE-DECODE-HEAVY media synthesizer,
    spread to the configured parallelism (r13): synthesis AND the
    decode that follows are per-row Python codec work whose cost
    dwarfs one round-robin shuffle of bare 8-byte ids — while the
    documents scan plans splits by TEXT bytes (ONE split at sf0.1, so
    the whole encode+decode chain ran on a single core). Shuffling
    only the ids keeps the heavy synthesized payload out of any
    exchange (the guide's decide-with-small-rows rule); the
    round-robin key is partition-layout only and every downstream
    output is a per-row function of doc_id, so results are
    partitioning-independent.

    Applied SELECTIVELY by measurement (r13 A/B at sf0.1): kept where
    full pixel/sample decode dominates (PNG, dHash thumbs, JPEG
    lossy/transcode, GIF animation, TIFF unpack, MP4 payload
    extraction — 1.4-3.2× faster); REVERTED to the raw scan for light
    header-walk censuses (q91 PPM/WAV features,
    q137/q149/q162/q164/q241/q264/q278 metadata/sample walks, mu-law
    table lookups) where the extra exchange + per-partition Python
    dispatch exceeded the decode work (measured up to 4.9× slower
    spread). The r14 interleaved A/B moved ADPCM (q144) and the MP3
    frame walks (q152/q194) back to the raw scan too: there the
    spread was a consistent 12-14% LOSS (nibble tables and frame
    walks are too light to amortize the exchange at fixture scale;
    at production scale spread_rows self-skips anyway)."""
    from portfolio1_etl_spark.parallelism import spread_rows

    return spread_rows(docs.select("doc_id"))


def _blobs(ids, modality, one):
    """doc_id → ``(path, modality, content)`` rows, ``content =
    one(doc_id)``: the shared shape of the synthesizers below. ``ids``
    is the raw documents scan or ``_spread_ids(docs)`` — each caller
    keeps its measured choice."""
    return map_rows(
        ids,
        lambda d: (str(d), modality, one(d)),
        "path string, modality string, content binary",
        ["doc_id"],
    )


def _synthesize_media(docs):
    """doc_id → real media bytes (PPM P6 / WAV PCM16). The pixel/sample
    generators are pure integer functions of (doc_id, index),
    mirroring the oracle's generate_series twin."""

    def _row(d):
        if d % 2 == 0:
            i = np.arange(_IMG_N, dtype=np.int64)
            px = ((d * 7 + i * 13) % 256).astype(np.uint8)
            content = encode_ppm(px.reshape(8, 8, 3))
            modality, mime = "image", "image/x-portable-pixmap"
        else:
            i = np.arange(_AUD_N, dtype=np.int64)
            smp = (((d * 31 + i * 17) % 65536) - 32768).astype(np.int16)
            content = encode_wav(smp, sample_rate=8000)
            modality, mime = "audio", "audio/wav"
        return str(d), modality, content, (len(content), mime)

    return map_rows(docs, _row, MEDIA_SCHEMA, ["doc_id"])


@query(
    "q91_multimodal_decode",
    sql=f"""
    WITH params AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
             CASE WHEN doc_id % 2 = 0 THEN {_IMG_N} ELSE {_AUD_N} END AS n
      FROM documents
    ),
    idx AS (
      SELECT doc_id, modality, n,
             unnest(generate_series(0, n - 1)) AS i
      FROM params
    ),
    vals AS (
      SELECT doc_id, modality, n,
             CASE WHEN modality = 'image'
                  THEN (doc_id * 7 + i * 13) % 256
                  ELSE ((doc_id * 31 + i * 17) % 65536) - 32768
             END AS v
      FROM idx
    )
    SELECT doc_id,
           modality,
           CAST(CASE WHEN modality = 'image' THEN 203 ELSE 556 END AS BIGINT) AS n_bytes,
           CAST(n AS BIGINT) AS n_units,
           CASE WHEN modality = 'image' THEN '8x8' ELSE '8000Hz' END AS dims,
           CAST(sum(v) AS DOUBLE) / n AS mean_val,
           sqrt(CAST(sum(v * v) AS DOUBLE) / n) AS rms
    FROM vals
    GROUP BY doc_id, modality, n
    """,
    operators=("X-multimodal", "X-multimodal-decode"),
)
def q91_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, end-to-end: synthesize an actual PPM (P6)
    image or WAV (PCM16) file per document, then parse it back with the
    dependency-free codecs (header walk + numpy frombuffer) and reduce
    the decoded pixels/samples to features (count, dims, mean, RMS) —
    all inside Arrow-batched ``map_rows``. The oracle recomputes
    every feature analytically from the integer generators, so a
    single wrong header byte, stride, or endianness flip fails the
    hash gate. Compressed formats (JPEG/MP3) remain a documented
    NotImplementedError boundary in ``operators.multimodal``."""
    docs = catalog.load(spark, sf_dir, "documents")
    feats = decode_media_features(_synthesize_media(docs))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "modality",
        "n_bytes",
        "n_units",
        "dims",
        "mean_val",
        "rms",
    )


# --- q102: REAL PNG (zlib-compressed) encode→decode round trip -------------

#: 8×8 RGB PNG per document; rows cycle through ALL FIVE PNG filter
#: types (None/Sub/Up/Average/Paeth), so every unfilter branch of
#: ``decode_png`` is on the oracle-checked path. Pixel values are an
#: integer function of (doc_id, index) the oracle replays exactly.
_PNG_N = 8 * 8 * 3


def _synthesize_png(docs):
    """doc_id → real zlib-compressed PNG bytes."""

    def _row(d):
        i = np.arange(_PNG_N, dtype=np.int64)
        px = ((d * 11 + i * 19) % 256).astype(np.uint8)
        content = encode_png(px.reshape(8, 8, 3), filters=[0, 1, 2, 3, 4])
        return str(d), "image", content, (len(content), "image/png")

    return map_rows(_spread_ids(docs), _row, MEDIA_SCHEMA, ["doc_id"])


@query(
    "q102_png_decode",
    sql=f"""
    WITH idx AS (
      SELECT doc_id, unnest(generate_series(0, {_PNG_N} - 1)) AS i
      FROM documents
    ),
    vals AS (
      SELECT doc_id, (doc_id * 11 + i * 19) % 256 AS v FROM idx
    )
    SELECT doc_id,
           'image' AS modality,
           CAST({_PNG_N} AS BIGINT) AS n_units,
           '8x8' AS dims,
           CAST(sum(v) AS DOUBLE) / {_PNG_N} AS mean_val,
           sqrt(CAST(sum(v * v) AS DOUBLE) / {_PNG_N}) AS rms
    FROM vals
    GROUP BY doc_id
    """,
    operators=("X-multimodal", "X-multimodal-decode"),
)
def q102_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-image decode, end-to-end and dependency-free: a real
    zlib-compressed PNG is synthesized per document (rows cycle
    through all five PNG filter types), then parsed back by
    ``decode_png`` (chunk walk + CRC check + inflate + unfilter)
    inside Arrow-batched ``map_rows``, and the decoded pixels
    reduce to analytic features. The oracle recomputes mean/RMS from
    the integer pixel generator — any inflate, unfilter, or stride bug
    fails the hash gate. (Byte length is NOT part of the contract:
    zlib stream size is an implementation detail, unlike the decoded
    pixels.)"""
    docs = catalog.load(spark, sf_dir, "documents")
    feats = decode_media_features(_synthesize_png(docs))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "modality",
        "n_units",
        "dims",
        "mean_val",
        "rms",
    )


# --- q111/q112: perceptual image hash + image near-dup join ----------------

#: 9-wide × 8-tall RGB thumbnails — the canonical dHash geometry (64
#: horizontal comparisons). Pixel values are an integer function of
#: (doc_id, channel index): documents cluster into groups of 4
#: (group = doc_id // 4) sharing a base image; each variant bumps ONE
#: pixel (j = 7 + (doc_id % 4)·17) by +60 mod 256, so same-group
#: dHashes sit within Hamming ≤ 4 of each other while the oracle can
#: replay every bit analytically.
_DH_W, _DH_H = 9, 8
_DH_N = _DH_W * _DH_H * 3


def _synthesize_thumbs(docs):
    """doc_id → real 9×8 RGB PNG thumbnail (filters cycle all 5 types,
    as q102)."""

    def _row(d):
        i = np.arange(_DH_N, dtype=np.int64)
        bump = np.where(i // 3 == 7 + (d % 4) * 17, 60, 0)
        px = (((d // 4) * 23 + i * 19 + bump) % 256).astype(np.uint8)
        content = encode_png(
            px.reshape(_DH_H, _DH_W, 3), filters=[0, 1, 2, 3, 4]
        )
        return str(d), "image", content, (len(content), "image/png")

    return map_rows(_spread_ids(docs), _row, MEDIA_SCHEMA, ["doc_id"])


#: DuckDB replay of the dHash: integer grayscale per pixel from the
#: generator, one brighter-than bit per horizontal neighbor pair,
#: packed into two 32-bit halves.
_DHASH_ORACLE_CTES = f"""
    idx AS (
      SELECT doc_id, unnest(generate_series(0, {_DH_W * _DH_H} - 1)) AS j
      FROM documents
    ),
    gray AS (
      SELECT doc_id, j,
        ( ((doc_id // 4) * 23 + (3*j    ) * 19 + CASE WHEN j = 7 + (doc_id % 4) * 17 THEN 60 ELSE 0 END) % 256
        + ((doc_id // 4) * 23 + (3*j + 1) * 19 + CASE WHEN j = 7 + (doc_id % 4) * 17 THEN 60 ELSE 0 END) % 256
        + ((doc_id // 4) * 23 + (3*j + 2) * 19 + CASE WHEN j = 7 + (doc_id % 4) * 17 THEN 60 ELSE 0 END) % 256
        ) // 3 AS g
      FROM idx
    ),
    bits AS (
      SELECT a.doc_id, (a.j // {_DH_W}) * {_DH_W - 1} + (a.j % {_DH_W}) AS k
      FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND b.j = a.j + 1
      WHERE a.j % {_DH_W} < {_DH_W - 1} AND b.g > a.g
    ),
    dh AS (
      SELECT d.doc_id,
             CAST(coalesce(sum(CASE WHEN k >= 32 THEN 1::BIGINT << (k - 32) END), 0) AS BIGINT) AS dh_hi,
             CAST(coalesce(sum(CASE WHEN k < 32 THEN 1::BIGINT << k END), 0) AS BIGINT) AS dh_lo
      FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
      GROUP BY d.doc_id
    )
"""


@query(
    "q111_image_dhash",
    sql=f"""
    WITH {_DHASH_ORACLE_CTES}
    SELECT doc_id, 'image' AS modality, dh_hi, dh_lo FROM dh
    """,
    operators=("X-multimodal", "X-image-phash"),
)
def q111_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash census: real 9×8 PNG thumbnails (all five
    filter types on the decode path, as q102) → ``decode_png`` →
    integer grayscale → 64-bit dHash as two 32-bit halves, all inside
    one Arrow-batched ``map_rows`` — a narrow map; hashing never
    shuffles. The oracle rebuilds every bit from the pixel generator,
    so the whole decode→grayscale→compare→pack chain is value-exact.
    Unlike content digests (q90), dHash is PERCEPTUAL: global
    brightness shifts and sub-threshold noise leave it unchanged
    (pinned in tests), which is what makes image near-dup possible."""
    docs = catalog.load(spark, sf_dir, "documents")
    dh = dhash_media(_synthesize_thumbs(docs))
    return dh.select(
        F.col("path").cast("long").alias("doc_id"),
        "modality",
        "dh_hi",
        "dh_lo",
    )


@query(
    "q112_image_neardup",
    sql=f"""
    WITH {_DHASH_ORACLE_CTES},
    chunks AS (
      SELECT doc_id, dh_hi, dh_lo, c.chunk_id,
             CASE c.chunk_id
               WHEN 0 THEN dh_lo & 2047
               WHEN 1 THEN (dh_lo >> 11) & 2047
               WHEN 2 THEN (dh_lo >> 22) & 1023
               WHEN 3 THEN dh_hi & 2047
               WHEN 4 THEN (dh_hi >> 11) & 2047
               ELSE (dh_hi >> 22) & 1023
             END AS chunk_val
      FROM dh, (SELECT unnest(generate_series(0, 5)) AS chunk_id) c
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.dh_hi AS ha_hi, a.dh_lo AS ha_lo,
                      b.doc_id AS doc_b, b.dh_hi AS hb_hi, b.dh_lo AS hb_lo
      FROM chunks a JOIN chunks b
        ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    )
    SELECT CAST(bit_count(xor(ha_hi, hb_hi)) + bit_count(xor(ha_lo, hb_lo)) AS BIGINT) AS hamming,
           count(*) AS n_pairs,
           min(doc_a) AS min_doc_a
    FROM cand
    WHERE bit_count(xor(ha_hi, hb_hi)) + bit_count(xor(ha_lo, hb_lo)) <= 4
    GROUP BY 1
    """,
    operators=("X-multimodal", "X-image-phash", "X-dedup-simhash", "J-range"),
)
def q112_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs at dHash Hamming ≤ 4, with the SAME
    multi-index pigeonhole blocking as the text SimHash family (q75),
    widened to 64 bits: the hash splits into 6 chunks (11/11/10 bits
    per half), any pair within distance 5 agrees on ≥1 whole chunk, so
    candidates come from an equi-join on (chunk_id, chunk_val) — never
    an all-pairs scan — and the exact two-half bit_count(xor) runs
    only on candidates. One Hamming index shape serves text AND
    images; that reuse is the point of emitting dHash as longs."""
    from portfolio1_etl_spark.operators.checkpointing import materialize

    docs = catalog.load(spark, sf_dir, "documents")
    # materialize the hash table (doc_id + two longs per image) BEFORE
    # the self-join: both join sides otherwise re-run the whole
    # synthesize→PNG-decode→dHash Python stage — measured ~2x
    dh = materialize(
        dhash_media(_synthesize_thumbs(docs)).select(
            F.col("path").cast("long").alias("doc_id"), "dh_hi", "dh_lo"
        )
    )
    chunk_specs = [
        (0, F.col("dh_lo").bitwiseAND(F.lit(2047))),
        (1, F.shiftright("dh_lo", 11).bitwiseAND(F.lit(2047))),
        (2, F.shiftright("dh_lo", 22).bitwiseAND(F.lit(1023))),
        (3, F.col("dh_hi").bitwiseAND(F.lit(2047))),
        (4, F.shiftright("dh_hi", 11).bitwiseAND(F.lit(2047))),
        (5, F.shiftright("dh_hi", 22).bitwiseAND(F.lit(1023))),
    ]
    chunks = dh.select(
        "doc_id",
        "dh_hi",
        "dh_lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(cid).alias("chunk_id"), expr.alias("chunk_val"))
                    for cid, expr in chunk_specs
                ]
            )
        ).alias("c"),
    ).select("doc_id", "dh_hi", "dh_lo", "c.chunk_id", "c.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.dh_hi").alias("ha_hi"),
            F.col("a.dh_lo").alias("ha_lo"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.dh_hi").alias("hb_hi"),
            F.col("b.dh_lo").alias("hb_lo"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi")))
        + F.bit_count(F.col("ha_lo").bitwiseXOR(F.col("hb_lo")))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 4)
        .groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("doc_a").alias("min_doc_a"),
        )
    )


# --- q137: header-only metadata census over a mixed-format corpus ----------

#: Per-doc synthesis arithmetic — the ENTIRE oracle contract. Format
#: cycles with doc_id % 5, dimensions are integer functions of doc_id,
#: and every 31st doc is deliberately corrupt (must surface as NULLs,
#: not kill the census — the malformed-media tolerance ON the
#: scoreboard). JPEGs alternate baseline/progressive SOF and carry a
#: leading fill byte when progressive; BMPs alternate 24/32 bpp and
#: negative (top-down) height — all real branch coverage, all
#: analytically replayable.
_META_FORMATS = ("png", "ppm", "jpeg", "gif", "bmp")


def _synthesize_mixed_media(docs):
    from portfolio1_etl_spark.operators.multimodal import (
        encode_png as _enc_png,
        encode_ppm as _enc_ppm,
    )

    def _jpeg(w, h, ch, progressive, pad):
        app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        out = b"\xff\xd8\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        if pad:
            out += b"\xff"
        dqt = bytes(65)
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
        sof = b"\xff\xc2" if progressive else b"\xff\xc0"
        body = b"\x08" + struct.pack(">HH", h, w) + bytes([ch]) + bytes(3 * ch)
        return out + sof + struct.pack(">H", 2 + len(body)) + body + b"\xff\xd9"

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"\x00corrupt media object\x00"
        w, h = 1 + doc_id % 13, 1 + doc_id % 7
        kind = _META_FORMATS[doc_id % 5]
        if kind == "png":
            ch = (1, 3, 4)[doc_id % 3]
            px = (
                (np.arange(h * w * ch, dtype=np.int64) * (doc_id + 7)) % 256
            ).astype(np.uint8).reshape(h, w, ch)
            return _enc_png(px, filters=[doc_id % 5])
        if kind == "ppm":
            px = (
                (np.arange(h * w * 3, dtype=np.int64) + doc_id) % 256
            ).astype(np.uint8).reshape(h, w, 3)
            return _enc_ppm(px)
        if kind == "jpeg":
            ch = 1 + doc_id % 3
            return _jpeg(w, h, ch, progressive=bool(doc_id % 2), pad=bool(doc_id % 2))
        if kind == "gif":
            return (
                b"GIF89a"
                + w.to_bytes(2, "little")
                + h.to_bytes(2, "little")
                + bytes(6)
            )
        bpp = 24 if doc_id % 2 else 32
        return (
            b"BM"
            + bytes(16)
            + struct.pack("<ii", w, -h if doc_id % 2 else h)  # top-down alt
            + bytes(2)
            + struct.pack("<H", bpp)
            + bytes(6)
        )

    return _blobs(docs, "image", _one)


@query(
    "q137_media_metadata_census",
    sql=f"""
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE (['png', 'ppm', 'jpeg', 'gif', 'bmp'])[1 + doc_id % 5] END
        AS format,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1 + doc_id % 13 AS BIGINT) END AS width,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1 + doc_id % 7 AS BIGINT) END AS height,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           WHEN doc_id % 5 = 0 THEN CAST(([1, 3, 4])[1 + doc_id % 3] AS BIGINT)
           WHEN doc_id % 5 = 1 THEN 3
           WHEN doc_id % 5 = 2 THEN CAST(1 + doc_id % 3 AS BIGINT)
           WHEN doc_id % 5 = 3 THEN 3
           ELSE CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 4 END AS BIGINT) END
        AS channels
    FROM documents
    """,
    operators=("X-multimodal", "X-media-metadata"),
)
def q137_media_metadata_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution/format census over a MIXED-format media corpus
    through the header-only probe: real PNG/PPM encodes plus
    structurally-valid JPEG (baseline AND progressive, with marker
    fill bytes), GIF, and BMP (24/32 bpp, top-down rows) headers —
    and deliberately corrupt objects that must surface as NULL rows,
    not task deaths. ``image_metadata_media`` reads headers only (an
    Arrow-batched narrow map; a 100 TB census never inflates a
    pixel), and the oracle replays every value as integer arithmetic
    over doc_id because the synthesis geometry IS the contract."""
    from portfolio1_etl_spark.operators.multimodal import image_metadata_media

    docs = catalog.load(spark, sf_dir, "documents")
    meta = image_metadata_media(_synthesize_mixed_media(docs))
    return meta.select(
        F.col("path").cast("long").alias("doc_id"),
        "format",
        "width",
        "height",
        "channels",
    )


# --- q142: lossy-format PIXEL decode census (r7 codec close) ---------------

#: q142 synthesis arithmetic — the ENTIRE oracle contract. Format
#: cycles with doc_id % 3 over the three r7-native codecs; geometry
#: keeps w·h divisible by 4 so the GIF palette mean closes in SQL;
#: flat grayscale JPEG at quality 75 has luma Q[0,0] = 8, which makes
#: the DC-only path EXACTLY lossless (DC = 8·(v−128) divides by 8),
#: so even the lossy family contributes value-hashed pixels; every
#: 37th object is corrupt and must surface as an `undecodable` row.
_PIXEL_FORMATS = ("jpeg", "gif", "bmp")


def _synthesize_lossy_media(docs):
    from portfolio1_etl_spark.operators.gif import encode_gif as _enc_gif
    from portfolio1_etl_spark.operators.jpeg import (
        encode_jpeg as _enc_jpeg,
        encode_jpeg_progressive as _enc_jpeg_prog,
    )
    from portfolio1_etl_spark.operators.multimodal import encode_bmp as _enc_bmp

    def _one(doc_id: int) -> bytes:
        if doc_id % 37 == 0:
            return b"\xff\xd8 not actually a scan \x00"  # corrupt JPEG
        # geometry is decoupled from the doc_id % 3 format cycle
        # (doc_id // 3 varies WITHIN each format) so JPEGs span 1..3
        # MCUs per row — the restart-marker resync actually fires — and
        # every format sees every size; w stays a multiple of 4 so the
        # GIF mean closes. q147 synthesizes with the same geometry.
        w, h = 4 * (1 + (doc_id // 3) % 5), 1 + (doc_id // 3) % 7
        kind = _PIXEL_FORMATS[doc_id % 3]
        if kind == "jpeg":
            v = (doc_id * 11) % 256
            px = np.full((h, w), v, dtype=np.uint8)
            # the format cycle within JPEG: doc_id%4==1 → PROGRESSIVE
            # (SOF2 multi-scan; quantizes identically, so the analytic
            # oracle value is unchanged), %4==3 → baseline with a
            # DRI/RSTn stream the decode must resync over, else plain
            # baseline
            if doc_id % 4 == 1:
                return _enc_jpeg_prog(px, quality=75)
            return _enc_jpeg(px, quality=75,
                             restart_interval=2 if doc_id % 2 else 0)
        if kind == "gif":
            pal = np.stack(
                [(doc_id * 31 + np.arange(4) * 63) % 256] * 3, axis=1
            ).astype(np.uint8)
            idx = ((np.arange(h * w) + doc_id) % 4).reshape(h, w)
            return _enc_gif(pal[idx], interlace=bool(doc_id % 2))
        rows = ((doc_id + np.arange(h)) % 256).astype(np.uint8)
        px = np.repeat(rows, w * 3).reshape(h, w, 3)
        return _enc_bmp(px, top_down=bool(doc_id % 2),
                        bpp=24 if doc_id % 4 < 2 else 32)

    return _blobs(_spread_ids(docs), "image", _one)


@query(
    "q142_lossy_pixel_census",
    sql="""
    WITH geo AS (
      SELECT doc_id,
             4 * (1 + (doc_id // 3) % 5) AS w,
             1 + (doc_id // 3) % 7 AS h
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN doc_id % 37 = 0 THEN 'undecodable'
           ELSE w::VARCHAR || 'x' || h::VARCHAR END AS dims,
      CASE WHEN doc_id % 37 = 0 THEN 0
           WHEN doc_id % 3 = 0 THEN CAST(w * h AS BIGINT)
           ELSE CAST(3 * w * h AS BIGINT)
        END AS n_units,
      CASE WHEN doc_id % 37 = 0 THEN 0.0
           WHEN doc_id % 3 = 0 THEN CAST((doc_id * 11) % 256 AS DOUBLE)
           WHEN doc_id % 3 = 1 THEN
             ((doc_id * 31) % 256 + (doc_id * 31 + 63) % 256
              + (doc_id * 31 + 126) % 256 + (doc_id * 31 + 189) % 256) / 4.0
           ELSE list_avg(list_transform(generate_series(0, h - 1),
                                        r -> (doc_id + r) % 256))
        END AS mean_val
    FROM geo
    """,
    operators=("X-multimodal", "X-jpeg", "X-gif", "X-bmp"),
)
def q142_lossy_pixel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL decode census over the r7-native lossy-format family —
    the scoreboard proof that baseline JPEG (operators/jpeg: full
    Huffman/DCT, restart-marker resync on odd docs), GIF
    (operators/gif: LZW, interlaced on odd docs), and BMP (both row
    orders, 24/32 bpp) decode through the SAME ``decode_media`` narrow
    map as PPM/PNG/WAV. Synthesis keeps every decoded value in closed
    integer form: flat grayscale JPEG at quality 75 is DC-exact
    (Q[0,0]=8 divides DC=8·(v−128)), GIF/BMP are lossless, so the
    oracle replays dims, unit counts, AND mean pixel values as
    arithmetic over doc_id — a value-hashed gate on three real
    entropy-coded decoders. Corrupt objects (every 37th) must surface
    as `undecodable` rows, never task deaths."""
    docs = catalog.load(spark, sf_dir, "documents")
    feats = decode_media_features(_synthesize_lossy_media(docs))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "dims",
        "n_units",
        "mean_val",
    )


# --- q143/q144: compressed-audio decode (G.711 mu-law, IMA ADPCM) ----------

#: shared synthesis arithmetic for the audio censuses. Every 41st doc
#: is a VALID RIFF/WAVE with an unsupported format tag (2 = MS ADPCM)
#: — the loud NotImplementedError boundary must surface as an
#: `undecodable` row, not a task death and not a silently-wrong
#: decode. Mu-law code bytes / ADPCM nibbles and seed state are pure
#: doc_id arithmetic, so the oracle replays the DECODERS themselves:
#: mu-law as a closed-form bit expression per byte, ADPCM as a
#: recursive CTE walking the (predictor, step-index) state machine.


_BAD_WAV_FMT = struct.pack("<HHIIHHH", 2, 1, 8000, 8000, 1, 4, 0)  # MS ADPCM tag
_BAD_WAV = (
    b"RIFF" + struct.pack("<I", 4 + 8 + len(_BAD_WAV_FMT) + 8 + 4) + b"WAVE"
    + b"fmt " + struct.pack("<I", len(_BAD_WAV_FMT)) + _BAD_WAV_FMT
    + b"data" + struct.pack("<I", 4) + bytes(4)
)


def _synthesize_mulaw_media(docs):
    from portfolio1_etl_spark.operators.audio import encode_wav_mulaw_raw

    def _one(doc_id: int) -> bytes:
        if doc_id % 41 == 0:
            return _BAD_WAV
        n, rate = 32 + doc_id % 64, 8000 + (doc_id % 5) * 2000  # (n codes, rate)
        codes = ((doc_id * 7 + np.arange(n) * 13) % 256).astype(np.uint8)
        return encode_wav_mulaw_raw(codes, rate)

    return _blobs(docs, "audio", _one)


#: closed-form G.711 mu-law decode of code byte ``c`` as SQL (the
#: one's complement is written 255−c; parenthesization matters —
#: DuckDB binds & and >> loosely)
_MULAW_SQL = (
    "(CASE WHEN (((255 - ({c})) & 128) > 0) THEN -1 ELSE 1 END) * "
    "((((((255 - ({c})) & 15) * 8 + 132)) << (((255 - ({c})) >> 4) & 7)) - 132)"
)


@query(
    "q143_mulaw_decode",
    sql=f"""
    WITH geo AS (
      SELECT doc_id, 32 + doc_id % 64 AS n, 8000 + (doc_id % 5) * 2000 AS rate
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN doc_id % 41 = 0 THEN 'undecodable'
           ELSE rate::VARCHAR || 'Hz' END AS dims,
      CASE WHEN doc_id % 41 = 0 THEN 0 ELSE CAST(n AS BIGINT) END AS n_units,
      CASE WHEN doc_id % 41 = 0 THEN 0.0
           ELSE list_avg(list_transform(generate_series(0, n - 1),
                k -> {_MULAW_SQL.format(c="(doc_id * 7 + k * 13) % 256")}))
        END AS mean_val,
      CASE WHEN doc_id % 41 = 0 THEN 0.0
           ELSE sqrt(list_avg(list_transform(generate_series(0, n - 1),
                k -> CAST({_MULAW_SQL.format(c="(doc_id * 7 + k * 13) % 256")} AS DOUBLE)
                     * {_MULAW_SQL.format(c="(doc_id * 7 + k * 13) % 256")})))
        END AS rms
    FROM geo
    """,
    operators=("X-multimodal", "X-audio-mulaw"),
)
def q143_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law decode census — compressed AUDIO joins the
    value-hashed scoreboard. Synthesized telephony clips (code bytes
    and sample rates are doc_id arithmetic) decode through the same
    ``decode_media`` narrow map as PCM; the oracle replays the decoder
    ITSELF as a closed-form bit expression per code byte (sign ×
    ((mant·8+132)≪seg −132)), so companding, container parsing, and
    the fact-chunk sample count are all under the hash. Valid WAVs
    with an unsupported format tag (every 41st: MS ADPCM) must
    surface as `undecodable` rows — the loud-boundary contract."""
    docs = catalog.load(spark, sf_dir, "documents")
    feats = decode_media_features(_synthesize_mulaw_media(docs))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "dims",
        "n_units",
        "mean_val",
        "rms",
    )


def _synthesize_adpcm_media(docs):
    from portfolio1_etl_spark.operators.audio import encode_wav_adpcm

    def _one(doc_id: int) -> bytes:
        if doc_id % 41 == 0:
            return _BAD_WAV
        # (n nibbles, seed predictor, seed step index)
        n_nib, pred0, index0 = (
            16 + doc_id % 17, ((doc_id * 37) % 2048) - 1024, doc_id % 89
        )
        nib = ((doc_id + np.arange(n_nib) * 5) % 16).astype(np.uint8)
        return encode_wav_adpcm(nib, pred0, index0, 8000)

    return _blobs(docs, "audio", _one)


def _adpcm_oracle_sql() -> str:
    """Build the recursive-CTE oracle from the SAME step/index tables
    the decoder uses (the tables are spec constants; the STATE
    MACHINE — transitions, clamps, nibble packing, block header, fact
    count — is what the differential actually gates, and those are
    implemented independently here and in operators/audio.py)."""
    from portfolio1_etl_spark.operators.audio import INDEX_TABLE, STEP_TABLE

    st = "[" + ",".join(str(int(x)) for x in STEP_TABLE) + "]"
    it = "[" + ",".join(str(int(x)) for x in INDEX_TABLE) + "]"
    nib = "((doc_id + k * 5) % 16)"
    return f"""
    WITH RECURSIVE
    seed AS (
      SELECT doc_id, 0 AS k,
             ((doc_id * 37) % 2048) - 1024 AS pred,
             doc_id % 89 AS idx,
             16 + doc_id % 17 AS n_nib
      FROM documents WHERE doc_id % 41 <> 0
    ),
    steps AS (
      SELECT * FROM seed
      UNION ALL
      SELECT doc_id, k + 1,
        GREATEST(-32768, LEAST(32767,
          pred + (CASE WHEN ({nib} & 8) > 0 THEN -1 ELSE 1 END) *
            ( (({st})[idx + 1] >> 3)
            + CASE WHEN ({nib} & 1) > 0 THEN (({st})[idx + 1] >> 2) ELSE 0 END
            + CASE WHEN ({nib} & 2) > 0 THEN (({st})[idx + 1] >> 1) ELSE 0 END
            + CASE WHEN ({nib} & 4) > 0 THEN ({st})[idx + 1] ELSE 0 END )
        )) AS pred,
        GREATEST(0, LEAST(88, idx + ({it})[{nib} + 1])) AS idx,
        n_nib
      FROM steps WHERE k < n_nib
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_units,
             CAST(SUM(pred) AS DOUBLE) / COUNT(*) AS mean_val
      FROM steps GROUP BY doc_id
    )
    SELECT d.doc_id,
      CASE WHEN d.doc_id % 41 = 0 THEN 'undecodable' ELSE '8000Hz' END AS dims,
      COALESCE(a.n_units, 0) AS n_units,
      COALESCE(a.mean_val, 0.0) AS mean_val
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


@query(
    "q144_adpcm_decode",
    sql=_adpcm_oracle_sql(),
    operators=("X-multimodal", "X-audio-adpcm"),
)
def q144_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA/DVI ADPCM decode census — the STATEFUL compressed-audio
    codec on the scoreboard. Synthesized single-block clips (nibbles
    and the (predictor, step-index) seed are doc_id arithmetic)
    decode through ``decode_media``; the oracle replays the 4-bit
    state machine with a recursive CTE — per-nibble predictor update,
    both clamps, the index walk, and the fact-chunk pad-nibble cutoff
    all under the value hash. The step/index tables are shared spec
    constants; the transitions are implemented independently in each
    engine. Unsupported-format WAVs (every 41st) surface as
    `undecodable` rows."""
    docs = catalog.load(spark, sf_dir, "documents")
    feats = decode_media_features(_synthesize_adpcm_media(docs))
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "dims",
        "n_units",
        "mean_val",
    )


# --- q145: animated-GIF frame census (compositing on the scoreboard) -------

#: q145 synthesis — a nested "onion" animation per doc: frame 0 is a
#: full-screen flat color, frame f ≥ 1 a flat patch inset by f pixels
#: on every side, all disposal 1 (leave in place). The composited
#: frame f is therefore CONCENTRIC RINGS of colors c_0..c_f, whose
#: pixel sum closes in integer arithmetic: ring j contributes
#: c_j·(area_j − area_{j+1}) with area_j = (w−2j)(h−2j). A decoder
#: that ignores offsets, forgets earlier frames, or mis-walks the
#: NETSCAPE/GCE extension blocks gets a different value hash.
#: Every 43rd doc is a truncated GIF → (0, 0, 0.0) survival row.


def _synthesize_animations(docs):
    from portfolio1_etl_spark.operators.gif import encode_gif_animated

    def _one(doc_id: int) -> bytes:
        # (w, h, n_frames); w,h ≥ 9 keeps every inset patch non-empty
        w, h, nf = 9 + (doc_id // 3) % 8, 9 + (doc_id // 5) % 6, 2 + doc_id % 3
        frames = []
        offsets = []
        for f in range(nf):
            c = (doc_id * 13 + f * 29) % 256
            fw, fh = w - 2 * f, h - 2 * f
            frames.append(np.full((fh, fw, 3), c, dtype=np.uint8))
            offsets.append((f, f))
        enc = encode_gif_animated(frames, offsets=offsets)
        if doc_id % 43 == 0:
            return enc[: len(enc) * 2 // 3]  # truncated mid-stream
        return enc

    return _blobs(_spread_ids(docs), "video", _one)


@query(
    "q145_gif_animation_census",
    sql="""
    WITH geo AS (
      SELECT doc_id,
             9 + (doc_id // 3) % 8 AS w,
             9 + (doc_id // 5) % 6 AS h,
             2 + doc_id % 3 AS nf
      FROM documents
    ),
    sums AS (
      SELECT doc_id, w, h, nf,
        -- Σ over frames f of the composited ring sum: inner rings
        -- j < f contribute c_j·(area_j − area_{j+1}), the center
        -- patch c_f·area_f; areas are (w−2j)(h−2j)
        list_sum(list_transform(generate_series(0, nf - 1), f ->
          list_sum(list_transform(generate_series(0, f), j ->
            ((doc_id * 13 + j * 29) % 256) *
            CASE WHEN j < f
                 THEN (w - 2*j) * (h - 2*j) - (w - 2*(j+1)) * (h - 2*(j+1))
                 ELSE (w - 2*j) * (h - 2*j) END
          ))
        )) AS total
      FROM geo
    )
    SELECT doc_id,
      CASE WHEN doc_id % 43 = 0 THEN 0 ELSE CAST(nf AS BIGINT) END AS n_frames,
      CASE WHEN doc_id % 43 = 0 THEN 0
           ELSE CAST(nf * w * h * 3 AS BIGINT) END AS n_units,
      CASE WHEN doc_id % 43 = 0 THEN 0.0
           ELSE CAST(total AS DOUBLE) / (nf * w * h) END AS mean_val
    FROM sums
    """,
    operators=("X-multimodal", "X-gif", "X-animation"),
)
def q145_gif_animation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF frame census — COMPOSITING on the value-hashed
    scoreboard. Each doc is a nested-patch animation (full frame, then
    inset flat patches at growing offsets, disposal 1); the composited
    frames are concentric rings, so the oracle replays frame counts,
    unit counts, and the mean pixel over ALL composited frames as pure
    ring-area arithmetic. This gates sub-rectangle placement, canvas
    persistence across frames, GCE/NETSCAPE extension walking, and
    per-frame LZW decode in one hash; truncated animations (every
    43rd doc) must surface as (0, 0, 0.0) survival rows."""
    from portfolio1_etl_spark.operators.multimodal import animation_census_media

    docs = catalog.load(spark, sf_dir, "documents")
    census = animation_census_media(_synthesize_animations(docs))
    return census.select(
        F.col("path").cast("long").alias("doc_id"),
        "n_frames",
        "n_units",
        "mean_val",
    )


# --- q146: format normalization (transcode) is pixel-lossless --------------

from portfolio1_etl_spark.plans.registry import REGISTRY as _REGISTRY


@query(
    "q146_transcode_census",
    # deliberately the SAME oracle as q142: the transcoded corpus must
    # hash identically to the original one
    sql=_REGISTRY["q142_lossy_pixel_census"].sql,
    operators=("X-multimodal", "X-transcode", "X-jpeg", "X-gif", "X-bmp"),
)
def q146_transcode_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus format normalization on the scoreboard: the q142 mixed
    JPEG/GIF/BMP corpus is TRANSCODED to PNG (``transcode_media`` —
    decode once, re-encode lossless) and the census runs over the
    PNGs. The oracle is q142's SQL verbatim — dims, unit counts, and
    mean pixels must hash IDENTICALLY to the original corpus, which
    is the definition of a lossless normalization pass: the one JPEG
    decode a training corpus ever pays happens here, and nothing
    drifts. Corrupt objects pass through and still surface as
    `undecodable` rows.

    One wrinkle makes this a REAL gate and not a tautology: grayscale
    JPEG decodes to 1 channel and PNG re-encodes it as grayscale, so
    unit counts must come out per-CHANNEL-correct through two
    different containers."""
    from portfolio1_etl_spark.operators.multimodal import transcode_media

    docs = catalog.load(spark, sf_dir, "documents")
    media = transcode_media(_synthesize_lossy_media(docs), target="png")
    feats = decode_media_features(media)
    return feats.select(
        F.col("path").cast("long").alias("doc_id"),
        "dims",
        "n_units",
        "mean_val",
    )


# --- q147: TIFF decode + EXIF orientation normalization --------------------

#: q147 synthesis — even docs are uncompressed TIFFs (gray/RGB, both
#: byte orders, multi-strip), odd docs are flat-gray JPEGs carrying a
#: REAL Exif APP1 segment whose orientation cycles 1-8; the pipeline
#: probes the orientation, decodes, applies ``orient_pixels``, and
#: censuses the UPRIGHT image. The oracle closes because the mean is
#: rotation/flip-invariant while the dims swap exactly for
#: orientations 5-8 — a decoder that ignores EXIF gets the dims
#: wrong, one that rotates pixels wrong gets the mean wrong. Every
#: 29th doc is a truncated TIFF → survival row.


def _synthesize_exif_tiff_media(docs):
    from portfolio1_etl_spark.operators.jpeg import encode_jpeg as _enc_jpeg
    from portfolio1_etl_spark.operators.tiff import (
        encode_tiff as _enc_tiff,
        with_exif_orientation as _with_exif,
    )

    def _one(doc_id: int) -> bytes:
        if doc_id % 29 == 0:
            return b"II*\x00 truncated ifd"
        # q142's geometry
        w, h = 4 * (1 + (doc_id // 3) % 5), 1 + (doc_id // 3) % 7
        if doc_id % 2 == 0:
            rows = ((doc_id + np.arange(h)) % 256).astype(np.uint8)
            if doc_id % 4 == 0:
                px = np.repeat(rows, w).reshape(h, w)
            else:
                px = np.repeat(rows, w * 3).reshape(h, w, 3)
            return _enc_tiff(
                px,
                big_endian=bool((doc_id // 2) % 2),
                rows_per_strip=1 + doc_id % 3,
            )
        v = (doc_id * 11) % 256
        jpg = _enc_jpeg(np.full((h, w), v, dtype=np.uint8), quality=75)
        return _with_exif(jpg, 1 + doc_id % 8, big_endian=bool(doc_id % 4 == 1))

    return _blobs(_spread_ids(docs), "image", _one)


_UPRIGHT_SCHEMA = (
    "doc_id long, orientation long, dims string, n_units long, mean_val double"
)


def _upright_census(media):
    """Probe EXIF orientation, decode, apply the upright transform,
    census the result — the orientation-normalization pass a training
    pipeline runs before any visual model sees a pixel."""

    from portfolio1_etl_spark.operators.jpeg import decode_jpeg
    from portfolio1_etl_spark.operators.tiff import (
        decode_tiff,
        exif_orientation,
        orient_pixels,
    )

    def _row(path, content):
        o = exif_orientation(content)
        if content[:2] == b"\xff\xd8":
            px = decode_jpeg(content)[0]
        elif content[:4] in (b"II*\x00", b"MM\x00*"):
            px = decode_tiff(content)[0]
        else:
            raise ValueError("unexpected format in census")
        px = orient_pixels(px, o)
        h2, w2 = px.shape[:2]
        n = int(px.size)
        mean = int(px.astype(np.int64).sum()) / n
        return int(path), o, f"{w2}x{h2}", n, mean

    return map_rows(
        media, _row, _UPRIGHT_SCHEMA, ["path", "content"],
        on_error=lambda path, content: (int(path), 0, "undecodable", 0, 0.0),
    )


@query(
    "q147_exif_tiff_census",
    sql="""
    WITH geo AS (
      SELECT doc_id,
             4 * (1 + (doc_id // 3) % 5) AS w,
             1 + (doc_id // 3) % 7 AS h
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN doc_id % 29 = 0 THEN 0
           WHEN doc_id % 2 = 0 THEN 1
           ELSE 1 + doc_id % 8 END AS orientation,
      CASE WHEN doc_id % 29 = 0 THEN 'undecodable'
           WHEN doc_id % 2 = 1 AND (1 + doc_id % 8) >= 5
             THEN h::VARCHAR || 'x' || w::VARCHAR
           ELSE w::VARCHAR || 'x' || h::VARCHAR END AS dims,
      CASE WHEN doc_id % 29 = 0 THEN 0
           WHEN doc_id % 2 = 0 AND doc_id % 4 = 0 THEN CAST(w * h AS BIGINT)
           WHEN doc_id % 2 = 0 THEN CAST(3 * w * h AS BIGINT)
           ELSE CAST(w * h AS BIGINT) END AS n_units,
      CASE WHEN doc_id % 29 = 0 THEN 0.0
           WHEN doc_id % 2 = 0 THEN
             list_avg(list_transform(generate_series(0, h - 1),
                                     r -> (doc_id + r) % 256))
           ELSE CAST((doc_id * 11) % 256 AS DOUBLE) END AS mean_val
    FROM geo
    """,
    operators=("X-multimodal", "X-tiff", "X-exif"),
)
def q147_exif_tiff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF decode + EXIF orientation on the scoreboard: uncompressed
    TIFFs (both byte orders, gray and RGB, multi-strip reassembly)
    decode through the shared IFD walker, and JPEGs carrying REAL
    Exif APP1 segments are normalized upright (probe tag 0x0112 →
    decode → ``orient_pixels``). The value hash covers the whole
    chain: dims swap exactly for orientations 5-8 (a pipeline that
    ignores EXIF fails), mean pixels are flip/rotation-invariant and
    DC-exact for the flat JPEGs (a wrong transform fails), TIFF
    gradients close under generate_series arithmetic, and truncated
    objects survive as `undecodable` rows."""
    docs = catalog.load(spark, sf_dir, "documents")
    return _upright_census(_synthesize_exif_tiff_media(docs))


# --- q149: header-only VIDEO metadata census (MP4 box walk) ----------------

#: q149 synthesis — structurally-valid MP4 containers whose
#: duration/dimensions/track-count are doc_id arithmetic; every 31st
#: doc is a box-structure-corrupt object that must surface as NULLs.
#: Payload DECODE stays the library boundary; a 100 TB video census
#: needs moov/mvhd/tkhd, which is plain ISO-BMFF structure.


def _synthesize_mp4_media(docs):
    from portfolio1_etl_spark.operators.multimodal import encode_mp4_stub

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"\x00\x00\x00\x10ftypisom corrupt"
        return encode_mp4_stub(
            duration_ms=1000 * (1 + doc_id % 97),
            width=16 * (1 + doc_id % 40),
            height=16 * (1 + doc_id % 23),
            n_tracks=1 + doc_id % 3,
        )

    return _blobs(docs, "video", _one)


@query(
    "q149_video_metadata_census",
    sql="""
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1000 * (1 + doc_id % 97) AS BIGINT) END AS duration_ms,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(16 * (1 + doc_id % 40) AS BIGINT) END AS width,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(16 * (1 + doc_id % 23) AS BIGINT) END AS height,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1 + doc_id % 3 AS BIGINT) END AS n_tracks
    FROM documents
    """,
    operators=("X-multimodal", "X-media-metadata", "X-mp4-probe"),
)
def q149_video_metadata_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-metadata census — the q137 header-only tier extended to
    the VIDEO modality: duration, resolution, and track count read
    from the MP4 box structure alone (moov → mvhd timescale/duration,
    first visual trak's tkhd 16.16 dimensions; 64-bit box sizes and
    v1 headers supported), never a codec frame. Box-corrupt objects
    (every 31st) surface as NULL rows on the value-hashed board. The
    oracle replays everything as doc_id arithmetic because the
    synthesis IS the contract (q137's pattern)."""
    from portfolio1_etl_spark.operators.multimodal import probe_mp4_metadata

    media = _synthesize_mp4_media(catalog.load(spark, sf_dir, "documents"))

    return map_rows(
        media,
        lambda path, content: (int(path), *probe_mp4_metadata(content)),
        "doc_id long, duration_ms long, width long, height long, n_tracks long",
        ["path", "content"],
        on_error=lambda path, content: (int(path), None, None, None, None),
    )


# --- q152: header-only MPEG AUDIO census (frame-header walk) ----------------

#: q152 synthesis — structurally-valid CBR MPEG audio streams whose
#: version/bitrate/sample-rate/frame-count are doc_id arithmetic;
#: every 5th doc carries an ID3v2 prefix and every 7th an ID3v1
#: trailer (the probe must skip both — they change the BYTES but not
#: one oracle value); every 31st doc is framing-corrupt and must
#: surface as NULLs. Payload decode stays the audio module's
#: documented boundary.


def _synthesize_mp3_media(docs):
    from portfolio1_etl_spark.operators.audio import encode_mp3_stub

    mpeg1_rates = (44100, 48000, 32000)
    mpeg2_rates = (22050, 24000, 16000)
    mpeg1_bps = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    mpeg2_bps = (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"\xff\xe0 not a frame"
        mpeg1 = doc_id % 2 == 0
        return encode_mp3_stub(
            bitrate_kbps=(mpeg1_bps if mpeg1 else mpeg2_bps)[doc_id % 14],
            sample_rate=(mpeg1_rates if mpeg1 else mpeg2_rates)[doc_id % 3],
            n_frames=1 + doc_id % 50,
            id3v2_bytes=(17 + doc_id % 100) if doc_id % 5 == 0 else 0,
            id3v1=doc_id % 7 == 0,
        )

    return _blobs(docs, "audio", _one)


@query(
    "q152_audio_bitrate_census",
    sql="""
    WITH params AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0
          THEN list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                            1 + CAST(doc_id % 14 AS INTEGER))
          ELSE list_extract([8,16,24,32,40,48,56,64,80,96,112,128,144,160],
                            1 + CAST(doc_id % 14 AS INTEGER)) END AS kbps,
        CASE WHEN doc_id % 2 = 0
          THEN list_extract([44100,48000,32000], 1 + CAST(doc_id % 3 AS INTEGER))
          ELSE list_extract([22050,24000,16000], 1 + CAST(doc_id % 3 AS INTEGER))
          END AS rate,
        1 + doc_id % 50 AS nf,
        CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END AS spf
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(kbps AS BIGINT) END AS bitrate_kbps,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(rate AS BIGINT) END AS sample_rate,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(nf AS BIGINT) END AS n_frames,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST((nf * spf * 1000) // rate AS BIGINT) END AS duration_ms
    FROM params
    """,
    operators=("X-multimodal", "X-media-metadata", "X-mp3-probe"),
)
def q152_audio_bitrate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-audio bitrate/duration census — q149's header-only tier
    extended to compressed AUDIO: bitrate, sample rate, frame count,
    and duration read from the 4-byte frame headers alone
    (``audio.probe_mp3_metadata``: ID3v2/ID3v1 skipped, every frame
    length walked so VBR streams census correctly), never a decoded
    sample. Framing-corrupt objects (every 31st) surface as NULL rows
    on the value-hashed board; ID3 wrappers (every 5th/7th) change
    the bytes but not one census value. The oracle replays the
    synthesis arithmetic (q137/q149's pattern). Payload decode stays
    the documented psychoacoustic boundary — this is ISO 11172-3
    framing structure only."""
    from portfolio1_etl_spark.operators.audio import probe_mp3_metadata

    media = _synthesize_mp3_media(catalog.load(spark, sf_dir, "documents"))

    return map_rows(
        media,
        lambda path, content: (int(path), *probe_mp3_metadata(content)[:4]),
        "doc_id long, bitrate_kbps long, sample_rate long, "
        "n_frames long, duration_ms long",
        ["path", "content"],
        on_error=lambda path, content: (int(path), None, None, None, None),
    )


# --- q162: WAV waveform census (silence / RMS / run analysis) ---------------

#: q162 synthesis — PCM16 WAVs whose waveform is doc_id arithmetic:
#: n = 2 + doc_id%5 repetitions of [silence of L = 50·(1+doc_id%4)
#: samples][100-sample ±a square tone, a = 1000 + doc_id%7000]; every
#: 31st doc is chunk-corrupt. The census DECODES the real container
#: (decode_wav) and measures the samples — the closed forms below are
#: what the oracle replays, and they are exact because the sums are
#: small integers and the divisions reduce to the same rationals.


def _synthesize_wav_media(docs):
    import numpy as np

    from portfolio1_etl_spark.operators.multimodal import encode_wav

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"RIFFxxxxWAVEjunk"
        L = 50 * (1 + doc_id % 4)
        a = 1000 + doc_id % 7000
        n = 2 + doc_id % 5
        tone = np.full(100, a, dtype=np.int64)
        tone[1::2] = -a
        block = np.concatenate([np.zeros(L, dtype=np.int64), tone])
        return encode_wav(np.tile(block, n).astype(np.int16))

    return _blobs(docs, "audio", _one)


@query(
    "q162_wav_silence_census",
    sql="""
    WITH params AS (
      SELECT doc_id,
        50 * (1 + doc_id % 4) AS L,
        1000 + doc_id % 7000 AS a,
        2 + doc_id % 5 AS n
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(n * (L + 100) AS BIGINT) END AS n_samples,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE round(sqrt((100.0 * a * a) / (L + 100.0)), 4) END AS rms,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE round(CAST(L AS DOUBLE) / (L + 100.0), 4) END AS silence_ratio,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(L AS BIGINT) END AS longest_silence_run
    FROM params
    """,
    operators=("X-multimodal", "X-audio-census", "X-wav"),
)
def q162_wav_silence_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform-level audio census: per object, sample count, RMS
    level, silence ratio (|x| < 256), and the longest silent run — the
    voice-activity / dead-air screen an audio corpus runs before
    paying for transcription. Decodes the REAL RIFF container
    (``decode_wav`` — same path as PCM/mu-law/ADPCM corpora) inside
    the Arrow-batched narrow map and measures with numpy; malformed
    containers surface as NULL rows. Float parity: the sample sums
    are exact small integers, so mean = the same rational both ways,
    and sqrt is correctly rounded in every IEEE engine — the oracle's
    closed forms are bit-identical before the defensive 4 dp round."""
    from portfolio1_etl_spark.operators.multimodal import decode_wav

    media = _synthesize_wav_media(catalog.load(spark, sf_dir, "documents"))

    def _row(path, content):
        xi = decode_wav(content)[0].astype(np.int64)
        n = len(xi)
        if n == 0:
            raise ValueError("empty waveform")
        rms = round(float(np.sqrt(np.sum(xi * xi) / n)), 4)
        quiet = np.abs(xi) < 256
        ratio = round(float(np.sum(quiet) / n), 4)
        # longest run of quiet samples: diff over padded transitions
        # gives each run's length
        pad = np.concatenate(([False], quiet, [False]))
        edges = np.flatnonzero(pad[1:] != pad[:-1])
        run = int((edges[1::2] - edges[0::2]).max()) if len(edges) else 0
        return int(path), n, rms, ratio, run

    return map_rows(
        media, _row,
        "doc_id long, n_samples long, rms double, "
        "silence_ratio double, longest_silence_run long",
        ["path", "content"],
        on_error=lambda path, content: (int(path), None, None, None, None),
    )


# --- q164: EXIF privacy scrub census ----------------------------------------

#: q164 synthesis — JPEGs whose APP1 Exif carries an orientation tag
#: and (for every 3rd doc) a real GPSInfo sub-IFD with D/M/S rational
#: coordinates; every 31st doc lacks SOI and must surface as NULLs.


def _synthesize_exif_media(docs):
    from portfolio1_etl_spark.operators.tiff import (
        exif_app1_segment,
        exif_app1_with_gps,
    )

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"not a jpeg at all"
        if doc_id % 3 == 0:
            app1 = exif_app1_with_gps(
                orientation=1 + doc_id % 8,
                lat_deg=doc_id % 90,
                lon_deg=doc_id % 180,
                big_endian=doc_id % 2 == 1,
            )
        else:
            app1 = exif_app1_segment(1 + doc_id % 8, doc_id % 2 == 1)
        return (
            b"\xff\xd8" + app1
            + b"\xff\xdb\x00\x04\x00\x00"
            + b"\xff\xda" + bytes([doc_id % 251]) * 16
        )

    return _blobs(docs, "image", _one)


@query(
    "q164_exif_privacy_scrub",
    sql="""
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
           END AS had_gps,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(0 AS BIGINT) END AS gps_after,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1 + doc_id % 8 AS BIGINT) END AS orientation
    FROM documents
    """,
    operators=("X-multimodal", "X-exif-scrub", "X-governance"),
)
def q164_exif_privacy_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF privacy scrub census — the image-side governance op (the
    q115 PII-redaction analogue for metadata): location EXIF is the
    classic training-corpus privacy leak, and the scrub REBUILDS every
    Exif APP1 from a whitelist (orientation only) instead of deleting
    known-bad tags — maker notes and unknown types can smuggle
    coordinates past any blacklist. The census scrubs each object,
    then RE-PARSES the output to prove GPS is gone and orientation
    survived (gps_after is measured, not assumed); structurally
    broken objects surface as NULLs. Everything rides the same
    Arrow-batched narrow map as the other censuses. Oracle replays
    the synthesis arithmetic (q137's pattern)."""
    from portfolio1_etl_spark.operators.tiff import scrub_exif

    media = _synthesize_exif_media(catalog.load(spark, sf_dir, "documents"))

    def _row(path, content):
        clean, had_gps, _ori = scrub_exif(content)
        _clean2, gps_after, ori_after = scrub_exif(clean)
        # 0/1 longs, not booleans: nullable bools normalize differently
        # across the two engines' result paths
        return int(path), int(had_gps), int(gps_after), ori_after

    return map_rows(
        media, _row,
        "doc_id long, had_gps long, gps_after long, orientation long",
        ["path", "content"],
        on_error=lambda path, content: (int(path), None, None, None),
    )


# --- q194: MP3 VBR header census (Xing/Info/VBRI depth) ---------------------

#: q194 synthesis — true VBR streams: nf = 1 + doc_id%20 audio frames,
#: frame i at MPEG1 Layer III bitrate pool[(doc_id+i)%14], rate by
#: doc_id%3; doc_id%3 picks the seek-header kind (0 Xing, 1 VBRI,
#: 2 none), every 31st doc is framing-corrupt. The oracle replays the
#: frame-length arithmetic (144000·k//rate, no padding) in closed
#: form — declared bytes are the exact stream length the stub built.


def _synthesize_mp3_vbr_media(docs):
    from portfolio1_etl_spark.operators.audio import encode_mp3_vbr_stub

    pool = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    rates = (44100, 48000, 32000)

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"\xff\xfbjunk-not-a-frame"
        nf = 1 + doc_id % 20
        return encode_mp3_vbr_stub(
            [pool[(doc_id + i) % 14] for i in range(nf)],
            rates[doc_id % 3],
            vbr_header=("xing", "vbri", None)[doc_id % 3],
            id3v2_bytes=(13 + doc_id % 40) if doc_id % 5 == 0 else 0,
        )

    return _blobs(docs, "audio", _one)


@query(
    "q194_mp3_vbr_census",
    sql="""
    WITH params AS (
      SELECT doc_id,
        list_extract([44100,48000,32000], 1 + CAST(doc_id % 3 AS INTEGER))
          AS rate,
        1 + doc_id % 20 AS nf,
        CAST(doc_id % 3 AS INTEGER) AS mkind
      FROM documents
    ),
    kl AS (
      SELECT doc_id, rate, nf, mkind,
        list_transform(generate_series(0, CAST(nf - 1 AS INTEGER)),
          i -> list_extract(
            [32,40,48,56,64,80,96,112,128,160,192,224,256,320],
            1 + CAST((doc_id + i) % 14 AS INTEGER))) AS ks
      FROM kl_src
    ),
    calc AS (
      SELECT doc_id, nf, mkind, rate,
        list_sum(list_transform(ks, k -> 144000 * k // rate)) AS audio_bytes,
        144000 * ks[1] // rate AS head_bytes,
        list_sum(ks) AS ksum, ks[1] AS k0
      FROM kl
    )
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN 'corrupt'
           WHEN mkind = 0 THEN 'xing'
           WHEN mkind = 1 THEN 'vbri' ELSE 'none' END AS vbr_method,
      CASE WHEN doc_id % 31 = 0 OR mkind = 2 THEN NULL
           ELSE CAST(nf AS BIGINT) END AS declared_frames,
      CASE WHEN doc_id % 31 = 0 OR mkind = 2 THEN NULL
           ELSE CAST(head_bytes + audio_bytes AS BIGINT) END AS declared_bytes,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(nf + CASE WHEN mkind = 2 THEN 0 ELSE 1 END AS BIGINT)
           END AS walked_frames,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST((nf + CASE WHEN mkind = 2 THEN 0 ELSE 1 END)
                     * 1152 * 1000 // rate AS BIGINT) END AS duration_ms,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST((ksum + CASE WHEN mkind = 2 THEN 0 ELSE k0 END)
                     // (nf + CASE WHEN mkind = 2 THEN 0 ELSE 1 END)
                     AS BIGINT) END AS mean_kbps
    FROM calc
    """.replace("kl_src", "params"),
    operators=("X-multimodal", "X-mp3-probe", "X-mp3-vbr"),
)
def q194_mp3_vbr_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 seek-header (VBR) census — q152's framing tier extended to
    the Xing/Info and VBRI structures real encoders write into the
    first frame, because CBR math (bitrate × duration) lies for VBR
    streams: per object, the header kind, its DECLARED frame/byte
    counts (``audio.probe_mp3_vbr_info``), and the frame-walk truth
    (walked frames, duration, frame-weighted mean bitrate) the
    declaration is audited against. Governance use: a declared-vs-
    walked mismatch is the tamper/truncation signal, and duration
    from the walk is the only correct accounting for header-less VBR.
    Framing-corrupt objects surface as 'corrupt'/NULL rows. Scale
    shape: synthesis and probe are one narrow Arrow-batched
    ``map_rows`` chain over doc_id — embarrassingly parallel, no
    shuffle; payload decode stays the documented codec boundary."""
    from portfolio1_etl_spark.operators.audio import (
        probe_mp3_metadata,
        probe_mp3_vbr_info,
    )

    media = _synthesize_mp3_vbr_media(catalog.load(spark, sf_dir, "documents"))

    def _row(path, content):
        kbps, _rate, walked, dur, _layer = probe_mp3_metadata(content)
        method, df_, db_ = probe_mp3_vbr_info(content)
        return int(path), method, df_, db_, walked, dur, kbps

    return map_rows(
        media, _row,
        "doc_id long, vbr_method string, declared_frames long, "
        "declared_bytes long, walked_frames long, duration_ms long, "
        "mean_kbps long",
        ["path", "content"],
        on_error=lambda path, content: (
            int(path), "corrupt", None, None, None, None, None
        ),
    )


# ---------------------------------------------------------------------------
# q241 — mixed MPEG-audio / ADTS-AAC transport census (r10)
# ---------------------------------------------------------------------------


def _synthesize_mixed_audio_media(docs):
    """Deterministic mixed-transport corpus: per doc_id one of CBR
    MPEG audio, VBR MPEG audio (Xing-headed or bare), or ADTS AAC —
    with framing-corrupt objects salted in. All parameters are pure
    id arithmetic so the DuckDB oracle replays the census in closed
    form without parsing a byte."""
    from portfolio1_etl_spark.operators.audio import (
        encode_adts_stub,
        encode_mp3_stub,
        encode_mp3_vbr_stub,
    )

    pool = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    mp3_rates = (44100, 48000, 32000)
    aac_rates = (48000, 44100, 32000, 24000, 16000)

    def _one(doc_id: int) -> bytes:
        if doc_id % 29 == 0:
            return b"\xff\xf9corrupt-not-a-frame"
        nf = 1 + doc_id % 17
        kind = doc_id % 3
        if kind == 0:
            return encode_mp3_stub(
                pool[doc_id % 14], mp3_rates[(doc_id // 3) % 3], nf
            )
        if kind == 1:
            return encode_mp3_vbr_stub(
                [pool[(doc_id + i) % 14] for i in range(nf)],
                mp3_rates[(doc_id // 3) % 3],
                vbr_header="xing" if doc_id % 2 == 1 else None,
            )
        return encode_adts_stub(
            ("main", "lc", "ssr", "ltp")[doc_id % 4],
            aac_rates[(doc_id // 3) % 5],
            1 + doc_id % 2,
            [(doc_id + 7 * i) % 300 for i in range(nf)],
            blocks_per_frame=1 + doc_id % 2,
        )

    return _blobs(docs, "audio", _one)


@query(
    "q241_adts_census",
    sql="""
    WITH p AS (
      SELECT doc_id,
        doc_id % 3 AS kind,
        1 + doc_id % 17 AS nf,
        list_extract([44100,48000,32000],
          1 + CAST((doc_id // 3) % 3 AS INTEGER)) AS mrate,
        list_extract([48000,44100,32000,24000,16000],
          1 + CAST((doc_id // 3) % 5 AS INTEGER)) AS arate,
        1 + doc_id % 2 AS blocks
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN doc_id % 29 = 0 THEN 'corrupt'
           WHEN kind = 2 THEN 'aac-adts' ELSE 'mpeg-audio' END AS codec,
      CASE WHEN doc_id % 29 = 0 OR kind = 2 THEN NULL
           WHEN kind = 1 AND doc_id % 2 = 1 THEN 'xing'
           ELSE 'none' END AS vbr_method,
      CASE WHEN doc_id % 29 = 0 THEN NULL
           WHEN kind = 2 THEN CAST(nf AS BIGINT)
           WHEN kind = 1 AND doc_id % 2 = 1 THEN CAST(nf + 1 AS BIGINT)
           ELSE CAST(nf AS BIGINT) END AS n_frames,
      CASE WHEN doc_id % 29 = 0 THEN NULL
           WHEN kind = 2 THEN CAST(nf * blocks * 1024 * 1000 // arate AS BIGINT)
           WHEN kind = 1 AND doc_id % 2 = 1
             THEN CAST((nf + 1) * 1152 * 1000 // mrate AS BIGINT)
           ELSE CAST(nf * 1152 * 1000 // mrate AS BIGINT) END AS duration_ms,
      CASE WHEN doc_id % 29 = 0 THEN NULL
           WHEN kind = 2 THEN CAST(arate AS BIGINT)
           ELSE CAST(mrate AS BIGINT) END AS sample_rate,
      CASE WHEN doc_id % 29 = 0 OR kind <> 2 THEN NULL
           ELSE list_extract(['main','lc','ssr','ltp'],
                             1 + CAST(doc_id % 4 AS INTEGER)) END AS profile,
      CASE WHEN doc_id % 29 = 0 OR kind <> 2 THEN NULL
           ELSE CAST(1 + doc_id % 2 AS BIGINT) END AS channels
    FROM p
    """,
    operators=("X-multimodal", "X-adts-probe", "X-mp3-probe", "X-mp3-vbr"),
)
def q241_adts_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed audio-transport census (r10): one pass over a corpus of
    MPEG audio (CBR + VBR) AND ADTS AAC objects, dispatching by
    framing alone — both transports sync on 0xFFF, but ADTS requires
    the layer bits MPEG reserves, so the two probes are mutually
    exclusive by construction (operators/audio.py) and the census
    never needs a filename hint. Per object: codec, VBR seek-header
    kind, exact frame-walked frame count and duration (the q194
    frame-walk discipline — CBR math lies for VBR and for
    multi-block ADTS), sample rate, and the AAC profile/channel
    config from the fixed header. Framing-corrupt objects surface as
    'corrupt'/NULL rows, never a crash. Scale shape: synthesis and
    probe are one narrow Arrow-batched ``map_rows`` chain — no
    shuffle; AAC/MP3 payload decode stays the documented boundary."""
    from portfolio1_etl_spark.operators.audio import (
        probe_adts_metadata,
        probe_mp3_metadata,
        probe_mp3_vbr_info,
    )

    media = _synthesize_mixed_audio_media(catalog.load(spark, sf_dir, "documents"))

    def _row(path, content):
        try:  # ADTS first; a framing error falls through to MPEG audio
            profile, rate, chans, nf, _blocks, dur = probe_adts_metadata(content)
            return int(path), "aac-adts", None, nf, dur, rate, profile, chans
        except DECODE_ERRORS:
            pass
        _kbps, rate, nf, dur, _layer = probe_mp3_metadata(content)
        method = probe_mp3_vbr_info(content)[0]
        method = "none" if method == "info" else method
        return int(path), "mpeg-audio", method, nf, dur, rate, None, None

    return map_rows(
        media, _row,
        "doc_id long, codec string, vbr_method string, n_frames long, "
        "duration_ms long, sample_rate long, profile string, channels long",
        ["path", "content"],
        on_error=lambda path, content: (int(path), "corrupt") + (None,) * 6,
    )


# --- q264: MP4 SAMPLE-TABLE census (stbl walk, r11) -------------------------

#: q264 synthesis — MP4 containers with REAL per-track sample tables
#: (stsd codec entry, two-run stts timeline, uniform-or-table stsz),
#: all parameters doc_id arithmetic; every 31st doc is box-corrupt
#: (q149's class) and every 37th is TABLE-corrupt (a valid container
#: whose stts run count lies about the bytes present) — both must
#: surface as NULL rows. Payload decode stays the library boundary;
#: per ISO 14496-12 the census is pure structure.


def _synthesize_mp4_stbl_media(docs):
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_sample_tables,
    )

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"\x00\x00\x00\x10ftypisom corrupt"
        tracks = []
        for t in range(1 + doc_id % 2):
            k = doc_id + t
            n = 10 + (k % 20)
            tracks.append(
                {
                    "codec": ("avc1", "hvc1", "mp4a", "av01")[k % 4],
                    "timescale": 1000 * (1 + k % 3),
                    "runs": [(n // 2, 100), (n - n // 2, 200)],
                    "sizes": (
                        50 + (k % 100)
                        if k % 2 == 0
                        else [41 + i for i in range(n)]
                    ),
                }
            )
        data = encode_mp4_sample_tables(tracks)
        if doc_id % 37 == 0:
            # table corruption: stts claims 2^16 runs, bytes hold 2 —
            # the probe must refuse the whole object, not half-read it
            i = data.index(b"stts") + 4
            data = data[: i + 4] + b"\x00\x01\x00\x00" + data[i + 8 :]
        return data

    return _blobs(docs, "video", _one)


@query(
    "q264_mp4_sample_table_census",
    sql="""
    WITH tracks AS (
      SELECT doc_id, t, doc_id + t AS k, 10 + ((doc_id + t) % 20) AS n
      FROM documents, range(2) r(t)
      WHERE doc_id % 31 <> 0 AND doc_id % 37 <> 0 AND t < 1 + doc_id % 2),
    calc AS (
      SELECT doc_id, t, k, n,
             list_extract(['avc1','hvc1','mp4a','av01'],
                          1 + CAST(k % 4 AS INTEGER)) AS codec,
             1000 * (1 + k % 3) AS timescale,
             200 * n - 100 * (n // 2) AS dur_units,
             CASE WHEN k % 2 = 0 THEN n * (50 + (k % 100))
                  ELSE 40 * n + n * (n + 1) // 2 END AS total
      FROM tracks)
    SELECT doc_id, CAST(t + 1 AS BIGINT) AS track_idx, codec,
           CAST(n AS BIGINT) AS n_samples,
           CAST(total AS BIGINT) AS total_bytes,
           CAST(dur_units * 1000 // timescale AS BIGINT) AS duration_ms,
           CAST(total * 8 * timescale // dur_units AS BIGINT) AS bitrate_bps
    FROM calc
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL
    FROM documents WHERE doc_id % 31 = 0 OR doc_id % 37 = 0
    """,
    operators=("X-multimodal", "X-media-metadata", "X-mp4-stbl"),
)
def q264_mp4_sample_table_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 SAMPLE-TABLE census (r11 — the r10 verdict's remaining
    multimodal headroom): q149's box walk extended into stbl, reading
    per-track codec fourcc (stsd), sample count + exact byte volume
    (stsz, uniform and per-sample forms), timeline duration (two-run
    stts in mdhd timescale units), and exact integer average bitrate
    — the audit a 100 TB video corpus runs BEFORE spending GPU decode
    (which stays the documented loud boundary). One output row per
    track; box-corrupt (every 31st) and table-corrupt (every 37th —
    an stts run count lying about the bytes present, caught by the
    probe's full-consistency rule) objects surface as single NULL
    rows: ``map_rows`` returns each object's tracks as one array and
    ``F.inline`` expands it. A narrow map over synthesized containers;
    the oracle replays the synthesis as doc_id arithmetic (q137/q149
    pattern)."""
    from portfolio1_etl_spark.operators.multimodal import (
        probe_mp4_sample_tables,
    )

    media = _synthesize_mp4_stbl_media(catalog.load(spark, sf_dir, "documents"))

    tracks = map_rows(
        media,
        lambda path, content: (int(path), probe_mp4_sample_tables(content)),
        "doc_id long, tracks array<struct<track_idx: bigint, codec: string,"
        " n_samples: bigint, total_bytes: bigint, duration_ms: bigint,"
        " bitrate_bps: bigint>>",
        ["path", "content"],
        on_error=lambda path, content: (int(path), [(None,) * 6]),
    )
    return tracks.select("doc_id", F.inline("tracks"))


# ---------------------------------------------------------------------------
# q278 — FLAC STREAMINFO census (r11)
# ---------------------------------------------------------------------------


def _synthesize_flac_media(docs):
    """Deterministic FLAC corpus: per doc_id one real container head
    ('fLaC' magic + spec-exact packed STREAMINFO, optionally a
    VORBIS_COMMENT and a PADDING block) with truncation-corrupt
    objects salted in. Pure id arithmetic, so the oracle replays the
    census in closed form without parsing a byte."""
    from portfolio1_etl_spark.operators.audio import encode_flac_stub

    rates = (44100, 48000, 96000, 22050)

    def _one(doc_id: int) -> bytes:
        if doc_id % 31 == 0:
            return b"fLaC\x00\x00\x00"  # truncated metadata header
        return encode_flac_stub(
            rates[(doc_id // 2) % 4],
            1 + doc_id % 3,
            16 + 8 * (doc_id % 2),
            1000 + (doc_id % 97) * 441,
            comment=("t" * (1 + doc_id % 7)) if doc_id % 3 == 0 else None,
            padding=4 if doc_id % 5 == 0 else 0,
        )

    return _blobs(docs, "audio", _one)


@query(
    "q278_flac_census",
    sql="""
    SELECT doc_id,
      CASE WHEN doc_id % 31 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(list_extract([44100,48000,96000,22050],
                     1 + CAST((doc_id // 2) % 4 AS INTEGER)) AS BIGINT)
           END AS sample_rate,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1 + doc_id % 3 AS BIGINT) END AS channels,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(16 + 8 * (doc_id % 2) AS BIGINT) END AS bits_per_sample,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST(1000 + (doc_id % 97) * 441 AS BIGINT) END AS total_samples,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE CAST((1000 + (doc_id % 97) * 441) * 1000
                     // list_extract([44100,48000,96000,22050],
                                     1 + CAST((doc_id // 2) % 4 AS INTEGER))
                     AS BIGINT) END AS duration_ms,
      CASE WHEN doc_id % 31 = 0 THEN NULL
           ELSE 'streaminfo'
                || CASE WHEN doc_id % 3 = 0 THEN ',vorbis_comment' ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ',padding' ELSE '' END
           END AS blocks
    FROM documents
    """,
    operators=("X-multimodal", "X-flac-probe", "UDF-map_rows"),
)
def q278_flac_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC container census (r11) — the lossless-audio member of the
    transport tier (MP3 q194, ADTS q241, MP4 stbl q264, WAV q162):
    walk every object's metadata blocks and decode the spec-packed
    STREAMINFO (20-bit rate / 3-bit channels / 5-bit depth / 36-bit
    sample count in one 64-bit big-endian field) into rate, channels,
    bit depth, exact sample count, and derived duration; the block
    walk itself is reported (streaminfo,vorbis_comment,padding) so a
    governance sweep can find tagged objects. Truncated containers
    surface as 'corrupt'/NULL rows — the probe raises loudly and the
    census catches per-object (the q149 pattern), never a crash.
    Audio-frame decode stays the documented loud boundary
    (operators/audio.py). Scale shape: synthesis and probe are one
    narrow Arrow-batched ``map_rows`` chain over the corpus — zero
    shuffles; the oracle replays the id arithmetic in closed form."""
    from portfolio1_etl_spark.operators.audio import probe_flac_streaminfo

    media = _synthesize_flac_media(catalog.load(spark, sf_dir, "documents"))

    def _row(path, content):
        *info, blocks = probe_flac_streaminfo(content)
        return (int(path), "ok", *info, ",".join(blocks))

    return map_rows(
        media, _row,
        "doc_id long, status string, sample_rate long, channels long, "
        "bits_per_sample long, total_samples long, duration_ms long, "
        "blocks string",
        ["path", "content"],
        on_error=lambda path, content: (int(path), "corrupt") + (None,) * 6,
    )


# --- q290: MP4 sample extraction census (stsz/stsc/stco slicing, r13) -------


def _synthesize_mp4_payload_media(docs):
    """One-track MP4s with REAL muxed payloads, deterministic from
    doc_id so the oracle replays the bytes as arithmetic: sample ``i``
    of doc ``d`` is byte value ``(7d + 13i) % 97 + 1`` repeated
    ``15 + (d + i) % 23`` times, chunked ``1 + d % 4`` samples per
    chunk (exercising the short-tail stsc entry). Every 29th doc is a
    census-only file (no stsc/stco) the extractor must refuse."""
    from portfolio1_etl_spark.operators.multimodal import (
        encode_mp4_sample_tables,
    )

    def _one(doc_id: int) -> bytes:
        n = 6 + doc_id % 9
        track = {
            "codec": "avc1",
            "timescale": 90000,
            "runs": [(n, 3000)],
            "sizes": 64,
            "samples_per_chunk": 1 + doc_id % 4,
        }
        if doc_id % 29 == 0:
            return encode_mp4_sample_tables([track])
        payloads = [
            bytes([(7 * doc_id + 13 * i) % 97 + 1]) * (15 + (doc_id + i) % 23)
            for i in range(n)
        ]
        return encode_mp4_sample_tables([track], payloads=[payloads])

    return _blobs(_spread_ids(docs), "video", _one)


@query(
    "q290_mp4_sample_extract",
    sql="""
    WITH ok AS (SELECT doc_id, 6 + doc_id % 9 AS n FROM documents
                WHERE doc_id % 29 <> 0),
    picks AS (
      SELECT doc_id, n, i, (i * (n - 1)) // 3 AS p
      FROM ok, range(4) r(i)),
    calc AS (
      SELECT doc_id, i, p,
             15 + (doc_id + p) % 23 AS n_bytes,
             (7 * doc_id + 13 * p) % 97 + 1 AS byte_val
      FROM picks)
    SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
           CAST(p AS BIGINT) AS sample_no,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(byte_val AS BIGINT) AS first_byte,
           CAST(n_bytes * byte_val AS BIGINT) AS byte_sum
    FROM calc
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL
    FROM documents WHERE doc_id % 29 = 0
    """,
    operators=("X-multimodal", "X-mp4-extract", "X-media-sampling"),
)
def q290_mp4_sample_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sample payload EXTRACTION census (r13): four evenly-spaced
    samples per MP4 sliced through the full ISO 14496-12 addressing
    chain — stsz sizes, the stsc run-length chunk map (with a
    short-tail entry), stco chunk offsets muxed by the two-pass
    encoder — each extracted sample audited by exact length, first
    byte, and byte sum. This is the pre-decode step a GPU video
    pipeline runs at corpus scale: ship exact compressed samples to
    the decoder, never whole files (decode of the payload stays the
    documented library boundary). Census-only files (no stsc/stco,
    every 29th doc) surface as single NULL rows — the extractor
    refuses rather than guessing offsets. The oracle replays both the
    mux and the even-spacing pick arithmetic from doc_id alone, so a
    one-byte slicing error anywhere in the chain moves the value
    hash."""
    from portfolio1_etl_spark.operators.multimodal import (
        extract_mp4_samples,
    )

    media = _synthesize_mp4_payload_media(
        catalog.load(spark, sf_dir, "documents")
    )

    def _row(path, content):
        n = 6 + int(path) % 9
        picks = [(i * (n - 1)) // 3 for i in range(4)]
        samples = extract_mp4_samples(content, track=1, indices=picks)
        return int(path), [
            (i, p, len(s), s[0] if s else None, sum(s))
            for i, (p, s) in enumerate(zip(picks, samples))
        ]

    frames = map_rows(
        media, _row,
        "doc_id long, frames array<struct<frame_no: bigint, sample_no: bigint,"
        " n_bytes: bigint, first_byte: bigint, byte_sum: bigint>>",
        ["path", "content"],
        on_error=lambda path, content: (int(path), [(None,) * 5]),
    )
    return frames.select("doc_id", F.inline("frames"))
