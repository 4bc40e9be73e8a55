"""Multimodal pipeline query: binary payload -> mapInPandas feature extraction.

The only pandas-UDF query in the engine (everything else is pure built-ins);
it exists to prove the Arrow plumbing — binary columns, batch iteration,
typed output schema — against an oracle that recomputes the deterministic
fake features in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import documents_as_media, extract_features
from ..sources.catalog import read_table
from . import query


@query(
    "multimodal_features",
    oracle="""
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1))
                 ELSE -1 END AS BIGINT) AS first_byte
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: documents→payload adapter,
    mapInPandas (Arrow batches) feature extraction, metadata projection.
    The float feature vector is dropped from the oracle-compared output
    (doubles derived in Python; the byte stats fully pin the plumbing)."""
    docs = read_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    feats = extract_features(media)
    return feats.select("media_id", "byte_len", "first_byte")


IMG_W = 16
IMG_H = 16
_RASTER_LEN = IMG_W * IMG_H * 3


@query(
    "multimodal_decode",
    oracle=f"""
WITH raster AS (
    SELECT doc_id, rpad(substr(text, 1, {_RASTER_LEN}), {_RASTER_LEN}, ' ')
               AS r
    FROM documents
),
px AS (
    SELECT doc_id, r, unnest(generate_series(0, {_RASTER_LEN - 1})) AS i
    FROM raster
)
SELECT doc_id AS media_id,
       CAST({IMG_W} AS BIGINT) AS width,
       CAST({IMG_H} AS BIGINT) AS height,
       CAST(sum(CASE WHEN i % 3 = 0 THEN ascii(substr(r, i + 1, 1)) END)
            AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN i % 3 = 1 THEN ascii(substr(r, i + 1, 1)) END)
            AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN i % 3 = 2 THEN ascii(substr(r, i + 1, 1)) END)
            AS BIGINT) AS sum_b,
       md5(r) AS raster_md5
FROM px
GROUP BY doc_id, r
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end — no stubbed codec anywhere: each
    document's bytes become a deterministic {IMG_W}x{IMG_H} binary PPM (P6
    header + space-padded raster) built IN-PLAN (string ops, zero Python),
    then `decode_image` parses header+raster with numpy inside
    mapInPandas and emits exact integer channel sums plus an md5 of the
    decoded raster. The oracle rebuilds the raster in SQL and recomputes
    every statistic per byte, so header parsing, raster extraction, and
    channel de-interleaving are pinned bit-for-bit (documents are ASCII —
    byte and character offsets coincide). The same dispatch decodes 24-bpp
    BMP (round-trip pytest-pinned); compressed formats plug into
    `decode_image` with an external codec, leaving the Spark plumbing
    unchanged.

    Scale: payload construction and decode are a zero-shuffle projection
    (Arrow-batched, bounded by arrow.maxRecordsPerBatch); the only
    movement is whatever the caller aggregates downstream."""
    from ..operators.multimodal import decode_features

    docs = read_table(spark, sf_dir, "documents")
    raster = F.rpad(F.substring("text", 1, _RASTER_LEN), _RASTER_LEN, " ")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(f"P6\n{IMG_W} {IMG_H}\n255\n"), raster
        ).cast("binary").alias("payload"),
    )
    return decode_features(media)


FRAME_SIZE = 64
FRAME_STRIDE = 48


@query(
    "multimodal_frames",
    oracle=f"""
WITH framed AS (
    SELECT doc_id AS media_id,
           unnest(generate_series(0,
               CAST(greatest(length(text) - 1, 0) AS BIGINT) // {FRAME_STRIDE}
           )) AS frame_idx,
           text
    FROM documents
)
SELECT media_id, frame_idx,
       CAST(least({FRAME_SIZE}, length(text) - frame_idx * {FRAME_STRIDE})
            AS BIGINT) AS frame_len,
       md5(substr(text, frame_idx * {FRAME_STRIDE} + 1, {FRAME_SIZE})) AS frame_hash
FROM framed
""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing end-to-end: payload → mapInPandas fan-out (one
    row per FRAME_STRIDE-spaced frame) → per-frame length + content hash.
    The oracle recomputes every frame slice in SQL, so the Arrow round-trip
    of binary sub-slices is pinned byte-for-byte (documents are ASCII, so
    byte and character offsets coincide)."""
    from ..operators.multimodal import sample_frames

    docs = read_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    frames = sample_frames(media, frame_size=FRAME_SIZE, stride=FRAME_STRIDE)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame_payload").cast("long").alias("frame_len"),
        F.md5("frame_payload").alias("frame_hash"),
    )


AUDIO_BYTES = 384                    # 192 int16 mono PCM samples
AUDIO_RATE = 8000
# Constant 44-byte RIFF/fmt/data header for AUDIO_BYTES of PCM-16 mono
# at AUDIO_RATE (see operators.multimodal.encode_wav for the layout).
_WAV_HDR_HEX = (
    "52494646a401000057415645666d7420100000000100010040"
    "1f0000803e0000020010006461746180010000"
)


@query(
    "multimodal_audio",
    oracle=f"""
WITH raster AS (
    SELECT doc_id, rpad(substr(text, 1, {AUDIO_BYTES}), {AUDIO_BYTES}, ' ')
               AS r
    FROM documents
),
sm AS (
    SELECT doc_id, j,
           ascii(substr(r, 2 * j + 1, 1))
               + 256 * ascii(substr(r, 2 * j + 2, 1)) AS s
    FROM raster,
         (SELECT unnest(generate_series(0, {AUDIO_BYTES // 2 - 1})) AS j)
),
seq AS (
    SELECT doc_id, s,
           lag(s) OVER (PARTITION BY doc_id ORDER BY j) AS prev_s
    FROM sm
)
SELECT doc_id AS media_id,
       CAST({AUDIO_RATE} AS BIGINT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
       CAST(sum(CASE WHEN prev_s IS NOT NULL AND prev_s * s < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
FROM seq GROUP BY doc_id
""",
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: each document's bytes become a valid
    mono PCM-16 WAV (constant RIFF header literal + space-padded raster)
    built IN-PLAN, then `decode_audio` walks the RIFF chunks with numpy
    inside mapInPandas and emits exact integer features (sample count,
    total absolute amplitude, zero crossings). The oracle re-derives every
    16-bit little-endian sample byte-by-byte in SQL, pinning chunk
    walking, sample decoding, and channel handling bit-for-bit. ASCII
    payload bytes keep every sample non-negative (high byte < 128), so
    zero_cross is structurally 0 here — the signed/negative paths are
    pinned by the codec round-trip pytest with full-range random int16.

    Same scale shape as multimodal_decode: zero-shuffle Arrow-batched
    projection."""
    from ..operators.multimodal import audio_features

    docs = read_table(spark, sf_dir, "documents")
    raster = F.rpad(F.substring("text", 1, AUDIO_BYTES), AUDIO_BYTES, " ")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_WAV_HDR_HEX)), raster.cast("binary")
        ).alias("payload"),
    )
    return audio_features(media)


VID_W = 8
VID_H = 8
VID_FRAMES = 2
_PLANE = VID_W * VID_H            # 64 bytes per plane (C444)
_FRAME_BYTES = 3 * _PLANE         # 192
_VID_RASTER = VID_FRAMES * _FRAME_BYTES
_Y4M_HDR = f"YUV4MPEG2 W{VID_W} H{VID_H} F25:1 Ip A1:1 C444\n"


@query(
    "multimodal_video",
    oracle=f"""
WITH raster AS (
    SELECT doc_id, rpad(substr(text, 1, {_VID_RASTER}), {_VID_RASTER}, ' ')
               AS r
    FROM documents
),
px AS (
    SELECT doc_id,
           CAST(p // {_FRAME_BYTES} AS BIGINT) AS frame_idx,
           (p % {_FRAME_BYTES}) // {_PLANE} AS plane,
           ascii(substr(r, p + 1, 1)) AS v
    FROM raster,
         (SELECT unnest(generate_series(0, {_VID_RASTER - 1})) AS p)
)
SELECT doc_id AS media_id, frame_idx,
       CAST({VID_W} AS BIGINT) AS width,
       CAST({VID_H} AS BIGINT) AS height,
       CAST(sum(CASE WHEN plane = 0 THEN v END) AS BIGINT) AS sum_y,
       CAST(sum(CASE WHEN plane = 1 THEN v END) AS BIGINT) AS sum_u,
       CAST(sum(CASE WHEN plane = 2 THEN v END) AS BIGINT) AS sum_v
FROM px
GROUP BY doc_id, frame_idx
""",
)
def q_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux+decode end-to-end: each document's bytes become a
    valid {VID_FRAMES}-frame {VID_W}x{VID_H} YUV4MPEG2 (C444) stream built
    IN-PLAN (ASCII stream header + FRAME markers + planar raster slices),
    then `decode_video` walks the container with numpy inside mapInPandas
    and emits one row per decoded frame with exact integer plane sums.
    The oracle re-derives every byte's (frame, plane) assignment in SQL,
    pinning header parsing, FRAME-marker walking, and planar extraction
    bit-for-bit. Compressed containers (MP4/MKV) plug into the
    `decode_video` dispatch with PyAV; the Spark plumbing — including the
    per-frame fan-out this query exercises — is unchanged.

    Scale: zero-shuffle Arrow-batched projection with bounded in-batch
    fan-out (VID_FRAMES rows per payload)."""
    from ..operators.multimodal import video_frame_features

    docs = read_table(spark, sf_dir, "documents")
    raster = F.rpad(F.substring("text", 1, _VID_RASTER), _VID_RASTER, " ")
    frame_parts = []
    for i in range(VID_FRAMES):
        frame_parts.append(F.lit("FRAME\n"))
        frame_parts.append(
            F.substring(raster, i * _FRAME_BYTES + 1, _FRAME_BYTES)
        )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit(_Y4M_HDR), *frame_parts).cast("binary").alias(
            "payload"
        ),
    )
    return video_frame_features(media)


RSZ_W = 8
RSZ_H = 8
_RSZ_LEN = RSZ_W * RSZ_H * 3  # 192 bytes of resized raster


@query(
    "multimodal_resize",
    oracle=f"""
WITH raster AS (
    SELECT doc_id, rpad(substr(text, 1, {_RASTER_LEN}), {_RASTER_LEN}, ' ')
               AS r
    FROM documents
),
mapped AS (
    SELECT doc_id, k,
           ascii(substr(r,
               ((2 * (k // {RSZ_W * 3})) * {IMG_W}
                + 2 * ((k % {RSZ_W * 3}) // 3)) * 3 + (k % 3) + 1,
               1)) AS v,
           substr(r,
               ((2 * (k // {RSZ_W * 3})) * {IMG_W}
                + 2 * ((k % {RSZ_W * 3}) // 3)) * 3 + (k % 3) + 1,
               1) AS ch
    FROM raster,
         (SELECT unnest(generate_series(0, {_RSZ_LEN - 1})) AS k)
)
SELECT doc_id AS media_id,
       CAST({RSZ_W} AS BIGINT) AS width,
       CAST({RSZ_H} AS BIGINT) AS height,
       CAST(sum(CASE WHEN k % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN k % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN k % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       md5(string_agg(ch, '' ORDER BY k)) AS raster_md5
FROM mapped GROUP BY doc_id
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end: {IMG_W}x{IMG_H} PPM payloads built
    in-plan -> `decode_image` -> nearest-neighbor resample to
    {RSZ_W}x{RSZ_H} (exact integer index mapping src = dst * src_dim //
    dst_dim) -> re-encode as PPM -> decode again and emit exact channel
    sums + md5 of the RESIZED raster. The oracle re-derives every resized
    byte's source position in SQL and reassembles the resized raster for
    the md5, so decode, resample geometry, and re-encode are pinned
    bit-for-bit. Nearest-neighbor (not an interpolating kernel) is chosen
    precisely because it is exact integer arithmetic both engines can
    reproduce; a bilinear kernel drops into `resample_nearest`'s slot with
    the same plumbing.

    Scale: two chained zero-shuffle Arrow projections (resize, then
    feature extraction)."""
    from ..operators.multimodal import decode_features, resize_decoded_images

    docs = read_table(spark, sf_dir, "documents")
    raster = F.rpad(F.substring("text", 1, _RASTER_LEN), _RASTER_LEN, " ")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(f"P6\n{IMG_W} {IMG_H}\n255\n"), raster
        ).cast("binary").alias("payload"),
    )
    resized = resize_decoded_images(media, width=RSZ_W, height=RSZ_H)
    return decode_features(resized)


PHASH_BANDS = 4
PHASH_MAX_HAMMING = 10


@query(
    "multimodal_phash_neardup",
    oracle=f"""
WITH raster AS (
    SELECT doc_id,
           rpad(substr(text, 1, {_RASTER_LEN}), {_RASTER_LEN}, text || ' ')
               AS r
    FROM documents
),
px AS (
    SELECT doc_id, (i // {IMG_W}) // 2 AS br, (i % {IMG_W}) // 2 AS bc,
           (299 * ascii(substr(r, 3 * i + 1, 1))
            + 587 * ascii(substr(r, 3 * i + 2, 1))
            + 114 * ascii(substr(r, 3 * i + 3, 1))) // 1000 AS gray
    FROM (SELECT doc_id, r,
                 unnest(generate_series(0, {IMG_W * IMG_H - 1})) AS i
          FROM raster)
),
blocks AS (SELECT doc_id, br, bc, sum(gray) AS s FROM px GROUP BY 1, 2, 3),
bits AS (
    SELECT a.doc_id, a.br * 8 + a.bc AS pos,
           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
    FROM blocks a JOIN blocks b
      ON b.doc_id = a.doc_id AND b.br = a.br AND b.bc = (a.bc + 1) % 8
),
hashes AS (
    SELECT doc_id,
           CAST(CAST(sum(CASE WHEN pos < 63
                              THEN bit * (CAST(1 AS BIGINT) << pos)
                              ELSE 0 END) AS BIGINT)
                + CASE WHEN max(CASE WHEN pos = 63 THEN bit END) = 1
                       THEN -9223372036854775808 ELSE 0 END
                AS BIGINT) AS phash
    FROM bits GROUP BY doc_id
),
bv AS (
    SELECT doc_id, phash, band_idx,
           (phash >> (band_idx * 16)) & 65535 AS band_val
    FROM (SELECT doc_id, phash,
                 unnest(generate_series(0, {PHASH_BANDS - 1})) AS band_idx
          FROM hashes)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.phash AS ha, b.phash AS hb
    FROM bv a JOIN bv b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {PHASH_MAX_HAMMING}
""",
)
def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicate detection — the multimodal
    twin of the SimHash/MinHash text tiers, over REALLY DECODED pixels:
    each document's deterministic 16x16 PPM (built in-plan, as in
    `multimodal_decode`, except padded CYCLICALLY with the doc's own
    bytes — constant space padding made the padded region's hash bits
    identical across all short docs, turning the band join quadratic;
    self-padding keeps every raster byte content-derived) is decoded
    with numpy inside mapInPandas and reduced to a 64-bit integer dHash
    (luma -> 2x2 block sums -> cyclic horizontal gradient bits; see
    `operators.multimodal.dhash64` — exact integer end to end).
    Near-dups then resolve ENTIRELY in-plan: the hash splits into
    {PHASH_BANDS} 16-bit bands, pairs sharing any band value are
    candidates (the standard banded-LSH trade: a true pair at Hamming
    <= {PHASH_MAX_HAMMING} is missed only if every band catches an
    error — the text tiers' recall-audit pattern applies), and
    survivors keep bit_count(xor) <= {PHASH_MAX_HAMMING}. The oracle
    recomputes the
    DECODE ITSELF per byte in SQL — luma, block sums, every hash bit,
    banding, and Hamming — so the Python decode path has a bit-exact
    SQL shadow.

    Scale: decode+hash is a zero-shuffle Arrow projection; the band join
    shuffles 4 small rows per image; no all-pairs anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    raster = F.expr(
        f"rpad(substring(text, 1, {_RASTER_LEN}), {_RASTER_LEN}, "
        f"concat(text, ' '))"
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(f"P6\n{IMG_W} {IMG_H}\n255\n"), raster
        ).cast("binary").alias("payload"),
    )
    from ..operators.multimodal import phash_media

    hashes = phash_media(media)
    bv = hashes.select(
        F.col("media_id").alias("doc_id"),
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(PHASH_BANDS - 1))).alias(
            "band_idx"
        ),
    ).withColumn(
        "band_val", F.expr("shiftright(phash, band_idx * 16) & 65535")
    )
    cand = (
        bv.select(
            F.col("doc_id").alias("doc_a"),
            F.col("phash").alias("ha"),
            "band_idx",
            "band_val",
        )
        .join(
            bv.select(
                F.col("doc_id").alias("doc_b"),
                F.col("phash").alias("hb"),
                "band_idx",
                "band_val",
            ),
            ["band_idx", "band_val"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)")
    ).where(F.col("hamming") <= PHASH_MAX_HAMMING).select(
        "doc_a", "doc_b", "hamming"
    )
