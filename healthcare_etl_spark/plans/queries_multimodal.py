"""Multimodal-column queries (extension surface).

Three tiers, all oracle-checked:
- metadata (size/checksum/type): byte-level, deterministic both engines;
- container round-trips (PNG/WAV/MP4 header encode -> parse): real
  binary layout parsing, oracles predict the fields arithmetically;
- REAL codec round-trips (q_multimodal_pixel_stats /
  q_multimodal_wav_stats / q_multimodal_gif_stats /
  q_multimodal_jpeg_stats): PNG filter+inflate+unfilter, int16 PCM,
  GIF LZW, and baseline JPEG Huffman+IDCT — the pixel/sample rules
  are pure integer functions, so the oracles regenerate the grids
  with range() joins.
The generic paths are real too (r7): decode_and_featurize
(decode_stub=False) sniffs magic bytes and dispatches all four real
codecs in one Arrow kernel (q_multimodal_featurize_real), and
resize_media(decode_stub=False) is a real PNG decode ->
nearest-neighbor -> re-encode (q_multimodal_resize_real). Only
MP4/H.264 entropy decode remains NULL (genuinely needs ffmpeg,
absent in this container).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_etl_spark.operators.multimodal import (
    attach_media,
    decode_and_featurize,
    resize_media,
    sample_frames,
)
from healthcare_etl_spark.plans.registry import register
from healthcare_etl_spark.sources import load_table, spread


@register(
    "q_multimodal_meta",
    oracle="""
WITH media AS (
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
           encode(text) AS payload
    FROM documents
)
SELECT media_id, media_type,
       octet_length(payload)::BIGINT AS n_bytes,
       md5(payload::VARCHAR)         AS checksum
FROM media
""",
    description="Binary media column plumbing: typed metadata (size, md5) computed JVM-side",
    tags=("multimodal", "extension"),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    media = attach_media(docs)
    return media.select("media_id", "media_type", "n_bytes", "checksum")


@register(
    "q_multimodal_features",
    oracle="""
WITH media AS (
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
           octet_length(encode(text))::BIGINT AS n_bytes
    FROM documents
)
SELECT media_type,
       count(*) AS n_items,
       (round(avg((n_bytes % 997) / 997.0) * 1000000.0) / 1000000.0) AS avg_feature_norm,
       CAST(max(n_bytes % 640 + 1) AS INT) AS max_width,
       CAST(max(n_bytes % 480 + 1) AS INT) AS max_height
FROM media GROUP BY media_type
""",
    description=(
        "Decode/featurize via an Arrow row kernel (mapInArrow) with a clearly-marked stub "
        "decode kernel — real schema/partitioning/batch plumbing, fake pixels. "
        "Oracle-checked: the stub's deterministic arithmetic is mirrored in SQL, so "
        "the Arrow round-trip itself is verified end-to-end."
    ),
    tags=("multimodal", "extension"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    media = attach_media(docs)
    feats = decode_and_featurize(media, decode_stub=True)
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        stable_round(F.avg("feature_norm"), 6).alias("avg_feature_norm"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )

@register(
    "q_multimodal_resize",
    oracle="""
WITH media AS (
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
           octet_length(encode(text))::BIGINT AS n_bytes
    FROM documents
)
SELECT media_type,
       count(*) AS n_items,
       sum(least(n_bytes, 4096))::BIGINT AS total_bytes_out
FROM media GROUP BY media_type
""",
    description=(
        "Resize pass: binary-in/binary-out Arrow row kernel (mapInArrow) with a "
        "stub kernel capping payloads at 64x64 bytes — the thumbnailing shape for "
        "100 TB image corpora. Oracle mirrors the deterministic byte-cap arithmetic, "
        "verifying the binary Arrow round-trip end-to-end."
    ),
    tags=("multimodal", "extension"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    media = attach_media(docs)
    resized = resize_media(media, target_w=64, target_h=64)
    return resized.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes_out").alias("total_bytes_out"),
    )


@register(
    "q_multimodal_frames",
    oracle="""
WITH media AS (
    SELECT doc_id AS media_id,
           ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
           octet_length(encode(text))::BIGINT AS n_bytes
    FROM documents
),
vids AS (
    SELECT media_id, n_bytes, (n_bytes % 4 + 1)::INT AS n_frames
    FROM media WHERE media_type = 'video'
),
fr AS (
    SELECT media_id, n_frames, n_bytes,
           unnest(range(n_frames))::INT AS frame_idx
    FROM vids
)
SELECT media_id, frame_idx, n_frames,
       (round(((frame_idx * (n_bytes / 1000.0)) / n_frames) * 1000000.0) / 1000000.0)
           AS frame_ts
FROM fr
""",
    description=(
        "Video frame sampling: one row expands to n_frames rows inside a "
        "row-expanding Arrow row kernel (Python-side explode over Arrow batches) — how "
        "video corpora become frame datasets. Stub kernel, deterministic frame "
        "count/timestamps mirrored in SQL via unnest(range(...))."
    ),
    tags=("multimodal", "extension"),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    media = attach_media(docs)
    vids = media.filter(F.col("media_type") == "video")
    frames = sample_frames(vids)
    return frames.select(
        "media_id",
        "frame_idx",
        "n_frames",
        stable_round(F.col("frame_ts"), 6).alias("frame_ts"),
    )


@register(
    "q_multimodal_png_dims",
    oracle="""
SELECT doc_id AS media_id,
       'png' AS format,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
FROM documents
""",
    description=(
        "REAL binary container round-trip (no stub arithmetic in the parse "
        "path): encode_png_media wraps each text payload in a byte-valid PNG "
        "container (signature + IHDR with correct big-endian fields and CRC-32) "
        "and parse_image_dims recovers the dimensions by actually parsing the "
        "header layout — two chained Arrow kernels, bytes never parse on the "
        "JVM. The oracle predicts the dimensions arithmetically from the text "
        "length, so a parse bug cannot hash-match."
    ),
    tags=("multimodal", "extension"),
)
def q_multimodal_png_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import (
        encode_png_media,
        parse_image_dims,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    return parse_image_dims(encode_png_media(docs))


@register(
    "q_multimodal_wav_meta",
    oracle="""
SELECT doc_id AS media_id,
       'wav' AS format,
       CAST(([8000, 16000, 22050, 44100, 48000])[octet_length(encode(text)) % 5 + 1] AS INT)
           AS sample_rate,
       CAST(octet_length(encode(text)) % 2 + 1 AS INT) AS channels,
       CAST(16 AS INT) AS bits_per_sample,
       CAST(octet_length(encode(text)) // ((octet_length(encode(text)) % 2 + 1) * 2) AS BIGINT)
           AS n_frames
FROM documents
""",
    description=(
        "REAL audio container round-trip: encode_wav_media wraps each text "
        "payload in a byte-valid RIFF/WAVE file (little-endian sizes, PCM fmt "
        "chunk, padded chunk walk) and parse_wav_meta recovers sample rate / "
        "channels / bit depth / frame count by actually walking the chunk "
        "list — the audio sibling of q_multimodal_png_dims. Oracle predicts "
        "every field arithmetically from the text length, so a parse bug "
        "cannot hash-match."
    ),
    tags=("multimodal", "extension"),
)
def q_multimodal_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import encode_wav_media, parse_wav_meta

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    return parse_wav_meta(encode_wav_media(docs))


@register(
    "q_multimodal_mp4_meta",
    oracle="""
SELECT doc_id AS media_id,
       'mp4' AS format,
       'isom' AS brand,
       CAST(([600, 1000, 12288, 24000, 90000])[octet_length(encode(text)) % 5 + 1] AS INT)
           AS timescale,
       CAST(octet_length(encode(text)) * 100 AS BIGINT) AS duration,
       CAST(octet_length(encode(text)) AS BIGINT) AS mdat_bytes
FROM documents
""",
    description=(
        "REAL video container round-trip, completing the image/audio/"
        "video triad (q_multimodal_png_dims / q_multimodal_wav_meta): "
        "encode_mp4_media writes a byte-valid ISO BMFF shell (big-endian "
        "box headers, ftyp brand, version-0 mvhd, mdat payload) and "
        "parse_mp4_meta recovers brand / timescale / duration / sample "
        "bytes by actually walking the box tree, descending into moov. "
        "The oracle predicts every parsed field arithmetically from the "
        "text length, so a parse bug cannot hash-match."
    ),
    tags=("multimodal", "extension"),
)
def q_multimodal_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import encode_mp4_media, parse_mp4_meta

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    return parse_mp4_meta(encode_mp4_media(docs))


@register(
    "q_multimodal_pixel_stats",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
dims AS (
    SELECT doc_id, CAST(n % 16 + 1 AS INT) AS w, CAST(n % 8 + 1 AS INT) AS h FROM docs
),
px AS (
    SELECT d.doc_id, d.w, d.h,
           ((d.doc_id * 7 + x.i * 3 + y.j * 5) % 256) AS r,
           ((d.doc_id * 11 + x.i + 2 * y.j) % 256)    AS g,
           ((d.doc_id + x.i * y.j) % 256)             AS b
    FROM dims d
    JOIN range(16) x(i) ON x.i < d.w
    JOIN range(8)  y(j) ON y.j < d.h
)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT)      AS width,
       CAST(max(h) AS INT)      AS height,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(r) AS BIGINT)   AS sum_r,
       CAST(sum(g) AS BIGINT)   AS sum_g,
       CAST(sum(b) AS BIGINT)   AS sum_b,
       (round((sum(r) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_r,
       (round((sum(g) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_g,
       (round((sum(b) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_b
FROM px GROUP BY doc_id
""",
    description=(
        "REAL PNG pixel decode (r5 verdict task 4 — no stub in this "
        "path): encode_png_pixels writes fully valid RGB PNGs (filtered "
        "scanlines cycling all five PNG filter types, zlib-compressed "
        "IDAT, CRC'd chunks) and decode_png_pixel_stats inflates the "
        "IDAT stream and reverses the filters to recover the EXACT "
        "pixels, reduced to integer channel sums in the Arrow kernel; "
        "means are Spark-side stable-rounded divisions of those exact "
        "BIGINTs. The pixel rule is pure (doc_id, x, y) integer "
        "arithmetic, so the oracle regenerates the full pixel grid with "
        "two range() joins — a filter/inflate/unfilter bug anywhere in "
        "the codec chain cannot hash-match."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        decode_png_pixel_stats,
        encode_png_pixels,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    stats = decode_png_pixel_stats(encode_png_pixels(docs))
    npx = F.col("n_px")
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        stable_round(F.col("sum_r") * F.lit(1.0) / npx, 6).alias("mean_r"),
        stable_round(F.col("sum_g") * F.lit(1.0) / npx, 6).alias("mean_g"),
        stable_round(F.col("sum_b") * F.lit(1.0) / npx, 6).alias("mean_b"),
    )


@register(
    "q_multimodal_wav_stats",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
par AS (
    SELECT doc_id, CAST((n % 200 + 50) * (n % 2 + 1) AS BIGINT) AS ns FROM docs
),
smp AS (
    SELECT p.doc_id, p.ns,
           (((p.doc_id * 31 + k.k * 7) % 4096) - 2048) AS s
    FROM par p JOIN range(500) k(k) ON k.k < p.ns
)
SELECT doc_id AS media_id,
       CAST(max(ns) AS BIGINT)       AS n_samples,
       CAST(sum(s) AS BIGINT)        AS sum_s,
       CAST(sum(s * s) AS BIGINT)    AS sum_s2,
       CAST(max(abs(s)) AS INT)      AS peak,
       (round((sum(s) * 1.0 / max(ns)) * 1000000.0) / 1000000.0) AS mean_s,
       (round(sqrt(sum(s * s) * 1.0 / max(ns)) * 1000000.0) / 1000000.0) AS rms
FROM smp GROUP BY doc_id
""",
    description=(
        "REAL PCM sample decode, the audio half of r5 verdict task 4: "
        "encode_wav_pcm writes valid RIFF/WAVE files whose data chunk "
        "is real little-endian int16 PCM, decode_wav_sample_stats "
        "unpacks it and reduces to exact integer moments (sum, sum of "
        "squares, peak); mean/RMS are Spark-side stable-rounded "
        "divisions (sqrt of the same double is correctly rounded on "
        "both engines). The sample rule is pure (doc_id, k) integer "
        "arithmetic, so the oracle regenerates every sample with one "
        "range() join — an endianness or unpack bug cannot hash-match."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        decode_wav_sample_stats,
        encode_wav_pcm,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    stats = decode_wav_sample_stats(encode_wav_pcm(docs))
    ns = F.col("n_samples")
    return stats.select(
        "media_id",
        "n_samples",
        "sum_s",
        "sum_s2",
        "peak",
        stable_round(F.col("sum_s") * F.lit(1.0) / ns, 6).alias("mean_s"),
        stable_round(F.sqrt(F.col("sum_s2") * F.lit(1.0) / ns), 6).alias("rms"),
    )


@register(
    "q_multimodal_gif_stats",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
dims AS (
    SELECT doc_id, CAST(n % 16 + 1 AS INT) AS w, CAST(n % 8 + 1 AS INT) AS h FROM docs
),
px AS (
    SELECT d.doc_id, d.w, d.h,
           ((d.doc_id * 7 + x.i * 3 + y.j * 5) % 256) AS idx
    FROM dims d
    JOIN range(16) x(i) ON x.i < d.w
    JOIN range(8)  y(j) ON y.j < d.h
)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT)              AS width,
       CAST(max(h) AS INT)              AS height,
       CAST(count(*) AS BIGINT)         AS n_px,
       CAST(sum(idx) AS BIGINT)         AS sum_idx,
       CAST(sum((idx * 3) % 256) AS BIGINT) AS sum_g,
       CAST(sum((idx * 7) % 256) AS BIGINT) AS sum_b,
       (round((sum(idx) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_idx
FROM px GROUP BY doc_id
""",
    description=(
        "REAL GIF decode (third real codec after PNG inflate/unfilter "
        "and WAV PCM): encode_gif_media writes fully valid GIF89a "
        "files — logical screen descriptor, 256-color global palette, "
        "image descriptor, LZW-compressed index stream in sub-blocks — "
        "and decode_gif_index_stats walks the container and runs a "
        "from-scratch GIF LZW decompressor (variable-width LSB-first "
        "codes, KwKwK case, width growth, 12-bit cap with CLEAR "
        "reset; bit packing anchored to a hand-computed spec example "
        "in tests) to recover the exact palette indices. Channel sums "
        "are exact integers from the decoded indices; any LZW or "
        "container-walk bug cannot hash-match the oracle's "
        "arithmetically regenerated pixel grid."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        decode_gif_index_stats,
        encode_gif_media,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    stats = decode_gif_index_stats(encode_gif_media(docs))
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "sum_idx",
        "sum_g",
        "sum_b",
        stable_round(F.col("sum_idx") * F.lit(1.0) / F.col("n_px"), 6).alias(
            "mean_idx"
        ),
    )


@register(
    "q_multimodal_jpeg_stats",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
dims AS (
    SELECT doc_id, CAST(n % 3 + 1 AS INT) AS bw, CAST(n % 2 + 1 AS INT) AS bh
    FROM docs
),
blk AS (
    SELECT d.doc_id, d.bw, d.bh,
           ((d.doc_id * 5 + b.b * 11) % 61 - 30) * 2 + 128 AS v
    FROM dims d JOIN range(6) b(b) ON b.b < d.bw * d.bh
)
SELECT doc_id AS media_id,
       CAST(max(bw) * 8 AS INT)        AS width,
       CAST(max(bh) * 8 AS INT)        AS height,
       CAST(count(*) * 64 AS BIGINT)   AS n_px,
       CAST(sum(v) * 64 AS BIGINT)     AS sum_v,
       CAST(min(v) AS INT)             AS min_v,
       CAST(max(v) AS INT)             AS max_v,
       (round((sum(v) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_v
FROM blk GROUP BY doc_id
""",
    description=(
        "REAL baseline JPEG decode (fourth real codec; closes the r5 "
        "verdict's last stub): encode_jpeg_gray writes byte-valid JFIF "
        "files whose scan is genuine Huffman-coded DPCM (magnitude "
        "categories, one's-complement negatives, MSB-first packing, "
        "0xFF stuffing); decode_jpeg_pixel_stats rebuilds the canonical "
        "Huffman tables from DHT, entropy-decodes the scan with the "
        "general run/size AC loop, dequantizes via the un-zigzagged DQT "
        "table, and applies a full 64-coefficient separable IDCT. "
        "Fixture blocks are flat (every AC quantizes to zero), so each "
        "decoded block is the exact integer 2*DC+128 and the oracle "
        "regenerates the pixel grid arithmetically; the AC/ZRL decode "
        "path is proven on hand-built scans in tests."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        decode_jpeg_pixel_stats,
        encode_jpeg_gray,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    stats = decode_jpeg_pixel_stats(encode_jpeg_gray(docs))
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "sum_v",
        "min_v",
        "max_v",
        stable_round(F.col("sum_v") * F.lit(1.0) / F.col("n_px"), 6).alias("mean_v"),
    )


@register(
    "q_multimodal_mp4_frames",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
vids AS (
    SELECT doc_id,
           CAST(n % 4 + 1 AS INT) AS nf,
           CAST(n % 3 + 1 AS INT) AS bw,
           CAST(n % 2 + 1 AS INT) AS bh
    FROM docs
),
frames AS (
    SELECT v.doc_id, v.bw, v.bh, CAST(k.k AS INT) AS frame_idx
    FROM vids v JOIN range(4) k(k) ON k.k < v.nf
),
blk AS (
    SELECT f.doc_id, f.frame_idx, f.bw, f.bh,
           (((f.doc_id * 4 + f.frame_idx) * 5 + b.b * 11) % 61 - 30) * 2 + 128 AS v
    FROM frames f JOIN range(6) b(b) ON b.b < f.bw * f.bh
)
SELECT doc_id AS media_id,
       frame_idx,
       CAST(max(bw) * 8 AS INT)      AS width,
       CAST(max(bh) * 8 AS INT)      AS height,
       CAST(count(*) * 64 AS BIGINT) AS n_px,
       CAST(sum(v) * 64 AS BIGINT)   AS sum_v,
       CAST(min(v) AS INT)           AS min_v,
       CAST(max(v) AS INT)           AS max_v,
       (round((sum(v) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_v
FROM blk GROUP BY doc_id, frame_idx
""",
    description=(
        "REAL video decode (r8 — retires the last decode stub): "
        "encode_mjpeg_mp4 writes byte-valid MJPEG-in-MP4 files (full "
        "ISO BMFF moov with tkhd/mdhd/hdlr/vmhd/dinf and real stbl "
        "sample tables — 'jpeg' VisualSampleEntry, stts/stsc/stsz/stco "
        "with true per-frame byte sizes and a back-patched absolute "
        "chunk offset), each frame an independent baseline JPEG from "
        "the from-scratch T.81 encoder. decode_mp4_mjpeg_frames walks "
        "the box tree to the sample tables, slices every sample out of "
        "mdat, and runs the full T.81 entropy decode + dequant + IDCT "
        "per frame, one output row per frame (the row-expanding "
        "Arrow kernel shape — how video corpora become frame datasets "
        "at 100 TB). Frame k's DC content is pure (doc_id*4+k, block) "
        "integer arithmetic, so the oracle regenerates every decoded "
        "pixel of every frame; a sample-table or entropy bug cannot "
        "hash-match. H.264/H.265 stay documented as out of reach "
        "(entropy decode needs ffmpeg)."
    ),
    tags=("multimodal", "extension", "codec", "video"),
)
def q_multimodal_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        decode_mp4_mjpeg_frames,
        encode_mjpeg_mp4,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    stats = decode_mp4_mjpeg_frames(encode_mjpeg_mp4(docs))
    return stats.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        "n_px",
        "sum_v",
        "min_v",
        "max_v",
        stable_round(F.col("sum_v") * F.lit(1.0) / F.col("n_px"), 6).alias("mean_v"),
    )


def _featurize_real_oracle() -> str:
    """Arithmetic mirror of the four real decoders over the mixed
    doc_id%4 corpus: each branch regenerates its pixel/sample grid from
    the same pure-integer rules the encoders use, so any dispatch or
    codec bug in the generic real path cannot hash-match."""
    return """
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
png AS (
    SELECT d.doc_id,
           CAST(d.n % 16 + 1 AS INT) AS w, CAST(d.n % 8 + 1 AS INT) AS h,
           sum(((d.doc_id * 7 + x.i * 3 + y.j * 5) % 256)
             + ((d.doc_id * 11 + x.i + 2 * y.j) % 256)
             + ((d.doc_id + x.i * y.j) % 256)) AS sum_v
    FROM docs d
    JOIN range(16) x(i) ON x.i < d.n % 16 + 1
    JOIN range(8)  y(j) ON y.j < d.n % 8 + 1
    WHERE d.doc_id % 4 = 0
    GROUP BY 1, 2, 3
),
wav AS (
    SELECT d.doc_id, CAST((d.n % 200 + 50) * (d.n % 2 + 1) AS BIGINT) AS ns,
           sum(((d.doc_id * 31 + k.k * 7) % 4096) - 2048) AS sum_v
    FROM docs d
    JOIN range(500) k(k) ON k.k < (d.n % 200 + 50) * (d.n % 2 + 1)
    WHERE d.doc_id % 4 = 1
    GROUP BY 1, 2
),
gif AS (
    SELECT d.doc_id,
           CAST(d.n % 16 + 1 AS INT) AS w, CAST(d.n % 8 + 1 AS INT) AS h,
           sum((d.doc_id * 7 + x.i * 3 + y.j * 5) % 256) AS sum_v
    FROM docs d
    JOIN range(16) x(i) ON x.i < d.n % 16 + 1
    JOIN range(8)  y(j) ON y.j < d.n % 8 + 1
    WHERE d.doc_id % 4 = 2
    GROUP BY 1, 2, 3
),
jpg AS (
    SELECT d.doc_id,
           CAST((d.n % 3 + 1) * 8 AS INT) AS w, CAST((d.n % 2 + 1) * 8 AS INT) AS h,
           CAST((d.n % 3 + 1) * (d.n % 2 + 1) * 64 AS BIGINT) AS n_px,
           sum((((d.doc_id * 5 + b.b * 11) % 61 - 30) * 2 + 128) * 64) AS sum_v
    FROM docs d
    JOIN range(6) b(b) ON b.b < (d.n % 3 + 1) * (d.n % 2 + 1)
    WHERE d.doc_id % 4 = 3
    GROUP BY 1, 2, 3, 4
)
SELECT doc_id AS media_id, 'png' AS media_type, w AS width, h AS height,
       (round((sum_v * 1.0 / (3 * w * h * 255.0)) * 1000000.0) / 1000000.0) AS feature_norm
FROM png
UNION ALL
SELECT doc_id, 'wav', NULL::INT, NULL::INT,
       (round((sum_v * 1.0 / (ns * 32768.0)) * 1000000.0) / 1000000.0)
FROM wav
UNION ALL
SELECT doc_id, 'gif', w, h,
       (round((sum_v * 1.0 / (w * h * 255.0)) * 1000000.0) / 1000000.0)
FROM gif
UNION ALL
SELECT doc_id, 'jpeg', w, h,
       (round((sum_v * 1.0 / (n_px * 255.0)) * 1000000.0) / 1000000.0)
FROM jpg
ORDER BY 1
"""


@register(
    "q_multimodal_featurize_real",
    oracle=_featurize_real_oracle(),
    description=(
        "REAL generic decode-and-featurize (retires the r6 residual "
        "stub): a mixed corpus where doc_id%4 selects the codec "
        "(PNG/WAV/GIF/JPEG), every payload a byte-valid file from the "
        "real encoders, run through ONE magic-byte-dispatching Arrow "
        "kernel (featurize_media_real) that inflates+unfilters PNG, "
        "Huffman+IDCT-decodes JPEG, LZW-decodes GIF, and unpacks int16 "
        "PCM — feature_norm is an engine-side stable-rounded division "
        "of the exact integer decode moments. The oracle regenerates "
        "all four grids arithmetically; a wrong dispatch, a codec bug, "
        "or a wrong normalization cannot hash-match."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_featurize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import (
        encode_gif_media,
        encode_jpeg_gray,
        encode_png_pixels,
        encode_wav_pcm,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    media = (
        encode_png_pixels(docs.filter(F.col("doc_id") % 4 == 0))
        .unionByName(encode_wav_pcm(docs.filter(F.col("doc_id") % 4 == 1)))
        .unionByName(encode_gif_media(docs.filter(F.col("doc_id") % 4 == 2)))
        .unionByName(encode_jpeg_gray(docs.filter(F.col("doc_id") % 4 == 3)))
    )
    feats = decode_and_featurize(media, decode_stub=False)
    return feats.select("media_id", "media_type", "width", "height", "feature_norm")


@register(
    "q_multimodal_resize_real",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
dims AS (
    SELECT doc_id, CAST(n % 16 + 1 AS INT) AS w, CAST(n % 8 + 1 AS INT) AS h FROM docs
),
px AS (
    SELECT d.doc_id,
           ((d.doc_id * 7 + ((x.i * d.w) // 5) * 3 + ((y.j * d.h) // 4) * 5) % 256) AS r,
           ((d.doc_id * 11 + ((x.i * d.w) // 5) + 2 * ((y.j * d.h) // 4)) % 256)    AS g,
           ((d.doc_id + ((x.i * d.w) // 5) * ((y.j * d.h) // 4)) % 256)             AS b
    FROM dims d
    CROSS JOIN range(5) x(i)
    CROSS JOIN range(4) y(j)
)
SELECT doc_id AS media_id,
       CAST(5 AS INT)           AS width,
       CAST(4 AS INT)           AS height,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(r) AS BIGINT)   AS sum_r,
       CAST(sum(g) AS BIGINT)   AS sum_g,
       CAST(sum(b) AS BIGINT)   AS sum_b
FROM px GROUP BY doc_id
ORDER BY 1
""",
    description=(
        "REAL image resize (replaces the r6 byte-cap stub for PNG): "
        "encode_png_pixels -> resize_media(decode_stub=False) does a "
        "full decode (chunk walk, IDAT inflate, filter reversal), "
        "nearest-neighbor resample to 5x4 (integer sx = x*w//5, "
        "sy = y*h//4), and a fully valid filtered+zlib PNG re-encode; "
        "decode_png_pixel_stats then REALLY re-decodes the resized "
        "payloads. The oracle regenerates the resampled grid from the "
        "pixel rule with the same integer index arithmetic — a resample "
        "or re-encode bug anywhere in the chain cannot hash-match."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import (
        decode_png_pixel_stats,
        encode_png_pixels,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    resized = resize_media(
        encode_png_pixels(docs), target_w=5, target_h=4, decode_stub=False
    )
    return decode_png_pixel_stats(resized).select(
        "media_id", "width", "height", "n_px", "sum_r", "sum_g", "sum_b"
    )


@register(
    "q_image_phash_dedup",
    oracle="""
WITH docs AS (
    SELECT doc_id AS m, doc_id // 8 AS base, (doc_id % 8) * 8 AS bump
    FROM documents
),
dims AS (
    SELECT m, base, bump,
           CAST((base % 4 + 2) * 8 AS BIGINT) AS w,
           CAST((base % 4 + 2) * 4 AS BIGINT) AS h
    FROM docs
),
px AS (
    SELECT d.m, d.w, d.h,
           x.i // (d.w // 8) AS bx,
           y.j // (d.h // 4) AS by,
           (((d.base * 7 + x.i * 3 + y.j * 5) % 256
             + CASE WHEN x.i = 0 AND y.j = 0 THEN d.bump ELSE 0 END) % 256
            + (d.base * 11 + x.i + 2 * y.j) % 256
            + (d.base + x.i * y.j) % 256) AS lum
    FROM dims d
    JOIN range(40) x(i) ON x.i < d.w
    JOIN range(20) y(j) ON y.j < d.h
),
blocks AS (
    SELECT m, bx, by, CAST(sum(lum) AS BIGINT) AS sb
    FROM px GROUP BY 1, 2, 3
),
tot AS (SELECT m, CAST(sum(sb) AS BIGINT) AS st FROM blocks GROUP BY 1),
hashes AS (
    SELECT b.m,
           CAST(sum(CASE WHEN 32 * b.sb > t.st
                         THEN CAST(1 AS BIGINT) << CAST(b.by * 8 + b.bx AS INT)
                         ELSE 0 END) AS BIGINT) AS phash
    FROM blocks b JOIN tot t ON t.m = b.m
    GROUP BY 1
),
bands AS (
    SELECT m, phash, k.k AS band, (phash >> CAST(8 * k.k AS INT)) & 255 AS bv
    FROM hashes CROSS JOIN range(4) k(k)
),
cand AS (
    SELECT DISTINCT a.m AS doc_a, b.m AS doc_b, a.phash AS pa, b.phash AS pb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.m < b.m
)
SELECT doc_a, doc_b,
       CAST(bit_count(CAST(xor(pa, pb) AS BIGINT)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(CAST(xor(pa, pb) AS BIGINT)) <= 3
ORDER BY 1, 2
""",
    description=(
        "Perceptual image near-dup dedup (r7 — the image leg of the "
        "dedup stack next to text MinHash/SimHash/prefix-filter and "
        "embedding SemDeDup): a family-structured corpus of byte-valid "
        "PNGs (every 8 consecutive ids share a base image; each member "
        "perturbs one pixel — the re-export/watermark near-dup), "
        "REALLY decoded (inflate + unfilter), reduced to a 32-bit "
        "block-mean hash (8x4 grid, bit = block luminance mean above "
        "image mean, exact cross-multiplied BIGINTs — no float "
        "anywhere), then candidate pairs from 4 byte-band buckets "
        "(pigeonhole: hamming <= 3 guarantees a shared band — the "
        "SimHash discipline, NO all-pairs join) verified by exact "
        "bit_count(xor) <= 3. The oracle regenerates pixels, blocks, "
        "hashes, bands, and pairs arithmetically: a decode, hashing, "
        "banding, or popcount bug cannot hash-match. 100 TB shape: "
        "decode+hash is one Arrow map pass; the band join is the only "
        "shuffle and its keys are 10-bit-bounded."
    ),
    tags=("multimodal", "extension", "codec", "dedup"),
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import (
        decode_png_blockhash,
        encode_png_family,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    # materialize the (4-column, one-row-per-image) hash frame so the
    # band self-join does not re-execute the encode+decode kernels on
    # both sides (localCheckpoint: the grid_dbscan discipline)
    hashes = decode_png_blockhash(encode_png_family(docs)).localCheckpoint()
    bands = hashes.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftrightunsigned(F.col("phash"), 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("bv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("e"),
    ).select("media_id", "phash", F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("doc_a"),
            F.col("b.media_id").alias("doc_b"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("long")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "q_audio_fingerprint_dedup",
    oracle="""
WITH docs AS (
    SELECT doc_id AS m, doc_id // 8 AS base, (doc_id % 8) * 16 AS bump
    FROM documents
),
dims AS (
    SELECT m, base, bump, CAST(base % 320 + 64 AS BIGINT) AS ns FROM docs
),
smp AS (
    SELECT d.m, d.ns,
           k.k * 32 // d.ns AS band,
           (((d.base * 31 + k.k * 7) % 4096) - 2048
            + CASE WHEN k.k = 0 THEN d.bump ELSE 0 END) AS s
    FROM dims d JOIN range(384) k(k) ON k.k < d.ns
),
bands_e AS (
    SELECT m, ns, band,
           CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS eb,
           CAST(count(*) AS BIGINT) AS cb
    FROM smp GROUP BY 1, 2, 3
),
tot AS (SELECT m, CAST(sum(eb) AS HUGEINT) AS et FROM bands_e GROUP BY 1),
fps AS (
    SELECT b.m,
           CAST(sum(CASE WHEN b.eb * b.ns > t.et * b.cb
                         THEN CAST(1 AS BIGINT) << CAST(b.band AS INT)
                         ELSE 0 END) AS BIGINT) AS fp
    FROM bands_e b JOIN tot t ON t.m = b.m
    GROUP BY 1
),
bnd AS (
    SELECT m, fp, k.k AS band, (fp >> CAST(8 * k.k AS INT)) & 255 AS bv
    FROM fps CROSS JOIN range(4) k(k)
),
cand AS (
    SELECT DISTINCT a.m AS doc_a, b.m AS doc_b, a.fp AS fa, b.fp AS fb
    FROM bnd a JOIN bnd b
      ON a.band = b.band AND a.bv = b.bv AND a.m < b.m
)
SELECT doc_a, doc_b,
       CAST(bit_count(CAST(xor(fa, fb) AS BIGINT)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(CAST(xor(fa, fb) AS BIGINT)) <= 3
ORDER BY 1, 2
""",
    description=(
        "Audio fingerprint near-dup dedup — the audio sibling of "
        "q_image_phash_dedup, completing perceptual dedup across both "
        "decoded-media modalities: a family-structured corpus of valid "
        "RIFF/WAVE int16 PCM clips (8 consecutive ids share a base "
        "clip; each member perturbs one sample — the re-encode/level-"
        "tweak near-dup), REALLY decoded, reduced to a 32-band energy "
        "fingerprint (bit = band energy above its share of total, "
        "exact cross-multiplied integers), candidates from 4 byte-band "
        "buckets (pigeonhole: hamming <= 3 implies a shared band, no "
        "all-pairs), verified by bit_count(xor). Oracle regenerates "
        "samples, band energies, fingerprints, and pairs arithmetically."
    ),
    tags=("multimodal", "extension", "codec", "dedup"),
)
def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import (
        decode_wav_fingerprint,
        encode_wav_family,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    fps = decode_wav_fingerprint(encode_wav_family(docs)).localCheckpoint()
    bands = fps.select(
        "media_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftrightunsigned(F.col("fp"), 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("bv"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("e"),
    ).select("media_id", "fp", F.col("e.band").alias("band"), F.col("e.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("doc_a"),
            F.col("b.media_id").alias("doc_b"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "q_video_frame_dedup",
    oracle="""
WITH params AS (
    SELECT doc_id,
           doc_id // 4 AS fam,
           doc_id % 4 AS m,
           CAST((doc_id // 4) % 4 + 1 AS INT) AS nf,
           CAST((doc_id // 4) % 3 + 1 AS INT) AS bw,
           CAST((doc_id // 4) % 2 + 1 AS INT) AS bh
    FROM documents
),
frames AS (
    SELECT p.*, k.k AS k FROM params p JOIN range(4) k(k) ON k.k < p.nf
),
fh AS (
    SELECT f.doc_id, CAST(f.bw * 8 AS INT) AS width, CAST(f.bh * 8 AS INT) AS height,
           sum(
             (2 * (((f.fam * 4 + f.k) * 5 + b.b * 11) % 61 - 30
                   + CASE WHEN f.k = 0 AND b.b = 0 THEN f.m ELSE 0 END) + 129)
             * (CASE b.b WHEN 0 THEN 1 WHEN 1 THEN 257 WHEN 2 THEN 66049
                         WHEN 3 THEN 16974593 WHEN 4 THEN 4362470401
                         WHEN 5 THEN 1121154893057 END)
           ) AS fhash
    FROM frames f JOIN range(6) b(b) ON b.b < f.bw * f.bh
    GROUP BY f.doc_id, f.fam, f.k, f.bw, f.bh, f.m
),
sigs AS (SELECT DISTINCT doc_id, width, height, fhash FROM fh),
counts AS (SELECT doc_id, count(*) AS n_sig FROM sigs GROUP BY doc_id),
shared AS (
    SELECT x.doc_id AS video_a, y.doc_id AS video_b, count(*) AS n_shared
    FROM sigs x JOIN sigs y
      ON x.fhash = y.fhash AND x.width = y.width AND x.height = y.height
     AND x.doc_id < y.doc_id
    GROUP BY 1, 2
)
SELECT s.video_a, s.video_b, s.n_shared,
       ca.n_sig AS n_sig_a, cb.n_sig AS n_sig_b,
       (round((s.n_shared * 1.0 / least(ca.n_sig, cb.n_sig)) * 1000000.0)
        / 1000000.0) AS overlap
FROM shared s
JOIN counts ca ON ca.doc_id = s.video_a
JOIN counts cb ON cb.doc_id = s.video_b
WHERE 2 * s.n_shared >= least(ca.n_sig, cb.n_sig)
""",
    description=(
        "Video near-duplicate detection over REALLY decoded frames — "
        "the video member of the dedup family (text: MinHash/SimHash/"
        "prefix-filter; stills: block-mean pHash; audio: band-energy "
        "fingerprint). encode_mjpeg_family writes a family-structured "
        "MJPEG-in-MP4 corpus (every 4 consecutive ids share a base "
        "video; each member perturbs only frame 0, so members share all "
        "other frames); decode_mp4_mjpeg_frame_hashes slices the stbl-"
        "indexed samples, runs the full T.81 decode per frame, and "
        "fingerprints each frame as the base-257 positional encoding of "
        "its first 7 block means (injective for 8-bit means, exact "
        "BIGINT on both engines); video_frame_dedup_pairs then matches "
        "videos by distinct-signature equi-join (the only shuffle — "
        "bounded-fanout keys, the SimHash-band shape) and verifies with "
        "the exact integer set-overlap rule 2*|A∩B| >= min(|A|,|B|). "
        "The whole chain is pure (doc_id, frame, block) integer "
        "arithmetic, so the oracle regenerates every fingerprint — a "
        "sample-table, entropy-decode, or join bug cannot hash-match. "
        "100 TB shape: decode+fingerprint is one Arrow map pass; "
        "everything downstream is JVM-side hash joins/aggregates."
    ),
    tags=("multimodal", "dedup", "extension", "codec", "video"),
)
def q_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.operators.multimodal import (
        decode_mp4_mjpeg_frame_hashes,
        encode_mjpeg_family,
        video_frame_dedup_pairs,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    frame_hashes = decode_mp4_mjpeg_frame_hashes(encode_mjpeg_family(docs))
    return video_frame_dedup_pairs(frame_hashes)


@register(
    "q_video_frame_sample",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
vids AS (SELECT doc_id, CAST(n % 4 + 1 AS INT) AS nf FROM docs)
SELECT doc_id AS media_id,
       CAST(k.k AS INT) AS frame_idx,
       nf AS n_frames,
       (round((k.k * 25 / 600.0) * 1000000.0) / 1000000.0) AS frame_ts
FROM vids JOIN range(4) k(k) ON k.k < nf
""",
    description=(
        "REAL video frame sampling (retires sample_frames' stub as the "
        "query path): MJPEG-in-MP4 payloads are sliced at their stbl "
        "sample boundaries into one row per frame whose frame_bytes is "
        "the frame's actual decodable JPEG, with frame_ts taken from "
        "the container's REAL timing boxes (stts sample delta over the "
        "mdhd timescale — 25/600 ticks = 24 fps). The oracle predicts "
        "frame count (from the encoder's byte-length rule) and every "
        "timestamp arithmetically; the binary frame column is exercised "
        "by unit tests (each sampled frame decodes through the T.81 "
        "kernel) and excluded from the hash projection."
    ),
    tags=("multimodal", "extension", "video"),
)
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        encode_mjpeg_mp4,
        sample_frames,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    frames = sample_frames(encode_mjpeg_mp4(docs), decode_stub=False)
    return frames.select(
        "media_id",
        "frame_idx",
        "n_frames",
        stable_round(F.col("frame_ts"), 6).alias("frame_ts"),
    )


@register(
    "q_multimodal_bmp_stats",
    oracle="""
WITH docs AS (
    SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
dims AS (
    SELECT doc_id, CAST(n % 14 + 1 AS INT) AS w, CAST(n % 7 + 1 AS INT) AS h FROM docs
),
px AS (
    SELECT d.doc_id, d.w, d.h, y.j,
           ((d.doc_id * 13 + 5 * x.i + 11 * y.j) % 256) AS r,
           ((d.doc_id * 17 + 7 * x.i + 3 * y.j) % 256)  AS g,
           ((d.doc_id * 19 + x.i + 9 * y.j) % 256)      AS b
    FROM dims d
    JOIN range(14) x(i) ON x.i < d.w
    JOIN range(7)  y(j) ON y.j < d.h
)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT)              AS width,
       CAST(max(h) AS INT)              AS height,
       CAST(count(*) AS BIGINT)         AS n_px,
       CAST(sum(r) AS BIGINT)           AS sum_r,
       CAST(sum(g) AS BIGINT)           AS sum_g,
       CAST(sum(b) AS BIGINT)           AS sum_b,
       CAST(sum((j + 1) * r) AS BIGINT) AS wsum_r,
       (round((sum(r) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_r,
       (round((sum(g) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_g,
       (round((sum(b) * 1.0 / count(*)) * 1000000.0) / 1000000.0) AS mean_b
FROM px GROUP BY doc_id
""",
    description=(
        "REAL BMP codec round-trip — the uncompressed member of the real-"
        "decode family (PNG/JPEG/GIF/WAV/MJPEG-MP4): encode_bmp_pixels "
        "writes byte-valid 24-bit BI_RGB bitmaps (BITMAPFILEHEADER + "
        "BITMAPINFOHEADER, BGR order, mandatory 4-byte stride padding, odd "
        "media_ids TOP-DOWN via negative biHeight, even bottom-up) and "
        "decode_bmp_pixel_stats parses headers, stride and signed-height "
        "row order to recover the exact pixel grid. wsum_r weights red by "
        "(y+1), so a decoder that ignores row order cannot hash-match; the "
        "oracle regenerates the grid from the pure (doc_id, x, y) pixel "
        "rule with two range() joins. One Arrow map pass per codec step."
    ),
    tags=("multimodal", "extension", "codec"),
)
def q_multimodal_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from healthcare_etl_spark.functions.rounding import stable_round
    from healthcare_etl_spark.operators.multimodal import (
        decode_bmp_pixel_stats,
        encode_bmp_pixels,
    )

    docs = spread(load_table(spark, sf_dir, "documents"), kb_per_task=16)
    stats = decode_bmp_pixel_stats(encode_bmp_pixels(docs))
    npx = F.col("n_px")
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        "wsum_r",
        stable_round(F.col("sum_r") * F.lit(1.0) / npx, 6).alias("mean_r"),
        stable_round(F.col("sum_g") * F.lit(1.0) / npx, 6).alias("mean_g"),
        stable_round(F.col("sum_b") * F.lit(1.0) / npx, 6).alias("mean_b"),
    )
