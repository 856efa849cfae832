"""Round-trip tests for the REAL multimodal codec kernels
(operators/multimodal.py): PNG filter+inflate+unfilter and little-endian
int16 PCM. The container/metadata kernels are covered by their
oracle-backed queries; these tests pin the byte-level codec math against
direct recomputation of the deterministic pixel/sample rules."""

from __future__ import annotations

import pytest


def test_png_codec_roundtrip_exercises_all_filters(spark):
    """encode_png_pixels cycles scanline filters 0-4 (h up to 8 rows),
    and decode_png_pixel_stats must invert every one: the recovered
    channel sums must equal the pixel rule's direct computation."""
    from healthcare_etl_spark.operators.multimodal import (
        _png_pixel,
        decode_png_pixel_stats,
        encode_png_pixels,
    )

    # text lengths chosen so h = n%8+1 covers heights 1..8 (filters 0-4)
    rows = [(i, "x" * (7 + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = decode_png_pixel_stats(encode_png_pixels(df)).toPandas()
    assert len(out) == 10
    for _, r in out.iterrows():
        mid, w, h = int(r.media_id), int(r.width), int(r.height)
        n = 7 + mid
        assert (w, h) == (n % 16 + 1, n % 8 + 1)
        exp = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                px = _png_pixel(mid, x, y)
                for c in range(3):
                    exp[c] += px[c]
        assert (int(r.sum_r), int(r.sum_g), int(r.sum_b)) == tuple(exp)
        assert int(r.n_px) == w * h


def test_png_decoder_rejects_garbage_gracefully(spark):
    """Corrupt/non-PNG payloads yield NULL stats, never an exception."""
    from healthcare_etl_spark.operators.multimodal import decode_png_pixel_stats

    rows = [(1, bytearray(b"not a png")), (2, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = decode_png_pixel_stats(df).toPandas().set_index("media_id")
    assert out.loc[1].isna().all() and out.loc[2].isna().all()


def test_wav_pcm_codec_roundtrip(spark):
    """decode_wav_sample_stats must unpack the exact int16 samples
    encode_wav_pcm wrote (little-endian, interleaved channels)."""
    from healthcare_etl_spark.operators.multimodal import (
        _wav_sample,
        decode_wav_sample_stats,
        encode_wav_pcm,
    )

    rows = [(i, "y" * (20 + i)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = decode_wav_sample_stats(encode_wav_pcm(df)).toPandas()
    for _, r in out.iterrows():
        mid = int(r.media_id)
        n = 20 + mid
        ns = (n % 200 + 50) * (n % 2 + 1)
        samples = [_wav_sample(mid, k) for k in range(ns)]
        assert int(r.n_samples) == ns
        assert int(r.sum_s) == sum(samples)
        assert int(r.sum_s2) == sum(s * s for s in samples)
        assert int(r.peak) == max(abs(s) for s in samples)


def test_gif_lzw_bit_packing_matches_spec_hand_example():
    """[42, 42] @ min_code_size=8 must pack to exactly 00 55 A8 08 08:
    codes [CLEAR=256, 42, 42, EOI=257] at 9 bits, LSB-first — computed
    by hand from the GIF89a spec's bit-packing rules, so this anchors
    BOTH directions to the spec independent of round-trip consistency."""
    from healthcare_etl_spark.operators.multimodal import (
        gif_lzw_decode,
        gif_lzw_encode,
    )

    expected = bytes([0x00, 0x55, 0xA8, 0x08, 0x08])
    assert gif_lzw_encode(bytes([42, 42]), 8) == expected
    assert gif_lzw_decode(expected, 8) == [42, 42]


def test_gif_lzw_roundtrip_through_width_growth_and_cap():
    """Round-trip across alphabet sizes and lengths that force code
    widths 9->12 and the 4096-entry dictionary reset."""
    import random

    from healthcare_etl_spark.operators.multimodal import (
        gif_lzw_decode,
        gif_lzw_encode,
    )

    rng = random.Random(13)
    for n, alpha in [(1, 256), (17, 256), (128, 256), (3000, 4), (20000, 2), (9000, 256)]:
        data = bytes(rng.randrange(alpha) for _ in range(n))
        assert gif_lzw_decode(gif_lzw_encode(data, 8), 8) == list(data), (n, alpha)


def test_gif_decode_rejects_malformed_payloads(spark):
    from healthcare_etl_spark.operators.multimodal import decode_gif_index_stats

    rows = [
        (1, None),
        (2, b"NOTAGIF"),
        (3, b"GIF89a\x02\x00\x01\x00\x00\x00\x00"),  # no image descriptor
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pdf = decode_gif_index_stats(media).toPandas()
    assert pdf["n_px"].isna().all()


def test_gif_roundtrip_recovers_exact_indices(spark, sf_smoke):
    """End-to-end: encode real GIFs from documents, decode, and check a
    sampled doc's sums against a pure-Python regeneration of the index
    rule (independent of the oracle)."""
    from healthcare_etl_spark.operators.multimodal import (
        _gif_index,
        decode_gif_index_stats,
        encode_gif_media,
    )
    from healthcare_etl_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(20)
    pdf = decode_gif_index_stats(encode_gif_media(docs)).toPandas()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert pdf["n_px"].notna().all()
    for _, r in pdf.iterrows():
        n = len(texts[r["media_id"]].encode("utf-8"))
        w, h = n % 16 + 1, n % 8 + 1
        idx = [_gif_index(int(r["media_id"]), x, y) for y in range(h) for x in range(w)]
        assert (r["width"], r["height"]) == (w, h)
        assert r["sum_idx"] == sum(idx)


def test_jpeg_zigzag_matches_spec_prefix():
    """The generated zigzag table must match ITU-T T.81 Figure A.6
    (first 16 and last 4 entries of the published sequence)."""
    from healthcare_etl_spark.operators.multimodal import _JPEG_ZIGZAG

    assert _JPEG_ZIGZAG[:16] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5]
    assert _JPEG_ZIGZAG[-4:] == [47, 55, 62, 63]
    assert sorted(_JPEG_ZIGZAG) == list(range(64))


def test_jpeg_bit_io_ff_stuffing_roundtrip():
    """The writer must stuff 0x00 after a 0xFF entropy byte (T.81
    F.1.2.3) and the reader must transparently unstuff it."""
    from healthcare_etl_spark.operators.multimodal import (
        _JpegBitReader,
        _JpegBitWriter,
    )

    w = _JpegBitWriter()
    w.put(0xFF, 8)  # forces a stuffed zero
    w.put(0b1010, 4)
    data = w.flush()
    assert data[0] == 0xFF and data[1] == 0x00  # stuffing present
    r = _JpegBitReader(data)
    assert r.bits(8) == 0xFF
    assert r.bits(4) == 0b1010


def test_jpeg_codec_roundtrip_flat_blocks():
    """Full encode->decode round trip: decoded stats must equal the
    DC rule's direct computation (2*DC + 128 per flat block)."""
    from healthcare_etl_spark.operators.multimodal import (
        _jpeg_block_dc,
        _jpeg_decode_stats_one,
        _jpeg_encode_one,
    )

    for mid, text in [(0, ""), (3, "ab"), (11, "x" * 29), (123456, "y" * 17)]:
        n = len(text.encode())
        bw, bh = n % 3 + 1, n % 2 + 1
        w, h, n_px, s, mn, mx = _jpeg_decode_stats_one(_jpeg_encode_one(mid, text))
        vals = [_jpeg_block_dc(mid, b) * 2 + 128 for b in range(bw * bh)]
        assert (w, h, n_px) == (8 * bw, 8 * bh, 64 * bw * bh)
        assert s == 64 * sum(vals)
        assert (mn, mx) == (min(vals), max(vals))


def test_jpeg_decoder_general_ac_path():
    """The AC decode loop is general run/size, not EOB-only: hand-build
    a scan carrying a (run=1, size=2) AC coefficient plus ZRL, decode,
    and compare against a direct numpy IDCT of the same coefficients."""
    import struct

    import numpy as np

    from healthcare_etl_spark.operators.multimodal import (
        _JPEG_QTABLE,
        _JPEG_ZIGZAG,
        _jpeg_canonical_codes,
        _jpeg_decode_stats_one,
        _jpeg_idct_basis,
        _JpegBitWriter,
    )

    # DC cats 0..6 (len 3) as shipped; AC table extended with real
    # run/size symbols: EOB, ZRL, 0x12 (run 1, size 2), 0x01.
    dc_bits = [0, 0, 7] + [0] * 13
    dc_vals = [0, 1, 2, 3, 4, 5, 6]
    ac_bits = [0, 0, 4] + [0] * 13
    ac_vals = [0x00, 0xF0, 0x12, 0x01]
    dc_codes = _jpeg_canonical_codes(dc_bits, dc_vals)
    ac_codes = _jpeg_canonical_codes(ac_bits, ac_vals)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    zz_q = bytes(_JPEG_QTABLE[_JPEG_ZIGZAG[i]] for i in range(64))
    sof0 = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    dht = (
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    )
    wtr = _JpegBitWriter()
    # DC: category 3, extend bits for +5
    c, ln = dc_codes[3]
    wtr.put(c, ln)
    wtr.put(5, 3)
    # AC: skip 1 zero then coefficient of size 2 (+3) at zigzag k=2
    c, ln = ac_codes[0x12]
    wtr.put(c, ln)
    wtr.put(3, 2)
    # ZRL (16 zeros, k -> 18), then (run 0, size 1) -> -1 at k=19
    c, ln = ac_codes[0xF0]
    wtr.put(c, ln)
    c, ln = ac_codes[0x01]
    wtr.put(c, ln)
    wtr.put(0, 1)  # one's-complement bits of -1
    # EOB
    c, ln = ac_codes[0x00]
    wtr.put(c, ln)
    payload = (
        b"\xff\xd8" + seg(0xDB, bytes([0x00]) + zz_q) + seg(0xC0, sof0)
        + seg(0xC4, dht) + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + wtr.flush() + b"\xff\xd9"
    )
    w, h, n_px, s, mn, mx = _jpeg_decode_stats_one(payload)
    assert (w, h, n_px) == (8, 8, 64)

    coef = np.zeros(64)
    coef[0] = 5.0
    coef[_JPEG_ZIGZAG[2]] = 3.0
    coef[_JPEG_ZIGZAG[19]] = -1.0
    q = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    basis = _jpeg_idct_basis()
    spatial = basis.T @ (coef.reshape(8, 8) * q) @ basis
    px = np.clip(np.rint(spatial + 128.0), 0, 255).astype(np.int64)
    assert s == int(px.sum())
    assert (mn, mx) == (int(px.min()), int(px.max()))


def test_jpeg_decoder_rejects_garbage_gracefully(spark):
    """Corrupt/non-JPEG payloads yield NULL stats, never an exception."""
    from healthcare_etl_spark.operators.multimodal import decode_jpeg_pixel_stats

    rows = [(1, bytearray(b"\xff\xd8garbage")), (2, None), (3, bytearray(b""))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = decode_jpeg_pixel_stats(df).toPandas().set_index("media_id")
    for mid in (1, 2, 3):
        assert out.loc[mid].isna().all()


def test_sniff_kind_dispatch():
    """Magic-byte sniffing recognizes every container the real
    featurize path dispatches on, and nothing else."""
    from healthcare_etl_spark.operators.multimodal import PNG_SIGNATURE, _sniff_kind

    assert _sniff_kind(PNG_SIGNATURE + b"x") == "png"
    assert _sniff_kind(b"\xff\xd8\xff\xe0rest") == "jpeg"
    assert _sniff_kind(b"GIF89a" + b"\x00" * 7) == "gif"
    assert _sniff_kind(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "wav"
    assert _sniff_kind(b"\x00\x00\x00\x18ftypisom") == "mp4"
    assert _sniff_kind(b"plain text") == "unknown"
    assert _sniff_kind(None) == "unknown"
    assert _sniff_kind(b"") == "unknown"


def test_featurize_real_mixed_dispatch(spark, sf_smoke):
    """One mixed batch through the generic real kernel: every payload is
    decoded by ITS codec — cross-checked against the dedicated decoders."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.multimodal import (
        decode_png_pixel_stats,
        decode_wav_sample_stats,
        encode_png_pixels,
        encode_wav_pcm,
        featurize_media_real,
    )
    from healthcare_etl_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(6)
    png = encode_png_pixels(docs.filter(F.col("doc_id") % 2 == 0))
    wav = encode_wav_pcm(docs.filter(F.col("doc_id") % 2 == 1))
    mixed = png.unionByName(wav)
    got = featurize_media_real(mixed).toPandas().set_index("media_id")
    png_want = decode_png_pixel_stats(png).toPandas().set_index("media_id")
    wav_want = decode_wav_sample_stats(wav).toPandas().set_index("media_id")
    for mid, row in png_want.iterrows():
        g = got.loc[mid]
        assert g["kind"] == "png"
        assert int(g["n_units"]) == 3 * int(row["n_px"])
        assert int(g["sum_v"]) == int(row["sum_r"] + row["sum_g"] + row["sum_b"])
        assert (int(g["width"]), int(g["height"])) == (int(row["width"]), int(row["height"]))
    for mid, row in wav_want.iterrows():
        g = got.loc[mid]
        assert g["kind"] == "wav"
        assert int(g["n_units"]) == int(row["n_samples"])
        assert int(g["sum_v"]) == int(row["sum_s"])


def test_resize_real_roundtrip_exact_pixels(spark, sf_smoke):
    """Real PNG resize: decode the resized payloads and check every
    pixel equals the nearest-neighbor sample of the source rule."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.multimodal import (
        _png_decode_raw,
        _png_pixel,
        encode_png_pixels,
        resize_media,
    )
    from healthcare_etl_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(4)
    src = encode_png_pixels(docs)
    dims = {
        int(r["media_id"]): (len(r["text"].encode("utf-8")) % 16 + 1,
                             len(r["text"].encode("utf-8")) % 8 + 1)
        for r in docs.select(F.col("doc_id").alias("media_id"), "text").collect()
    }
    out = resize_media(src, target_w=5, target_h=4, decode_stub=False)
    for r in out.collect():
        mid = int(r["media_id"])
        w, h = dims[mid]
        decoded = _png_decode_raw(bytes(r["payload"]))
        assert decoded is not None
        ow, oh, lines = decoded
        assert (ow, oh) == (5, 4)
        for y in range(4):
            for x in range(5):
                want = _png_pixel(mid, x * w // 5, y * h // 4)
                gotpx = tuple(lines[y][3 * x : 3 * x + 3])
                assert gotpx == want, (mid, x, y)


def test_resize_real_non_png_is_null(spark):
    """Non-PNG payloads pass through the real resize as NULL (the real
    path only re-encodes the codec it owns end-to-end), never raising."""
    from healthcare_etl_spark.operators.multimodal import resize_media

    rows = [(1, "audio", bytearray(b"RIFFxxxxWAVE")), (2, "image", None)]
    df = spark.createDataFrame(rows, "media_id long, media_type string, payload binary")
    out = resize_media(df, target_w=5, target_h=4, decode_stub=False).toPandas()
    assert out["payload"].isna().all()
    assert out["n_bytes_out"].isna().all()


def test_image_phash_dedup_finds_family_members(spark, sf_smoke):
    """Every image family (8 consecutive ids sharing a base image, one
    perturbed pixel apart) must surface as near-dup pairs: for each
    family at least the exact-hash members pair up with hamming 0, and
    every reported pair is verified <= 3 bits apart."""
    from healthcare_etl_spark.plans.registry import get_registry

    out = get_registry()["q_image_phash_dedup"].fn(spark, sf_smoke).toPandas()
    assert len(out) > 0
    assert (out["hamming"] <= 3).all()
    same_family = (out["doc_a"] // 8 == out["doc_b"] // 8)
    assert same_family.any()
    # hamming-0 pairs exist (members whose single-pixel bump didn't
    # flip any block bit hash identically)
    assert (out.loc[same_family, "hamming"] == 0).any()


def test_audio_fingerprint_dedup_finds_family_members(spark, sf_smoke):
    """Audio families (8 consecutive ids sharing a base clip, one
    perturbed sample apart) must surface as near-dup pairs with
    hamming <= 3; hamming-0 pairs exist where the one-sample bump never
    flips a band-energy bit."""
    from healthcare_etl_spark.plans.registry import get_registry

    out = get_registry()["q_audio_fingerprint_dedup"].fn(spark, sf_smoke).toPandas()
    assert len(out) > 0
    assert (out["hamming"] <= 3).all()
    same_family = (out["doc_a"] // 8 == out["doc_b"] // 8)
    assert same_family.any()
    assert (out.loc[same_family, "hamming"] == 0).any()


# ----------------------------------------------------------------------
# MJPEG-in-MP4 video decode (r8 — retires the last decode stub)
# ----------------------------------------------------------------------


def test_mjpeg_mp4_container_structure():
    """The encoder emits a spec-shaped ISO BMFF file: ftyp first, a moov
    whose stbl carries true per-frame sizes, and an stco offset that
    lands exactly on the first JPEG's SOI marker."""
    import struct

    from healthcare_etl_spark.operators.multimodal import (
        _jpeg_encode_one,
        _mjpeg_mp4_encode_one,
        _mp4_n_frames,
    )

    mid, text = 42, "hello mjpeg"
    b = _mjpeg_mp4_encode_one(mid, text)
    assert b[4:8] == b"ftyp"
    n = len(text.encode("utf-8"))
    nf = _mp4_n_frames(n)
    # stco holds the absolute offset of the first sample: must be SOI
    i = b.index(b"stco")
    (off,) = struct.unpack(">I", b[i + 12 : i + 16])
    assert b[off : off + 2] == b"\xff\xd8"
    # stsz sizes are the true JPEG byte lengths, frames concatenated
    i = b.index(b"stsz")
    fixed, count = struct.unpack(">II", b[i + 8 : i + 16])
    assert (fixed, count) == (0, nf)
    sizes = struct.unpack(f">{nf}I", b[i + 16 : i + 16 + 4 * nf])
    cur = off
    for k, sz in enumerate(sizes):
        assert b[cur : cur + sz] == _jpeg_encode_one(mid * 4 + k, text)
        cur += sz


def test_mjpeg_mp4_frame_decode_roundtrip():
    """Every frame decodes through the real T.81 kernel to the exact
    arithmetic pixel stats (flat blocks: pixel = 2*DC + 128)."""
    from healthcare_etl_spark.operators.multimodal import (
        _jpeg_block_dc,
        _mjpeg_mp4_encode_one,
        _mp4_mjpeg_frames_one,
        _mp4_n_frames,
    )

    for mid, text in [(0, ""), (7, "hello world"), (123, "x" * 57)]:
        n = len(text.encode("utf-8"))
        bw, bh = n % 3 + 1, n % 2 + 1
        frames = _mp4_mjpeg_frames_one(_mjpeg_mp4_encode_one(mid, text))
        assert frames is not None and len(frames) == _mp4_n_frames(n)
        for k, w, h, n_px, sv, mn, mx in frames:
            assert (w, h, n_px) == (8 * bw, 8 * bh, 64 * bw * bh)
            vals = [2 * _jpeg_block_dc(mid * 4 + k, bb) + 128 for bb in range(bw * bh)]
            assert sv == 64 * sum(vals)
            assert (mn, mx) == (min(vals), max(vals))


def test_mjpeg_mp4_decoder_rejects_non_mjpeg(spark):
    """Payloads without a 'jpeg' sample track expand to ZERO rows —
    filtered, not faked: the mvhd-only shell from encode_mp4_media, raw
    text, None, and a truncated file all yield nothing."""
    from healthcare_etl_spark.operators.multimodal import (
        _mjpeg_mp4_encode_one,
        _mp4_mjpeg_frames_one,
        decode_mp4_mjpeg_frames,
    )

    good = _mjpeg_mp4_encode_one(5, "ok")
    assert _mp4_mjpeg_frames_one(good[: len(good) // 2]) is None
    rows = [
        (1, bytearray(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16)),
        (2, None),
        (3, bytearray(b"plain text")),
        (4, bytearray(good)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = decode_mp4_mjpeg_frames(df).toPandas()
    assert set(out["media_id"]) == {4}


def test_featurize_real_decodes_mjpeg_mp4(spark):
    """The generic real featurize path now decodes MJPEG MP4s: width/
    height from the track, sums over ALL frames."""
    from healthcare_etl_spark.operators.multimodal import (
        _mp4_mjpeg_frames_one,
        encode_mjpeg_mp4,
        featurize_media_real,
    )

    docs = spark.createDataFrame(
        [(9, "multi frame"), (10, "x")], "doc_id long, text string"
    )
    media = encode_mjpeg_mp4(docs)
    out = featurize_media_real(media).toPandas().set_index("media_id")
    rows = {int(r[0]): r for r in media.collect()}
    for mid in (9, 10):
        frames = _mp4_mjpeg_frames_one(bytes(rows[mid][1]))
        assert out.loc[mid, "kind"] == "mp4"
        assert int(out.loc[mid, "width"]) == frames[0][1]
        assert int(out.loc[mid, "n_units"]) == sum(f[3] for f in frames)
        assert int(out.loc[mid, "sum_v"]) == sum(f[4] for f in frames)


# ----------------------------------------------------------------------
# Video near-dup detection (r8)
# ----------------------------------------------------------------------


def test_mjpeg_family_structure():
    """Members of a family share exactly nf-1 frame fingerprints (frame
    0 is perturbed per member); different families share none at small
    family indices (distinct DC sequences)."""
    from healthcare_etl_spark.operators.multimodal import (
        _frame_fingerprint,
        _jpeg_decode_blocks_one,
        _mjpeg_family_video,
        _mp4_mjpeg_samples,
    )

    def sigset(doc):
        out = set()
        for s in _mp4_mjpeg_samples(_mjpeg_family_video(doc)):
            w, h, blocks = _jpeg_decode_blocks_one(s)
            out.add((w, h, _frame_fingerprint(blocks)))
        return out

    for fam_start in (4, 8, 12, 20):
        fam = fam_start // 4
        nf = fam % 4 + 1
        sets = [sigset(fam_start + m) for m in range(4)]
        for m in (1, 2, 3):
            assert len(sets[0] & sets[m]) == nf - 1
        assert len(sets[1] & sets[2]) == nf - 1
        assert not (sets[0] & sigset(fam_start + 4))


def test_frame_fingerprint_injective_and_truncated():
    """The base-257 encoding separates frames differing in any leading
    block mean, and ignores blocks past the 7-block truncation."""
    import numpy as np

    from healthcare_etl_spark.operators.multimodal import (
        _FHASH_BLOCKS,
        _frame_fingerprint,
    )

    def blocks(vals):
        return [np.full((8, 8), v, dtype=np.int64) for v in vals]

    assert _frame_fingerprint(blocks([10, 20])) != _frame_fingerprint(blocks([11, 20]))
    assert _frame_fingerprint(blocks([10, 20])) != _frame_fingerprint(blocks([20, 10]))
    # carry-free: max mean 255 < 257 means no aliasing between positions
    assert _frame_fingerprint(blocks([255, 0])) != _frame_fingerprint(blocks([0, 1]))
    seven = list(range(1, 8))
    assert _frame_fingerprint(blocks(seven)) == _frame_fingerprint(
        blocks(seven + [99])
    )
    assert _FHASH_BLOCKS == 7


def test_video_frame_dedup_pairs(spark):
    """End-to-end on one family of 4 (nf=3): every member pair shares
    nf-1=2 of 3 signatures -> 6 verified pairs, overlap 2/3."""
    from healthcare_etl_spark.operators.multimodal import (
        decode_mp4_mjpeg_frame_hashes,
        encode_mjpeg_family,
        video_frame_dedup_pairs,
    )

    # fam=2 -> nf=3, bw=3, bh=1
    docs = spark.createDataFrame([(8 + m,) for m in range(4)], "doc_id long")
    fh = decode_mp4_mjpeg_frame_hashes(encode_mjpeg_family(docs))
    out = video_frame_dedup_pairs(fh).toPandas()
    assert len(out) == 6
    assert set(out["n_shared"]) == {2}
    assert set(out["n_sig_a"]) == {3} and set(out["n_sig_b"]) == {3}
    assert all(abs(v - 0.666667) < 1e-9 for v in out["overlap"])


def test_sample_frames_real_emits_decodable_jpegs(spark):
    """The real frame-sampling path slices true stbl samples: every
    frame_bytes decodes through the T.81 kernel with the right dims,
    and frame_ts follows the container's stts/mdhd timing (24 fps)."""
    from healthcare_etl_spark.operators.multimodal import (
        _jpeg_decode_stats_one,
        encode_mjpeg_mp4,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(7, "hello world"), (3, "xyz")], "doc_id long, text string"
    )
    out = sample_frames(encode_mjpeg_mp4(docs), decode_stub=False).toPandas()
    assert set(out["media_id"]) == {7, 3}
    for _, row in out.iterrows():
        w, h, n_px, sv, mn, mx = _jpeg_decode_stats_one(bytes(row["frame_bytes"]))
        assert w is not None and n_px == w * h
        assert abs(row["frame_ts"] - row["frame_idx"] * 25 / 600) < 1e-12
    # non-MJPEG payloads expand to zero rows on the real path
    junk = spark.createDataFrame(
        [(1, bytearray(b"not a video"))], "media_id long, payload binary"
    )
    assert sample_frames(junk, decode_stub=False).count() == 0


def test_bmp_codec_round_trip_row_orders(spark, sf_smoke):
    """REAL BMP round-trip: encode (both bottom-up and top-down rows,
    strided) -> decode recovers exact dims, channel sums and the
    row-order-sensitive weighted sum for every doc; malformed payloads
    yield NULL stats."""
    from pyspark.sql import functions as F

    from healthcare_etl_spark.operators.multimodal import (
        _bmp_decode_stats_one,
        _bmp_pixel,
        decode_bmp_pixel_stats,
        encode_bmp_pixels,
    )
    from healthcare_etl_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(40)
    media = encode_bmp_pixels(docs)
    out = {r["media_id"]: r for r in decode_bmp_pixel_stats(media).collect()}
    rows = docs.select("doc_id", F.length(F.encode("text", "utf-8")).alias("n")).collect()
    assert len(out) == len(rows)
    for r in rows:
        mid, n = r["doc_id"], r["n"]
        w, h = n % 14 + 1, n % 7 + 1
        exp_r = exp_g = exp_b = exp_w = 0
        for y in range(h):
            for x in range(w):
                pr, pg, pb = _bmp_pixel(mid, x, y)
                exp_r += pr
                exp_g += pg
                exp_b += pb
                exp_w += (y + 1) * pr
        got = out[mid]
        assert (got["width"], got["height"], got["n_px"]) == (w, h, w * h)
        assert (got["sum_r"], got["sum_g"], got["sum_b"]) == (exp_r, exp_g, exp_b)
        assert got["wsum_r"] == exp_w, f"row-order bug for media {mid}"
    # malformed payloads: NULL stats, never an exception
    assert _bmp_decode_stats_one(b"") == (None,) * 7
    assert _bmp_decode_stats_one(b"BM" + b"\x00" * 10) == (None,) * 7
    assert _bmp_decode_stats_one(b"PNG whatever") == (None,) * 7


def test_multimodal_module_has_one_arrow_map_and_no_pandas():
    """Every codec pass runs through the one row-kernel primitive: the
    module holds exactly one ``mapInArrow`` call, no ``mapInPandas`` and
    no pandas import."""
    import ast
    import inspect

    from healthcare_etl_spark.operators import multimodal

    src = inspect.getsource(multimodal)
    tree = ast.parse(src)
    assert "mapInPandas" not in src
    imported = [a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names]
    imported += [n.module or "" for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)]
    assert not [m for m in imported if m.split(".")[0] == "pandas"], imported
    arrow_maps = [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInArrow"
    ]
    assert len(arrow_maps) == 1


def _kernel_cases():
    from healthcare_etl_spark.operators import multimodal as mm

    # (decoder, encoder making its valid rows, declared output schema,
    #  fields a NULL/junk row keeps non-NULL; None = row-expanding)
    return {
        "parse_image_dims": (mm.parse_image_dims, mm.encode_png_media,
                             mm.IMAGE_DIMS_SCHEMA, {"format"}),
        "parse_wav_meta": (mm.parse_wav_meta, mm.encode_wav_media,
                           mm.WAV_META_SCHEMA, {"format"}),
        "parse_mp4_meta": (mm.parse_mp4_meta, mm.encode_mp4_media,
                           mm.MP4_META_SCHEMA, {"format"}),
        "decode_png_pixel_stats": (mm.decode_png_pixel_stats, mm.encode_png_pixels,
                                   mm.PNG_PIXEL_STATS_SCHEMA, set()),
        "decode_wav_sample_stats": (mm.decode_wav_sample_stats, mm.encode_wav_pcm,
                                    mm.WAV_SAMPLE_STATS_SCHEMA, set()),
        "decode_gif_index_stats": (mm.decode_gif_index_stats, mm.encode_gif_media,
                                   mm.GIF_INDEX_STATS_SCHEMA, set()),
        "decode_jpeg_pixel_stats": (mm.decode_jpeg_pixel_stats, mm.encode_jpeg_gray,
                                    mm.JPEG_PIXEL_STATS_SCHEMA, set()),
        "decode_bmp_pixel_stats": (mm.decode_bmp_pixel_stats, mm.encode_bmp_pixels,
                                   mm.BMP_PIXEL_STATS_SCHEMA, set()),
        "decode_png_blockhash": (mm.decode_png_blockhash, mm.encode_png_family,
                                 mm.BLOCKHASH_SCHEMA, set()),
        "decode_wav_fingerprint": (mm.decode_wav_fingerprint, mm.encode_wav_family,
                                   mm.AUDIOHASH_SCHEMA, set()),
        "featurize_media_real": (mm.featurize_media_real, mm.encode_png_pixels,
                                 mm.REAL_FEATURE_SCHEMA, {"kind", "n_bytes"}),
        "resize_media_real": (
            lambda m: mm.resize_media(m, target_w=3, target_h=2, decode_stub=False),
            mm.encode_png_pixels, mm.RESIZED_SCHEMA, {"media_type", "out_w", "out_h"},
        ),
        "decode_mp4_mjpeg_frames": (mm.decode_mp4_mjpeg_frames, mm.encode_mjpeg_mp4,
                                    mm.MJPEG_FRAME_STATS_SCHEMA, None),
        "decode_mp4_mjpeg_frame_hashes": (mm.decode_mp4_mjpeg_frame_hashes,
                                          mm.encode_mjpeg_family, mm.FRAME_HASH_SCHEMA, None),
        "sample_frames_real": (lambda m: mm.sample_frames(m, decode_stub=False),
                               mm.encode_mjpeg_mp4, mm.FRAME_SCHEMA, None),
    }


@pytest.mark.parametrize("case", sorted(_kernel_cases()))
def test_kernel_schema_and_null_junk_rows(spark, case):
    """Every public kernel over a small corpus: ids 1-2 are valid media
    from the matching encoder (id 2 encodes a NULL text), id 3 is a NULL
    payload, id 4 junk bytes. Encoder and kernel results carry their
    declared schemas, nullability included; NULL/junk rows come back with
    NULL stats (1:1 kernels) or as no rows (row-expanding kernels)."""
    from healthcare_etl_spark.operators import multimodal as mm

    kernel, encoder, schema, keeps = _kernel_cases()[case]
    docs = spark.createDataFrame([(1, "a fixture text"), (2, None)], "doc_id long, text string")
    encoded = encoder(docs)
    assert encoded.schema == mm.PNG_MEDIA_SCHEMA
    bad = spark.createDataFrame([(3, None), (4, bytearray(b"\x00junk\xff" * 9))], mm.PNG_MEDIA_SCHEMA)
    out = kernel(encoded.unionByName(bad))
    assert out.schema == schema
    rows = out.collect()
    ids = [r["media_id"] for r in rows]
    if keeps is None:
        assert set(ids) == {1, 2}
        assert all(v is not None for r in rows for v in r)
        return
    assert sorted(ids) == [1, 2, 3, 4]
    for r in rows:
        stats = {k: v for k, v in r.asDict().items() if k != "media_id" and k not in keeps}
        if r["media_id"] <= 2:
            assert None not in stats.values(), (r["media_id"], stats)
        else:
            assert set(stats.values()) == {None}, (r["media_id"], stats)
