"""Multimodal plumbing tests (stubbed decoders, real Spark plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.multimodal import (
    FEATURE_DIM,
    extract_features,
    sample_frames,
    synthesize_assets,
)


@pytest.fixture(scope="module")
def assets(spark):
    return synthesize_assets(spark, n=30).persist()


def test_asset_synthesis_deterministic(spark, assets):
    again = synthesize_assets(spark, n=30)
    a = sorted(tuple(r) for r in assets.select("asset_id", "n_bytes").collect())
    b = sorted(tuple(r) for r in again.select("asset_id", "n_bytes").collect())
    assert a == b


def test_extract_features_shape_and_determinism(spark, assets):
    out = extract_features(assets).collect()
    assert len(out) == 30
    for r in out:
        assert len(r["feature"]) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
    # deterministic across runs
    out2 = {r["asset_id"]: r["feature"] for r in extract_features(assets).collect()}
    for r in out:
        assert out2[r["asset_id"]] == r["feature"]


def test_extract_features_strict_raises(spark, assets):
    """Digest-fake payloads are not valid containers for any of the
    three real decoders -> parse error in strict mode."""
    with pytest.raises(Exception, match="malformed|not an? |NotImplementedError"):
        extract_features(assets.limit(1), strict=True).collect()


def test_extract_features_unknown_kind_strict(spark):
    """A kind with no decoder (e.g. compressed formats routed under a
    custom kind) is NotImplementedError in strict mode, digest fake
    otherwise."""
    from opentelemetry_log_collection_spark.multimodal import ASSET_SCHEMA

    df = spark.createDataFrame(
        [(0, "hologram", "application/x-unknown", b"\x00" * 32, 32, {})],
        ASSET_SCHEMA,
    )
    assert len(extract_features(df, strict=False).collect()) == 1
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        extract_features(df, strict=True).collect()


def test_wav_decode_real(spark):
    """The audio decoder is REAL: it parses an actual RIFF/WAVE
    container and recovers physical statistics that match the
    generator's closed-form values exactly."""
    from opentelemetry_log_collection_spark.multimodal import (
        WAV_N,
        WAV_RATE,
        audio_features,
        decode_wav,
        synthesize_wav,
        synthesize_wav_assets,
        wav_amplitude,
    )

    # direct decode, no Spark: container round-trip
    d = decode_wav(synthesize_wav(7))
    assert d["sample_rate"] == WAV_RATE
    assert d["n_channels"] == 1
    assert d["n_samples"] == WAV_N
    for j in range(10):
        assert d[f"rms_{j}"] == wav_amplitude(7, j) / 32768.0
    assert d["peak"] == max(wav_amplitude(7, j) for j in range(10)) / 32768.0

    # through the mapInPandas op
    rows = {r["asset_id"]: r for r in audio_features(
        synthesize_wav_assets(spark, n=12)).collect()}
    assert len(rows) == 12
    for i, r in rows.items():
        assert r["rms_3"] == wav_amplitude(i, 3) / 32768.0
        assert r["duration_s"] == WAV_N / float(WAV_RATE)


def test_wav_strict_mode_decodes_audio(spark):
    """strict=True now genuinely decodes audio (one real modality per
    the round-3 brief) and still raises for image/video."""
    from opentelemetry_log_collection_spark.multimodal import (
        synthesize_wav_assets,
    )

    out = extract_features(synthesize_wav_assets(spark, n=6), strict=True)
    rows = out.collect()
    assert len(rows) == 6
    assert all(len(r["feature"]) == FEATURE_DIM for r in rows)


def test_wav_strict_malformed_is_parse_error(spark):
    """An audio-kind payload that is not a WAV raises in strict mode
    (parse error), falls back to the digest fake otherwise."""
    bad = synthesize_assets(spark, n=3).filter(F.col("kind") == "audio")
    ok = extract_features(bad, strict=False).collect()
    assert all(len(r["feature"]) == FEATURE_DIM for r in ok)
    with pytest.raises(Exception, match="malformed WAV"):
        extract_features(bad, strict=True).collect()


def test_bmp_decode_real(spark):
    """The image decoder is REAL: it parses an actual BMP container
    (headers, row padding, bottom-up flip) and recovers pixel
    statistics matching the generator's closed form exactly."""
    from opentelemetry_log_collection_spark.multimodal import (
        bmp_dims,
        bmp_pixel,
        decode_bmp,
        image_features,
        synthesize_bmp,
        synthesize_bmp_assets,
    )

    for a in (0, 7, 13):
        w, h = bmp_dims(a)
        d = decode_bmp(synthesize_bmp(a))
        assert (d["width"], d["height"], d["n_pixels"]) == (w, h, w * h)
        sums = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    sums[c] += bmp_pixel(a, x, y, c)
        assert d["mean_b"] == sums[0] / (w * h)
        assert d["mean_g"] == sums[1] / (w * h)
        assert d["mean_r"] == sums[2] / (w * h)
        assert d["brightness"] == sum(sums) / (3 * w * h)
        assert d["corner_sum"] == sum(bmp_pixel(a, 0, 0, c) for c in range(3))

    rows = {r["asset_id"]: r for r in image_features(
        synthesize_bmp_assets(spark, n=12)).collect()}
    assert len(rows) == 12
    for i, r in rows.items():
        w, h = bmp_dims(i)
        assert (r["width"], r["height"]) == (w, h)
        assert r["corner_sum"] == sum(bmp_pixel(i, 0, 0, c) for c in range(3))


def test_bmp_decode_rejects_malformed(spark):
    from opentelemetry_log_collection_spark.multimodal import (
        decode_bmp,
        synthesize_bmp,
    )

    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG whatever")
    good = synthesize_bmp(3)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(good[:60])
    # strict image decode over digest fakes is a parse error
    fake = synthesize_assets(spark, n=3).filter(F.col("kind") == "image")
    with pytest.raises(Exception, match="malformed/unsupported image"):
        extract_features(fake, strict=True).collect()


def test_bmp_resize_real(spark):
    """resize_bmp emits a VALID BMP whose pixels are the floor-mapped
    nearest-neighbor samples of the source; the Spark op round-trips
    through a second decode."""
    from opentelemetry_log_collection_spark.multimodal import (
        bmp_dims,
        bmp_pixel,
        decode_bmp,
        image_features,
        resize_bmp,
        resize_images,
        synthesize_bmp,
        synthesize_bmp_assets,
    )
    from pyspark.sql import functions as F

    for a in (0, 4, 9):
        w, h = bmp_dims(a)
        small = resize_bmp(synthesize_bmp(a), 8, 8)
        d = decode_bmp(small)
        assert (d["width"], d["height"]) == (8, 8)
        sums = [0, 0, 0]
        for y in range(8):
            for x in range(8):
                for c in range(3):
                    sums[c] += bmp_pixel(a, (x * w) // 8, (y * h) // 8, c)
        assert d["mean_b"] == sums[0] / 64
        assert d["corner_sum"] == sum(bmp_pixel(a, 0, 0, c) for c in range(3))

    resized = resize_images(synthesize_bmp_assets(spark, n=8), 8, 8)
    out = image_features(
        resized.select("asset_id", F.lit("image").alias("kind"), "payload")
    ).collect()
    assert len(out) == 8
    assert all(r["width"] == 8 and r["height"] == 8 for r in out)


def test_avi_demux_real(spark):
    """The video decoder is REAL: RIFF/AVI chunk-tree demux recovers
    the header metadata and every uncompressed-DIB frame; per-frame
    pixel stats match the generator's closed form exactly."""
    from opentelemetry_log_collection_spark.multimodal import (
        avi_dims,
        avi_pixel,
        demux_avi,
        synthesize_avi,
        video_frame_stats,
        synthesize_avi_assets,
        _dib_stats,
    )

    for a in (0, 5, 11):
        w, h, nf = avi_dims(a)
        meta, frames = demux_avi(synthesize_avi(a))
        assert (meta["width"], meta["height"], meta["n_frames"]) == (w, h, nf)
        assert meta["usec_per_frame"] == 100_000
        assert len(frames) == nf
        st = _dib_stats(frames[2], w, h)
        assert st["corner_sum"] == sum(avi_pixel(a, 2, 0, 0, c) for c in range(3))
        s = sum(avi_pixel(a, 2, x, y, c)
                for x in range(w) for y in range(h) for c in range(3))
        assert st["brightness"] == s / (3 * w * h)

    out = video_frame_stats(synthesize_avi_assets(spark, n=10)).collect()
    by_asset: dict[int, list[int]] = {}
    for r in out:
        by_asset.setdefault(r["asset_id"], []).append(r["frame_idx"])
    for i, idxs in by_asset.items():
        w, h, nf = avi_dims(i)
        assert sorted(idxs) == [f for f in range(0, nf, 2)]
    for r in out:
        i, f = r["asset_id"], r["frame_idx"]
        assert r["corner_sum"] == sum(avi_pixel(i, f, 0, 0, c) for c in range(3))


def test_avi_demux_rejects_malformed():
    from opentelemetry_log_collection_spark.multimodal import (
        demux_avi,
        synthesize_avi,
    )

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        demux_avi(b"\x00" * 64)
    good = synthesize_avi(1)
    with pytest.raises(ValueError, match="truncated|missing|declares"):
        demux_avi(good[: len(good) // 2])


def test_sample_frames_real_avi(spark):
    """sample_frames on genuine AVI payloads emits the ACTUAL demuxed
    frames (full DIB rows), not byte-slice pseudo-frames."""
    from opentelemetry_log_collection_spark.multimodal import (
        avi_dims,
        sample_frames,
        synthesize_avi_assets,
        _dib_frame,
    )

    frames = sample_frames(synthesize_avi_assets(spark, n=6)).collect()
    by_asset: dict[int, dict[int, bytes]] = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    for i, got in by_asset.items():
        _, _, nf = avi_dims(i)
        assert sorted(got) == list(range(min(nf, 8)))
        assert got[0] == _dib_frame(i, 0)
        assert got[2] == _dib_frame(i, 2)


def test_sample_frames_strict_rejects_non_avi(spark, assets):
    from opentelemetry_log_collection_spark.multimodal import sample_frames

    with pytest.raises(Exception, match="not an AVI"):
        sample_frames(assets, strict=True).collect()


def test_sample_frames_only_video(spark, assets):
    frames = sample_frames(assets).collect()
    video_ids = {
        r["asset_id"] for r in assets.filter(F.col("kind") == "video").collect()
    }
    assert {r["asset_id"] for r in frames} == video_ids
    by_asset: dict[int, list[int]] = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r["frame_idx"])
        assert len(bytes(r["frame"])) == 16
    for idxs in by_asset.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame ids


# ---- PNG: real compressed decode (zlib inflate + unfilter) -----------


def test_png_decode_real_all_filters():
    """Encode->decode round trip recovers the closed-form pixels
    exactly; the synthesizer cycles filter type y % 5, so heights >= 5
    guarantee every unfilter branch (None/Sub/Up/Average/Paeth) ran."""
    from opentelemetry_log_collection_spark.multimodal import (
        decode_png, png_dims, png_pixel, synthesize_png,
    )

    for a in (0, 3, 7, 23):
        w, h = png_dims(a)
        assert h >= 5  # all five filter types exercised
        d = decode_png(synthesize_png(a))
        assert (d["width"], d["height"], d["n_pixels"]) == (w, h, w * h)
        n = w * h
        for c, key in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
            want = sum(
                png_pixel(a, x, y, c) for x in range(w) for y in range(h)
            )
            assert d[key] == want / n
        assert d["corner_sum"] == sum(png_pixel(a, 0, 0, c) for c in range(3))


def test_png_decode_rejects_malformed():
    from opentelemetry_log_collection_spark.multimodal import (
        decode_png, synthesize_png,
    )
    import struct
    import zlib

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM" + b"\x00" * 64)
    # bit-flip inside a chunk -> CRC mismatch
    blob = bytearray(synthesize_png(1))
    blob[60] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch|truncated"):
        decode_png(bytes(blob))
    # unsupported bit depth (16) is rejected, not mis-decoded
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    idat = zlib.compress(b"\x00" * 20)
    chunk2 = (
        struct.pack(">I", len(idat)) + b"IDAT" + idat
        + struct.pack(">I", zlib.crc32(b"IDAT" + idat))
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(sig + chunk + chunk2)


def test_image_features_mixed_bmp_png_corpus(spark):
    """image_features dispatches per payload on magic bytes: a corpus
    mixing BMP and PNG assets decodes in one pass, each with its own
    container/channel-order semantics."""
    from opentelemetry_log_collection_spark.multimodal import (
        bmp_pixel, image_features, png_pixel,
        synthesize_bmp_assets, synthesize_png_assets,
    )

    bmp = synthesize_bmp_assets(spark, n=3).withColumn(
        "asset_id", F.col("asset_id") + 100
    )
    png = synthesize_png_assets(spark, n=3)
    out = {r["asset_id"]: r for r in
           image_features(bmp.unionByName(png)).collect()}
    assert len(out) == 6
    # BMP corner is BGR-stored, PNG corner is RGB-stored; both are the
    # 3-channel sum at (0,0) of their own closed form
    assert out[0]["corner_sum"] == sum(png_pixel(0, 0, 0, c) for c in range(3))
    # bmp assets were synthesized with asset_id 0..2 (payload formula),
    # re-keyed +100 only in the column
    assert out[100]["corner_sum"] == sum(
        bmp_pixel(0, 0, 0, c) for c in range(3)
    )


def test_png_all_color_types_round_trip():
    """Every standard 8-bit color type decodes to the exact
    closed-form RGB statistics: gray replicates, palette indexes
    PLTE, alpha channels drop."""
    from opentelemetry_log_collection_spark.multimodal import (
        decode_png, png_dims, png_palette_rgb, png_pixel, synthesize_png,
    )

    a = 5
    w, h = png_dims(a)
    n = w * h
    gray = sum(png_pixel(a, x, y, 0) for x in range(w) for y in range(h))
    for ct in (0, 4):  # gray / gray+alpha -> replicated channels
        d = decode_png(synthesize_png(a, color_type=ct))
        assert d["mean_r"] == d["mean_g"] == d["mean_b"] == gray / n
    for ct in (2, 6):  # truecolor / RGBA -> per-channel forms
        d = decode_png(synthesize_png(a, color_type=ct))
        for c, key in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
            assert d[key] == sum(
                png_pixel(a, x, y, c) for x in range(w) for y in range(h)
            ) / n
    d = decode_png(synthesize_png(a, color_type=3))  # palette lookup
    for c, key in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
        assert d[key] == sum(
            png_palette_rgb(png_pixel(a, x, y, 0))[c]
            for x in range(w) for y in range(h)
        ) / n


def test_png_palette_without_plte_rejected():
    from opentelemetry_log_collection_spark.multimodal import (
        synthesize_png, decode_png,
    )

    blob = synthesize_png(1, color_type=3)
    # excise the PLTE chunk (length 4 + type 4 + 768 data + crc 4)
    i = blob.index(b"PLTE") - 4
    stripped = blob[:i] + blob[i + 12 + 768:]
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(stripped)


# ---- JPEG: real entropy-coded decode (Huffman + dequant + IDCT) ------


def test_jpeg_block_constant_exact():
    """Even-valued block-constant images survive baseline JPEG
    LOSSLESSLY (DC divisible by the quantizer, ACs exactly 0), so the
    general decoder must reproduce the closed form bit-for-bit."""
    from opentelemetry_log_collection_spark.multimodal import (
        decode_jpeg, jpeg_block_value, jpeg_dims, synthesize_jpeg,
    )

    for a in (0, 3, 7, 23):
        w, h = jpeg_dims(a)
        d = decode_jpeg(synthesize_jpeg(a))
        assert (d["width"], d["height"], d["n_pixels"]) == (w, h, w * h)
        want = sum(
            jpeg_block_value(a, x // 8, y // 8)
            for x in range(w) for y in range(h)
        )
        assert d["mean_r"] == d["mean_g"] == d["mean_b"] == want / (w * h)
        assert d["corner_sum"] == 3 * jpeg_block_value(a, 0, 0)


def test_jpeg_lossy_round_trip_bounded():
    """A smooth gradient exercises the full entropy path — nonzero
    ACs, run lengths, multi-bit Huffman codes — and must come back
    within quantization-error distance of the source."""
    import numpy as np

    from opentelemetry_log_collection_spark.multimodal import (
        decode_jpeg, encode_jpeg_gray,
    )

    img = np.clip(
        np.add.outer(np.arange(40) * 2.0, np.arange(56) * 1.5), 0, 255
    ).astype(np.uint8)
    d = decode_jpeg(encode_jpeg_gray(img))
    assert (d["width"], d["height"]) == (56, 40)
    assert abs(d["mean_r"] - img.mean()) < 2.0


def test_jpeg_rejects_malformed():
    from opentelemetry_log_collection_spark.multimodal import (
        decode_jpeg, synthesize_jpeg,
    )

    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"BM" + b"\x00" * 32)
    blob = bytearray(synthesize_jpeg(1))
    # flip SOF0 (FFC0) to progressive SOF2 (FFC2): reject, not garble
    i = bytes(blob).index(b"\xff\xc0")
    blob[i + 1] = 0xC2
    with pytest.raises(ValueError, match="not baseline"):
        decode_jpeg(bytes(blob))
    # truncated entropy stream
    blob2 = synthesize_jpeg(2)
    with pytest.raises(ValueError):
        decode_jpeg(blob2[: len(blob2) // 2])


def test_image_features_mixed_three_formats(spark):
    """One corpus mixing BMP, PNG, and JPEG decodes in a single
    image_features pass, each by its own container semantics."""
    from opentelemetry_log_collection_spark.multimodal import (
        image_features, jpeg_block_value,
        synthesize_bmp_assets, synthesize_jpeg_assets,
        synthesize_png_assets,
    )

    bmp = synthesize_bmp_assets(spark, n=2).withColumn(
        "asset_id", F.col("asset_id") + 100
    )
    png = synthesize_png_assets(spark, n=2).withColumn(
        "asset_id", F.col("asset_id") + 200
    )
    jpg = synthesize_jpeg_assets(spark, n=2)
    out = {r["asset_id"]: r for r in
           image_features(bmp.unionByName(png).unionByName(jpg)).collect()}
    assert len(out) == 6
    assert out[0]["corner_sum"] == 3 * jpeg_block_value(0, 0, 0)
    assert out[1]["corner_sum"] == 3 * jpeg_block_value(1, 0, 0)


def test_gif_lzw_codec_round_trip():
    """Raw LZW: random bytes (incl. >4096-entry dictionary reset),
    small alphabets (3-bit codes), and repetitive data (real
    compression + the cScSc code==next_code case)."""
    import random

    from opentelemetry_log_collection_spark.multimodal import (
        lzw_decode, lzw_encode,
    )

    rng = random.Random(7)
    big = bytes(rng.randrange(256) for _ in range(30000))
    assert lzw_decode(lzw_encode(big), 8) == big  # crosses dict reset
    small = bytes(rng.randrange(4) for _ in range(5000))
    assert lzw_decode(lzw_encode(small, mcs=2), 2) == small
    rep = b"abcabcabd" * 800
    enc = lzw_encode(rep)
    assert lzw_decode(enc, 8) == rep
    assert len(enc) < len(rep) // 4  # genuinely compresses


def test_gif_decode_real():
    """Every synthetic GIF decodes bit-for-bit to the closed-form
    index+palette statistics (the oracle formula)."""
    from opentelemetry_log_collection_spark.multimodal import (
        decode_gif, gif_dims, gif_index, gif_palette_rgb, synthesize_gif,
    )

    for a in (0, 7, 23, 59):
        d = decode_gif(synthesize_gif(a))
        w, h = gif_dims(a)
        assert (d["width"], d["height"], d["n_pixels"]) == (w, h, w * h)
        sums = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c, v in enumerate(gif_palette_rgb(gif_index(a, x, y))):
                    sums[c] += v
        assert d["mean_r"] == sums[0] / (w * h)
        assert d["mean_g"] == sums[1] / (w * h)
        assert d["mean_b"] == sums[2] / (w * h)
        assert d["corner_sum"] == sum(gif_palette_rgb(gif_index(a, 0, 0)))


def test_gif_decode_rejects_malformed():
    from opentelemetry_log_collection_spark.multimodal import (
        decode_gif, synthesize_gif,
    )

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"BM" + b"\x00" * 32)
    # image descriptor at fixed offset: 13 header + 768 GCT + 8 GCE
    desc = 13 + 768 + 8
    blob = bytearray(synthesize_gif(3))
    assert blob[desc] == 0x2C
    blob[desc + 9] |= 0x40          # set interlace flag
    with pytest.raises(ValueError, match="interlaced"):
        decode_gif(bytes(blob))
    blob2 = bytearray(synthesize_gif(4))
    blob2[desc + 9] |= 0x80         # claim a local color table
    with pytest.raises(ValueError, match="local color"):
        decode_gif(bytes(blob2))
    # truncated LZW stream: cut mid-sub-block — a clean ValueError,
    # never a bare IndexError from the sub-block walk
    blob3 = synthesize_gif(5)
    with pytest.raises(ValueError):
        decode_gif(blob3[: len(blob3) - 40])
    # palette index beyond a small global color table
    blob4 = bytearray(synthesize_gif(6))
    blob4[10] = (blob4[10] & ~0x07) | 0x00  # claim gct_n = 2
    # keep the stream intact: drop the now-extra GCT bytes so offsets
    # still line up (2 entries = 6 bytes instead of 768)
    blob4 = blob4[:13] + blob4[13:19] + blob4[13 + 768:]
    with pytest.raises(ValueError):
        decode_gif(bytes(blob4))


def test_image_features_mixed_four_formats(spark):
    """BMP + PNG + JPEG + GIF in ONE image_features pass, each decoded
    by its own container semantics via the magic-byte dispatch."""
    from opentelemetry_log_collection_spark.multimodal import (
        gif_index, gif_palette_rgb, image_features,
        synthesize_bmp_assets, synthesize_gif_assets,
        synthesize_jpeg_assets, synthesize_png_assets,
    )

    bmp = synthesize_bmp_assets(spark, n=1).withColumn(
        "asset_id", F.col("asset_id") + 100
    )
    png = synthesize_png_assets(spark, n=1).withColumn(
        "asset_id", F.col("asset_id") + 200
    )
    jpg = synthesize_jpeg_assets(spark, n=1).withColumn(
        "asset_id", F.col("asset_id") + 300
    )
    gif = synthesize_gif_assets(spark, n=2)
    out = {r["asset_id"]: r for r in image_features(
        bmp.unionByName(png).unionByName(jpg).unionByName(gif)
    ).collect()}
    assert len(out) == 5
    for a in (0, 1):
        assert out[a]["corner_sum"] == sum(
            gif_palette_rgb(gif_index(a, 0, 0))
        )


@pytest.mark.parametrize("strict", [True, False])
def test_extract_features_decodes_gif(spark, strict):
    """extract_features dispatches images through decode_image, so a
    GIF gets its real decode in both modes, the same vector
    image_features' decoder gives (not a strict-mode error, not the
    digest fake)."""
    import numpy as np

    from opentelemetry_log_collection_spark.multimodal import (
        _image_feature_vector, decode_gif, synthesize_gif_assets,
    )

    gifs = synthesize_gif_assets(spark, n=3)
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in gifs.collect()}
    rows = extract_features(gifs, strict=strict).collect()
    assert sorted(r["asset_id"] for r in rows) == sorted(payloads)
    for r in rows:
        want = _image_feature_vector(decode_gif(payloads[r["asset_id"]]))
        assert r["kind"] == "image"
        assert r["feature"] == [float(np.float32(x)) for x in want]
