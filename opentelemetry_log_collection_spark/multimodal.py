"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode/feature-extract/resize/frame-sample as
Arrow-batched UDFs over mapInPandas.

The Spark-side plumbing — schema, batch iteration, partition sizing,
UDF signatures — is real and tested, and all three modalities now
decode FOR REAL with pure-stdlib container parsers:

  - audio: RIFF/WAVE (stdlib ``wave``) + PCM statistics
  - image: BMP/DIB header walk + 24-bit BGR pixel statistics;
    PNG (compressed) via stdlib zlib inflate + scanline unfilter,
    all five color types; baseline JPEG (entropy-coded) via a real
    canonical-Huffman + dequant + IDCT decoder, stdlib + numpy; GIF
    via a real variable-width LZW inflate
  - video: RIFF/AVI chunk-tree demux + uncompressed-DIB frame stats

What stays stubbed is the part that NEEDS external codecs: the
remaining entropy-coded formats (H.264/MP3, progressive/chroma
JPEG). For those, strict mode
raises and non-strict falls back to a deterministic digest fake, so
pipelines over compressed corpora can still be built and validated
end-to-end before a codec library lands.

Scale notes:
  - media bytes stay OPAQUE through shuffles — operators carry
    metadata columns and only mapInPandas stages touch payloads, so
    Tungsten never copies decoded frames between stages.
  - every media operator runs through one payload driver,
    ``_map_payloads``: a per-asset function over each Arrow batch,
    one pandas frame out per batch. Spark bounds the batch, by bytes
    as well as rows: ``spark.sql.execution.arrow.maxBytesPerBatch``
    (64 MiB by default) splits a batch of large payloads before
    ``maxRecordsPerBatch`` rows, so no operator re-batches itself.
  - an image payload has one dispatch, ``decode_image`` (magic
    bytes: BMP, PNG, JPEG, GIF), for ``image_features`` and
    ``extract_features`` alike.
"""

from __future__ import annotations

import hashlib
import io
import wave
import itertools
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical media-asset schema: opaque payload + typed metadata
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),       # image|audio|video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_DIM = 16

_FEATURES_OUT = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

_FRAMES_OUT = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def _map_payloads(
    df: DataFrame,
    kind: str | None,
    per_asset: Callable[[int, str, bytes], list[dict]],
    schema: T.StructType,
) -> DataFrame:
    """The media operators' one payload driver: ``per_asset(asset_id,
    kind, payload)`` returns the asset's output rows as dicts keyed by
    ``schema``'s field names, and each Arrow batch yields one pandas
    frame of them. With ``kind`` set, only assets of that kind are
    read; with None, every asset and its own kind. Spark's Arrow cap
    bounds each batch (module docstring), so the driver holds one
    batch's payloads and rows at a time."""
    names = schema.fieldNames()
    if kind is None:
        df = df.select("asset_id", "kind", "payload")
    else:
        df = df.filter(F.col("kind") == kind).select("asset_id", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # zip over raw columns, not iterrows: per-row pandas
            # iteration is the slowest row-access API
            kinds = pdf["kind"] if kind is None else itertools.repeat(kind)
            rows = [
                row
                for aid, k, payload in zip(pdf["asset_id"], kinds, pdf["payload"])
                for row in per_asset(int(aid), k, bytes(payload))
            ]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)


def _asset_table(
    spark, n: int, kind: str, mime: str, synth: Callable[[int], bytes]
) -> DataFrame:
    """n assets of one kind, payload ``synth(asset_id)``, built
    driver-side at test scale; the 100 TB shape would generate
    per-partition from an id range (spark.range -> mapInPandas over the
    same synth)."""
    blobs = [synth(i) for i in range(n)]
    return spark.createDataFrame(
        [(i, kind, mime, b, len(b), {}) for i, b in enumerate(blobs)],
        ASSET_SCHEMA,
    )


def synthesize_assets(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake asset table (payload = seeded md5 stream),
    for exercising the plumbing without media libraries."""
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        blob = b"".join(
            hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()
            for j in range(4 + i % 5)
        )
        rows.append(
            (i, kind, mimes[kind], blob, len(blob), {"w": str(64 + i % 64)})
        )
    return spark.createDataFrame(rows, ASSET_SCHEMA)


#: synthesized-WAV geometry shared by the generator, the decoder's
#: slice features, and the closed-form oracle: 10 slices x 512 samples
#: (powers of two keep per-slice means exact in float64), 8 kHz mono
#: 16-bit PCM, square wave flipping sign every 8 samples.
WAV_RATE = 8000
WAV_SLICES = 10
WAV_SLICE_LEN = 512
WAV_N = WAV_SLICES * WAV_SLICE_LEN
WAV_FLIP = 8


def wav_amplitude(asset_id: int, slice_idx: int) -> int:
    """Per-slice square-wave amplitude — an integer, so every derived
    statistic (peak, per-slice RMS) is an exact dyadic rational after
    the /32768 normalization and the DuckDB oracle reproduces it
    bit-for-bit from this same formula."""
    return 100 + (asset_id * 7 + slice_idx * 13) % 12000


def synthesize_wav(asset_id: int) -> bytes:
    """A real RIFF/WAVE container (stdlib ``wave``): mono 16-bit PCM,
    amplitude stepping per slice by wav_amplitude."""
    k = np.arange(WAV_N)
    sign = np.where((k // WAV_FLIP) % 2 == 0, 1, -1)
    amp = np.repeat(
        [wav_amplitude(asset_id, j) for j in range(WAV_SLICES)], WAV_SLICE_LEN
    )
    samples = (sign * amp).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode: parse the RIFF/WAVE container, PCM-decode the
    sample stream, return physical statistics. Raises wave.Error /
    ValueError on a malformed container (a parse error, handled by the
    caller's strict/fallback policy).

    Float determinism (the oracle reproduces these bit-for-bit): all
    sample values are int16, so sums of squares stay exact integers in
    float64 (< 2^53); means over power-of-two slice lengths are exact;
    sqrt is correctly rounded IEEE; /32768 is an exact scale."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        width = w.getsampwidth()
        rate = w.getframerate()
        n = w.getnframes()
        raw = w.readframes(n)
    if width != 2:
        raise ValueError(f"unsupported sample width {width}")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    n_samples = len(x)
    sq = x * x
    out = {
        "duration_s": n_samples / float(rate),
        "sample_rate": rate,
        "n_channels": n_channels,
        "n_samples": n_samples,
        "peak": float(np.abs(x).max()) / 32768.0 if n_samples else 0.0,
        "rms": float(np.sqrt(sq.mean())) / 32768.0 if n_samples else 0.0,
    }
    # fixed-count slice RMS profile (the "10-band energy" feature row)
    for j in range(WAV_SLICES):
        s = x[j * (n_samples // WAV_SLICES or 1):(j + 1) * (n_samples // WAV_SLICES or 1)]
        out[f"rms_{j}"] = (
            float(np.sqrt((s * s).mean())) / 32768.0 if len(s) else 0.0
        )
    return out


def _wav_feature_vector(payload: bytes) -> list[float]:
    """FEATURE_DIM floats from a real WAV decode (strict-mode audio)."""
    d = decode_wav(payload)
    return [
        d["duration_s"],
        d["sample_rate"] / 16000.0,
        float(d["n_channels"]),
        d["n_samples"] / 8192.0,
        d["peak"],
        d["rms"],
    ] + [d[f"rms_{j}"] for j in range(WAV_SLICES)]


def _decode_stub(payload: bytes, kind: str, strict: bool) -> list[float]:
    """Decoder dispatch. AUDIO decodes FOR REAL (stdlib wave + PCM
    statistics), IMAGE decodes FOR REAL (decode_image: BMP, PNG, JPEG
    or GIF by magic bytes), VIDEO decodes FOR REAL
    (RIFF/AVI demux + per-frame pixel statistics) — none need
    external libs. A payload that is
    not a valid container for its kind is a parse error in strict
    mode and falls back to the deterministic digest fake otherwise
    (so digest-fake corpora keep exercising the plumbing). The
    remaining compressed codecs (H.264/MP3, non-baseline JPEG) stay
    the declared stub: they need media libraries this environment
    does not ship."""
    if kind == "audio":
        try:
            return _wav_feature_vector(payload)
        except (wave.Error, ValueError, EOFError):
            if strict:
                raise ValueError("malformed WAV payload")
    elif kind == "image":
        try:
            return _image_feature_vector(decode_image(payload))
        except ValueError:
            if strict:
                raise ValueError("malformed/unsupported image payload")
    elif kind == "video":
        try:
            return _avi_feature_vector(payload)
        except ValueError:
            if strict:
                raise ValueError("malformed/unsupported video payload")
    elif strict:
        raise NotImplementedError(
            f"no decoder for kind={kind!r}; compressed codecs require "
            "media libraries not present in this environment"
        )
    d = hashlib.md5(kind.encode() + payload).digest()
    return [b / 255.0 for b in d[:FEATURE_DIM]]


def extract_features(df: DataFrame, strict: bool = False) -> DataFrame:
    """payload -> FEATURE_DIM float vector per asset, any kind."""
    return _map_payloads(
        df,
        None,
        lambda aid, kind, p: [
            {"asset_id": aid, "kind": kind,
             "feature": _decode_stub(p, kind, strict)}
        ],
        _FEATURES_OUT,
    )


def synthesize_wav_assets(spark, n: int = 60) -> DataFrame:
    """n REAL audio assets (valid RIFF/WAVE payloads, ~10 KB each),
    deterministic by asset_id."""
    return _asset_table(spark, n, "audio", "audio/wav", synthesize_wav)


_AUDIO_OUT = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_channels", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
    + [T.StructField(f"rms_{j}", T.DoubleType()) for j in range(WAV_SLICES)]
)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode as a DataFrame op: WAV container parse + PCM
    statistics per audio asset, one flat row each. Malformed payloads
    raise (strict: this op is only for audio corpora)."""
    return _map_payloads(
        df, "audio", lambda aid, _, p: [{**decode_wav(p), "asset_id": aid}],
        _AUDIO_OUT,
    )


# --------------------------------------------------------------------
# REAL image decode: BMP (Windows DIB) container parse + pixel stats
# --------------------------------------------------------------------
# BMP is the one raster format a stdlib-only engine can decode for
# real: fixed little-endian headers (BITMAPFILEHEADER 14 B +
# BITMAPINFOHEADER 40 B), uncompressed 24-bit BGR pixel rows padded to
# 4-byte boundaries, bottom-up row order unless biHeight < 0. The
# synthesized geometry deliberately picks widths whose 3*W is NOT a
# multiple of 4 so the row-padding path is exercised, and the corner
# statistic is row-order-sensitive so a decoder that forgot the
# bottom-up flip fails the oracle.

#: closed-form synthetic-BMP geometry shared by generator, decoder
#: tests, and the DuckDB oracle
def bmp_dims(asset_id: int) -> tuple[int, int]:
    return 15 + (asset_id % 3) * 3, 12 + (asset_id % 5) * 4


def bmp_pixel(asset_id: int, x: int, y: int, c: int) -> int:
    """Channel value at image coords (x right, y DOWN), c: 0=B 1=G 2=R
    — matching BMP's BGR storage order. Integer in [0, 256)."""
    return (asset_id * 7 + x * 5 + y * 3 + c * 11) % 256


def synthesize_bmp(asset_id: int) -> bytes:
    """A real, openable .bmp file: 24-bit uncompressed BGR, bottom-up
    rows, 4-byte row padding."""
    w, h = bmp_dims(asset_id)
    yy, xx, cc = np.ogrid[0:h, 0:w, 0:3]
    px = ((asset_id * 7 + xx * 5 + yy * 3 + cc * 11) % 256).astype(np.uint8)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px.reshape(h, w * 3)
    data = rows[::-1].tobytes()  # positive biHeight => bottom-up storage
    import struct

    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return file_header + info_header + data


def decode_bmp(payload: bytes) -> dict:
    """REAL image decode: parse the BMP container, recover the pixel
    array (padding stripped, bottom-up flipped back to image order),
    return per-channel statistics. Raises ValueError on malformed or
    unsupported input (non-24-bit, compressed).

    Float determinism: channel sums are exact integers (<= 255 * W*H,
    far below 2^53), so the single mean division is the same
    correctly-rounded IEEE float64 in any engine."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP container")
    (bf_off,) = struct.unpack_from("<I", payload, 10)
    bi_size, w, h_raw = struct.unpack_from("<Iii", payload, 14)
    planes, bitcount, compression = struct.unpack_from("<HHI", payload, 26)
    if bi_size < 40 or planes != 1:
        raise ValueError("malformed BITMAPINFOHEADER")
    if bitcount != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: {bitcount}-bit compression={compression}")
    topdown = h_raw < 0
    h = -h_raw if topdown else h_raw
    if w <= 0 or h <= 0:
        raise ValueError("degenerate BMP dimensions")
    stride = (w * 3 + 3) & ~3
    if bf_off + h * stride > len(payload):
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * stride, offset=bf_off
    ).reshape(h, stride)[:, : w * 3]
    px = rows.reshape(h, w, 3)
    if not topdown:
        px = px[::-1]  # back to image order: row 0 = top
    sums = px.astype(np.int64).sum(axis=(0, 1))  # exact int per channel
    n = w * h
    return {
        "width": w,
        "height": h,
        "n_pixels": n,
        "mean_b": float(sums[0]) / n,
        "mean_g": float(sums[1]) / n,
        "mean_r": float(sums[2]) / n,
        "brightness": float(sums.sum()) / (3 * n),
        # row-order-sensitive: the IMAGE top-left pixel lives in the
        # LAST stored row of a bottom-up BMP
        "corner_sum": int(px[0, 0].astype(np.int64).sum()),
    }


def synthesize_bmp_assets(spark, n: int = 60) -> DataFrame:
    """n REAL image assets (valid BMP payloads), deterministic by
    asset_id."""
    return _asset_table(spark, n, "image", "image/bmp", synthesize_bmp)


_IMAGE_OUT = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("brightness", T.DoubleType()),
        T.StructField("corner_sum", T.LongType()),
    ]
)


def resize_bmp(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize: decode the BMP, nearest-neighbor resample to
    (out_w, out_h) with the floor mapping src_x = (x * w) // out_w
    (deterministic, integer-exact — an oracle can replay pixel
    selection in closed form), re-encode as a valid BMP."""
    import struct

    d = decode_bmp(payload)  # validates container
    w, h = d["width"], d["height"]
    (bf_off,) = struct.unpack_from("<I", payload, 10)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * stride, offset=bf_off
    ).reshape(h, stride)[:, : w * 3]
    px = rows.reshape(h, w, 3)
    h_raw = struct.unpack_from("<Iii", payload, 14)[2]
    if h_raw >= 0:
        px = px[::-1]  # to image order
    xs = (np.arange(out_w) * w) // out_w
    ys = (np.arange(out_h) * h) // out_h
    out = px[np.ix_(ys, xs)]
    out_stride = (out_w * 3 + 3) & ~3
    padded = np.zeros((out_h, out_stride), dtype=np.uint8)
    padded[:, : out_w * 3] = out.reshape(out_h, out_w * 3)
    data = padded[::-1].tobytes()  # store bottom-up again
    file_header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return file_header + info_header + data


_RESIZED_OUT = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL image resize as a DataFrame op: each BMP payload decodes,
    nearest-neighbor resamples to (out_w, out_h), and re-encodes —
    emitting a new, valid BMP payload plus the resized dimensions. At
    100 TB this is the canonical map-only stage: no shuffle at all,
    output bytes strictly smaller than input."""
    return _map_payloads(
        df,
        "image",
        lambda aid, _, p: [
            {"asset_id": aid, "width": out_w, "height": out_h,
             "payload": resize_bmp(p, out_w, out_h)}
        ],
        _RESIZED_OUT,
    )


def image_features(df: DataFrame) -> DataFrame:
    """REAL image decode as a DataFrame op: decode_image (BMP, PNG,
    JPEG or GIF by magic bytes) + pixel statistics per image asset, one
    flat row each. Malformed payloads raise (strict: image corpora
    only)."""
    return _map_payloads(
        df, "image", lambda aid, _, p: [{**decode_image(p), "asset_id": aid}],
        _IMAGE_OUT,
    )


# --------------------------------------------------------------------
# REAL compressed image decode: PNG (zlib inflate + scanline unfilter)
# --------------------------------------------------------------------
# PNG is the one COMPRESSED raster format reachable stdlib-only: the
# container is length-prefixed CRC32 chunks, the pixel stream is zlib
# (stdlib), and decompression yields per-scanline filtered bytes that
# a ~40-line unfilter (None/Sub/Up/Average/Paeth, PNG spec §4.5.4)
# recovers exactly. The synthesizer cycles the filter type per row
# (y % 5) so every unfilter branch is exercised by every asset, and
# the oracle reproduces the decoded statistics from the closed-form
# pixel formula — a decoder with any filter branch wrong fails it.
# Baseline JPEG decodes too (next section); H.264/MP3 remain the stub.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_dims(asset_id: int) -> tuple[int, int]:
    return 16 + (asset_id % 4) * 3, 11 + (asset_id % 6) * 2


def png_pixel(asset_id: int, x: int, y: int, c: int) -> int:
    """Channel value at image coords, c: 0=R 1=G 2=B — PNG stores RGB
    (note: BMP's closed form is BGR; the decoders, not the formula,
    own the storage order). Integer in [0, 256)."""
    return (asset_id * 7 + x * 5 + y * 3 + c * 11) % 256


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §4.5.4 filter 4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


#: channels per PNG color type (spec §11.2.2): gray, truecolor,
#: palette-indexed, gray+alpha, truecolor+alpha
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def png_palette_rgb(i: int) -> tuple[int, int, int]:
    """Palette entry i -> RGB, three DISTINCT closed forms so a
    palette-vs-index mixup in the decoder cannot cancel out."""
    return ((i * 3 + 5) % 256, (i * 7 + 11) % 256, (i * 11 + 17) % 256)


def _png_samples(asset_id: int, x: int, y: int, color_type: int) -> tuple:
    """Raw per-pixel samples for the synthesizer, by color type. Gray
    and palette index reuse the c=0 closed form; alpha channels get
    their own c so dropping them is observable."""
    px = png_pixel
    if color_type == 0:
        return (px(asset_id, x, y, 0),)
    if color_type == 2:
        return tuple(px(asset_id, x, y, c) for c in range(3))
    if color_type == 3:
        return (px(asset_id, x, y, 0),)  # palette index
    if color_type == 4:
        return (px(asset_id, x, y, 0), px(asset_id, x, y, 3))  # gray, A
    return tuple(px(asset_id, x, y, c) for c in range(4))  # RGBA


def synthesize_png(asset_id: int, color_type: int = 2) -> bytes:
    """A real, openable .png of any standard 8-bit color type
    (0=gray, 2=truecolor, 3=palette, 4=gray+alpha, 6=RGBA), one IDAT,
    filter type cycling y % 5 so decode exercises every unfilter
    branch at every channel width."""
    import struct
    import zlib

    w, h = png_dims(asset_id)
    bpp = _PNG_CHANNELS[color_type]
    raw = bytearray()
    prior = bytes(w * bpp)
    for y in range(h):
        row = bytes(
            s
            for x in range(w)
            for s in _png_samples(asset_id, x, y, color_type)
        )
        f = y % 5
        raw.append(f)
        for i in range(w * bpp):
            a = row[i - bpp] if i >= bpp else 0
            b = prior[i]
            c = prior[i - bpp] if i >= bpp else 0
            if f == 0:
                filt = row[i]
            elif f == 1:
                filt = (row[i] - a) % 256
            elif f == 2:
                filt = (row[i] - b) % 256
            elif f == 3:
                filt = (row[i] - (a + b) // 2) % 256
            else:
                filt = (row[i] - _paeth(a, b, c)) % 256
            raw.append(filt)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    chunks = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        plte = bytes(
            v for i in range(256) for v in png_palette_rgb(i)
        )
        chunks += _png_chunk(b"PLTE", plte)
    return (
        chunks
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict:
    """REAL compressed image decode: walk the chunk tree (CRC32
    verified), zlib-inflate the concatenated IDAT stream, unfilter
    every scanline (all five PNG filter types), return the same
    per-channel statistics shape as decode_bmp. All five standard
    color types decode (gray replicates to RGB, palette indexes PLTE,
    alpha drops); raises ValueError on malformed containers and on
    bit depth != 8 or interlace. Exact-integer channel sums =>
    bit-for-bit-oracle-able floats, same argument as decode_bmp."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG container")
    pos, ihdr, idat, plte = 8, None, bytearray(), None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(ctype + data):
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_n, comp, filt_m, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if (
        depth != 8
        or ctype_n not in _PNG_CHANNELS
        or (comp, filt_m, interlace) != (0, 0, 0)
    ):
        raise ValueError(
            "unsupported PNG: need 8-bit depth, standard color type, "
            f"no interlace (depth={depth} color={ctype_n} "
            f"interlace={interlace})"
        )
    if ctype_n == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing/malformed PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    if w <= 0 or h <= 0:
        raise ValueError("degenerate PNG dimensions")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG pixel stream: {e}") from e
    bpp = _PNG_CHANNELS[ctype_n]
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel stream length mismatch")
    px = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        if f == 0:
            recon = np.frombuffer(line, dtype=np.uint8).astype(np.int32)
        elif f == 2:  # Up: vectorizable (no intra-row dependency)
            recon = (np.frombuffer(line, dtype=np.uint8) + prior) % 256
        elif f in (1, 3, 4):  # intra-row sequential by definition
            recon = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = int(recon[i - bpp]) if i >= bpp else 0
                b = int(prior[i])
                c = int(prior[i - bpp]) if i >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(a, b, c)
                recon[i] = (line[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        px[y] = recon.astype(np.uint8)
        prior = recon
    # expand every color type to RGB (spec §11.2.2): gray replicates,
    # palette indexes PLTE, alpha channels drop (stats are RGB-only)
    chans = px.reshape(h, w, bpp)
    if ctype_n == 0:
        rgb = np.repeat(chans, 3, axis=2)
    elif ctype_n == 2:
        rgb = chans
    elif ctype_n == 3:
        idx = chans[:, :, 0]
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        rgb = pal[idx]
    elif ctype_n == 4:
        rgb = np.repeat(chans[:, :, :1], 3, axis=2)
    else:  # 6: RGBA
        rgb = chans[:, :, :3]
    sums = rgb.astype(np.int64).sum(axis=(0, 1))  # exact int per channel
    n = w * h
    return {
        "width": int(w),
        "height": int(h),
        "n_pixels": n,
        # same output shape as decode_bmp; PNG stores RGB so the
        # channel mapping inverts relative to BMP's BGR
        "mean_b": float(sums[2]) / n,
        "mean_g": float(sums[1]) / n,
        "mean_r": float(sums[0]) / n,
        "brightness": float(sums.sum()) / (3 * n),
        "corner_sum": int(rgb[0, 0].astype(np.int64).sum()),
    }


def decode_image(payload: bytes) -> dict:
    """Magic-byte dispatch over the image decoders (BMP | PNG | JPEG |
    GIF) — the shared entry point for mixed-format image corpora."""
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload[:4] == b"GIF8":
        return decode_gif(payload)
    raise ValueError(
        "unrecognized image container (need BMP, PNG, JPEG, or GIF)"
    )


def _image_feature_vector(d: dict) -> list[float]:
    """FEATURE_DIM floats from any image-decoder stats dict; shared
    normalization layout across BMP/PNG/JPEG/GIF."""
    v = [
        d["width"] / 64.0,
        d["height"] / 64.0,
        d["n_pixels"] / 4096.0,
        d["mean_b"] / 255.0,
        d["mean_g"] / 255.0,
        d["mean_r"] / 255.0,
        d["brightness"] / 255.0,
        d["corner_sum"] / 765.0,
    ]
    return v + [0.0] * (FEATURE_DIM - len(v))


#: asset_id -> color type for synthesize_png_assets (cycles all five)
PNG_CT_CYCLE = (2, 0, 3, 4, 6)


def synthesize_png_assets(spark, n: int = 60) -> DataFrame:
    """n REAL compressed image assets (valid PNG payloads),
    deterministic by asset_id, color type cycling PNG_CT_CYCLE so a
    corpus exercises every decode branch."""
    return _asset_table(
        spark, n, "image", "image/png",
        lambda i: synthesize_png(i, color_type=PNG_CT_CYCLE[i % 5]),
    )


# --------------------------------------------------------------------
# REAL entropy-coded image decode: baseline JPEG (ITU-T T.81)
# --------------------------------------------------------------------
# JPEG needs no codec library either: the container is marker
# segments, the entropy layer is canonical Huffman over a stuffed
# bitstream, and the transform is an 8x8 DCT — all stdlib + numpy.
# The decoder is FULLY GENERAL for 8-bit baseline grayscale (reads
# DQT/DHT/SOF0 from the file, Huffman-decodes DC diffs + AC run-
# lengths, dequantizes, IDCTs, level-shifts); the encoder exists to
# synthesize real, openable .jpg corpora (standard Annex K tables).
#
# Oracle strategy: DCT quantization is lossy in general, so the
# ORACLE corpus is block-constant images with EVEN sample values —
# there 8*(v-128) is divisible by the DC quantizer (16) and every AC
# is exactly 0, so decode reproduces the source value bit-for-bit and
# the DuckDB oracle is the closed pixel formula with no JPEG math.
# The decoder doesn't know this: the same general Huffman/IDCT path
# runs, and a lossy round-trip unit test (gradient image, nonzero
# ACs) bounds its error against the quantization table.

#: standard luminance quantization table (T.81 Annex K.1), row-major
_JPEG_Q = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

#: standard luminance Huffman tables (T.81 Annex K.3): (BITS, HUFFVAL)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

#: zigzag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (
        rc[0] + rc[1],
        # odd anti-diagonals run top->bottom (row ascending), even
        # ones bottom->top (col ascending) — T.81 Figure A.6
        rc[0] if (rc[0] + rc[1]) % 2 else rc[1],
    ),
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis C: coefs = C @ block @ C.T."""
    c = np.zeros((8, 8))
    for i in range(8):
        for j in range(8):
            c[i, j] = np.cos((2 * j + 1) * i * np.pi / 16.0) * (
                np.sqrt(1.0 / 8) if i == 0 else 0.5
            )
    return c


_DCT_C = _dct_matrix()


def _huff_codes(bits, vals) -> dict:
    """Canonical JPEG Huffman assignment (T.81 C.2): symbol ->
    (code, length)."""
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                    self.buf.append(0x00)
                self.acc, self.nbits = 0, 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc = (self.acc << (8 - self.nbits)) | ((1 << (8 - self.nbits)) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
        return bytes(self.buf)


class _JpegBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1  # skip the stuffed 0x00
            self.acc, self.nbits = b, 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpeg_cat(v: int) -> int:
    """DC/AC magnitude category (SSSS): bit length of |v|."""
    return int(abs(v)).bit_length()


def encode_jpeg_gray(pixels: np.ndarray) -> bytes:
    """A real, openable baseline JPEG (SOI/DQT/SOF0/DHT/SOS/EOI,
    standard Annex K tables) from an (h, w) uint8 grayscale array.
    Edge blocks pad by edge replication."""
    import struct

    h, w = pixels.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    img = np.pad(pixels, ((0, ph - h), (0, pw - w)), mode="edge")
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    prev_dc = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            blk = img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
            coef = _DCT_C @ (blk.astype(np.float64) - 128.0) @ _DCT_C.T
            q = np.floor(coef / _JPEG_Q + 0.5).astype(np.int64)
            zz = [int(q[r, c]) for (r, c) in _ZIGZAG]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            s = _jpeg_cat(diff)
            code, length = dc_codes[s]
            bw.put(code, length)
            if s:
                bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, length = ac_codes[0xF0]  # ZRL
                    bw.put(code, length)
                    run -= 16
                s = _jpeg_cat(zz[k])
                code, length = ac_codes[(run << 4) | s]
                bw.put(code, length)
                v = zz[k]
                bw.put(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if last_nz < 63:
                code, length = ac_codes[0x00]  # EOB
                bw.put(code, length)
    zz_q = bytes(int(_JPEG_Q[r, c]) for (r, c) in _ZIGZAG)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dht(tc_th: int, bits, vals) -> bytes:
        return seg(
            0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals)
        )

    return (
        b"\xff\xd8"  # SOI
        + seg(0xFFDB, b"\x00" + zz_q)  # DQT (zigzag order, table 0)
        + seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
        + dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
        + dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
        + seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
        + bw.flush()
        + b"\xff\xd9"  # EOI
    )


def decode_jpeg(payload: bytes) -> dict:
    """REAL entropy-coded image decode, no codec library: walk the
    marker segments, build the canonical Huffman decoders from the
    file's own DHT, decode DC-diff + AC-run-length coefficients off
    the stuffed bitstream, dequantize with the file's DQT, inverse-DCT
    each block, level-shift, crop — then the same statistics shape as
    decode_bmp (grayscale: the three channel means coincide). Baseline
    8-bit single-component (grayscale) only; progressive, chroma, and
    12-bit raise ValueError (cites T.81 §4.11 baseline limits)."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG container")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tbl: dict[int, dict] = {}
    ac_tbl: dict[int, dict] = {}
    dims = None
    scan = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables not baseline")
                if len(b) < 65:
                    raise ValueError("truncated JPEG DQT")
                qtables[tq] = list(b[1:65])
                b = b[65:]
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or ncomp != 1:
                raise ValueError(
                    "only 8-bit baseline grayscale JPEG is supported "
                    f"(precision={prec}, components={ncomp})"
                )
            dims = (h, w, body[8] & 0x0F)  # + component's quant table id
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("progressive/extended JPEG is not baseline")
        elif marker == 0xC4:  # DHT
            b = body
            while b:
                tc, th = b[0] >> 4, b[0] & 0x0F
                bits = list(b[1:17])
                nvals = sum(bits)
                if len(b) < 17 + nvals:
                    raise ValueError("truncated JPEG DHT")
                vals = list(b[17 : 17 + nvals])
                table = {
                    (length, code): sym
                    for sym, (code, length) in _huff_codes(bits, vals).items()
                }
                (dc_tbl if tc == 0 else ac_tbl)[th] = table
                b = b[17 + nvals :]
        elif marker == 0xDA:  # SOS: entropy data follows to EOI
            td, ta = body[2] >> 4, body[2] & 0x0F
            scan = (payload[pos + 2 + seg_len : payload.rfind(b"\xff\xd9")],
                    td, ta)
            break
        pos += 2 + seg_len
    if dims is None or scan is None or not qtables:
        raise ValueError("JPEG missing SOF0/SOS/DQT")
    h, w, tq = dims
    if h <= 0 or w <= 0:
        raise ValueError("degenerate JPEG dimensions")
    data, td, ta = scan
    if td not in dc_tbl or ta not in ac_tbl or tq not in qtables:
        raise ValueError("JPEG scan references a missing table")
    q2d = np.zeros((8, 8), dtype=np.int64)
    for k, (r, c) in enumerate(_ZIGZAG):
        q2d[r, c] = qtables[tq][k]

    def huff_decode(rd: _JpegBitReader, table: dict) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | rd.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def extend(v: int, s: int) -> int:
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    rd = _JpegBitReader(data)
    ph, pw = -(-h // 8), -(-w // 8)
    out = np.zeros((ph * 8, pw * 8), dtype=np.uint8)
    prev_dc = 0
    for by in range(ph):
        for bx in range(pw):
            zz = np.zeros(64, dtype=np.int64)
            s = huff_decode(rd, dc_tbl[td])
            diff = extend(rd.bits(s), s) if s else 0
            prev_dc += diff
            zz[0] = prev_dc
            k = 1
            while k < 64:
                sym = huff_decode(rd, ac_tbl[ta])
                if sym == 0x00:  # EOB
                    break
                run, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if run != 15:
                        raise ValueError("invalid JPEG AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("JPEG AC index overrun")
                zz[k] = extend(rd.bits(s), s)
                k += 1
            coef = np.zeros((8, 8), dtype=np.float64)
            for k2, (r, c) in enumerate(_ZIGZAG):
                coef[r, c] = zz[k2] * q2d[r, c]
            blk = _DCT_C.T @ coef @ _DCT_C
            out[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
                np.floor(blk + 128.5), 0, 255
            ).astype(np.uint8)
    gray = out[:h, :w]
    tot = int(gray.astype(np.int64).sum())
    n = w * h
    mean = float(tot) / n
    return {
        "width": int(w),
        "height": int(h),
        "n_pixels": n,
        # grayscale: the three channel means coincide (same contract
        # as decode_png's gray color types)
        "mean_b": mean,
        "mean_g": mean,
        "mean_r": mean,
        "brightness": mean,
        "corner_sum": int(gray[0, 0]) * 3,
    }


def jpeg_dims(asset_id: int) -> tuple[int, int]:
    return 16 + (asset_id % 4) * 3, 11 + (asset_id % 6) * 2


def jpeg_block_value(asset_id: int, bx: int, by: int) -> int:
    """Closed-form sample value of the 8x8 block at (bx, by) — EVEN by
    construction, so 8*(v-128) divides the DC quantizer (16) exactly,
    every AC is exactly 0, and baseline decode reproduces v
    bit-for-bit (the lossless-by-construction oracle corpus)."""
    return 2 * ((asset_id * 7 + bx * 29 + by * 53) % 128)


def synthesize_jpeg(asset_id: int) -> bytes:
    w, h = jpeg_dims(asset_id)
    img = np.zeros((h, w), dtype=np.uint8)
    for by in range(-(-h // 8)):
        for bx in range(-(-w // 8)):
            img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (
                jpeg_block_value(asset_id, bx, by)
            )
    return encode_jpeg_gray(img)


def synthesize_jpeg_assets(spark, n: int = 60) -> DataFrame:
    """n REAL entropy-coded image assets (valid baseline JPEGs),
    deterministic by asset_id."""
    return _asset_table(spark, n, "image", "image/jpeg", synthesize_jpeg)


# --------------------------------------------------------------------
# REAL GIF decode: LZW codestream + global color table
# --------------------------------------------------------------------
# GIF87a/89a is the third *compressed* format the engine decodes for
# real, stdlib-only: a full variable-width LZW codec (the same family
# as compress/Unix .Z), 256-entry global color table, sub-block
# framing, extension-block skipping. The synthetic corpus crosses the
# 512-entry dictionary boundary on every asset (525-pixel images over
# a 256-symbol alphabet), so the 9->10-bit code-width transition and
# the cScSc special case (code == next_code) are exercised by the
# oracle, not just by unit tests. Interlaced images and local color
# tables raise ValueError (declared boundary, same discipline as
# non-baseline JPEG).


def gif_dims(asset_id: int) -> tuple[int, int]:
    return 16 + (asset_id % 4) * 3, 11 + (asset_id % 6) * 2


def gif_index(asset_id: int, x: int, y: int) -> int:
    """Closed-form palette index at image coords (x right, y down)."""
    return (asset_id * 7 + x * 5 + y * 3) % 256


def gif_palette_rgb(i: int) -> tuple[int, int, int]:
    """Global-color-table entry i — affine formulas coprime with 256
    so all three channels cycle the full byte range."""
    return (i * 3 + 5) % 256, (i * 7 + 11) % 256, (i * 11 + 17) % 256


class _LzwBitWriter:
    """LSB-first bit packer (GIF appendix F byte order — the OPPOSITE
    of JPEG's MSB-first stream)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def lzw_encode(indices: bytes, mcs: int = 8) -> bytes:
    """Real GIF LZW: variable code width mcs+1..12, clear-code reset
    at dictionary overflow, width bump synchronized with the decoder's
    (next_code == 1<<width) rule."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    wr = _LzwBitWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, end + 1, mcs + 1

    table, next_code, width = reset()
    wr.put(clear, width)
    w = b""
    for c in indices:
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        wr.put(table[w], width)
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            # the encoder's next_code runs ONE ahead of the decoder's
            # (the decoder adds its entry for a code only after
            # reading it), so the width bump fires at (1<<width)+1
            # here to align with the decoder's (1<<width) rule
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            wr.put(clear, width)
            table, next_code, width = reset()
        w = bytes([c])
    if w:
        wr.put(table[w], width)
    wr.put(end, width)
    return wr.flush()


def lzw_decode(data: bytes, mcs: int) -> bytes:
    """General GIF LZW decoder: handles clear/end codes, the
    code == next_code (cScSc) case, and 12-bit width cap."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    table: list[bytes] = []
    next_code = width = 0
    prev: bytes | None = None

    def reset():
        nonlocal table, next_code, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        next_code, width, prev = end + 1, mcs + 1, None

    reset()
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended without end code")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("first LZW code not a literal")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the cScSc pattern
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry


def synthesize_gif(asset_id: int) -> bytes:
    """A real, openable .gif: GIF89a header, 256-entry global color
    table, a graphic-control extension (exercises the decoder's
    extension-skip path), one non-interlaced LZW-compressed image."""
    import struct

    w, h = gif_dims(asset_id)
    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 8 bits/channel, 2^8 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):
        out += bytes(gif_palette_rgb(i))
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE, no transparency
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # descriptor
    idx = bytes(gif_index(asset_id, x, y) for y in range(h) for x in range(w))
    stream = lzw_encode(idx, mcs=8)
    out += b"\x08"  # LZW minimum code size
    for i in range(0, len(stream), 255):
        block = stream[i : i + 255]
        out += bytes([len(block)]) + block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> dict:
    """REAL compressed image decode: parse the GIF container, inflate
    the LZW codestream, map indices through the global color table,
    return the same per-channel statistics dict as decode_bmp (exact
    integer sums; the mean divisions are correctly-rounded IEEE
    float64 in any engine). Raises ValueError on malformed input,
    interlaced images, or local color tables (declared boundary)."""
    import struct

    def need(p: int, n: int = 1) -> None:
        # truncation raises the documented ValueError, never a bare
        # IndexError from payload[p] mid-walk
        if p + n > len(payload):
            raise ValueError("truncated GIF payload")

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF container")
    need(6, 7)
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    gct_n = 2 << (packed & 0x07)
    need(pos, 3 * gct_n)
    gct = payload[pos : pos + 3 * gct_n]
    pos += 3 * gct_n
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            raise ValueError("GIF trailer before any image block")
        if b0 == 0x21:  # extension: label + sub-blocks until 0
            pos += 1
            need(pos)
            while payload[pos]:
                pos += 1 + payload[pos]
                need(pos)
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02x}")
        need(pos, 9)
        _lx, _ty, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if ipacked & 0x80:
            raise ValueError("local color tables unsupported")
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        need(pos)
        mcs = payload[pos]
        pos += 1
        stream = bytearray()
        need(pos)
        while payload[pos]:
            n = payload[pos]
            need(pos + 1, n)
            stream += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
            need(pos)
        idx = np.frombuffer(lzw_decode(bytes(stream), mcs), dtype=np.uint8)
        if idx.size != w * h:
            raise ValueError(
                f"LZW decoded {idx.size} pixels for a {w}x{h} image"
            )
        if gct_n < 256 and idx.size and int(idx.max()) >= gct_n:
            raise ValueError("palette index outside the global color table")
        pal = np.frombuffer(gct, dtype=np.uint8).reshape(gct_n, 3)
        px = pal[idx]  # (w*h, 3) RGB rows in image order
        sums = px.astype(np.int64).sum(axis=0)  # exact int per channel
        n = w * h
        return {
            "width": w,
            "height": h,
            "n_pixels": n,
            "mean_b": float(sums[2]) / n,
            "mean_g": float(sums[1]) / n,
            "mean_r": float(sums[0]) / n,
            "brightness": float(sums.sum()) / (3 * n),
            "corner_sum": int(px[0].astype(np.int64).sum()),
        }
    raise ValueError("GIF ended without an image block")


def synthesize_gif_assets(spark, n: int = 60) -> DataFrame:
    """n REAL LZW-compressed image assets (valid GIF payloads),
    deterministic by asset_id."""
    return _asset_table(spark, n, "image", "image/gif", synthesize_gif)


# --------------------------------------------------------------------
# REAL video decode: RIFF/AVI container demux + per-frame pixel stats
# --------------------------------------------------------------------
# AVI is RIFF (same container family the stdlib-decoded WAV uses):
# RIFF('AVI ') -> LIST('hdrl'){ 'avih', LIST('strl'){'strh','strf'} }
# -> LIST('movi'){ '00db' raw-DIB frames } -> 'idx1'. With the video
# stream stored as uncompressed DIB ('DIB ' handler, 24-bit BGR
# bottom-up rows — the same pixel layout decode_bmp parses), the full
# demux is pure struct walking: no codec needed. Compressed streams
# (H.264 etc.) raise ValueError and stay behind the declared stub.

def avi_dims(asset_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames) of the synthetic AVI, closed form."""
    return 15 + (asset_id % 3) * 3, 8 + (asset_id % 4) * 2, 6 + (asset_id % 5)


def avi_pixel(asset_id: int, frame: int, x: int, y: int, c: int) -> int:
    """Channel value at frame f, image coords (x right, y down),
    c: 0=B 1=G 2=R."""
    return (asset_id * 7 + frame * 17 + x * 5 + y * 3 + c * 11) % 256


def _riff_chunk(fourcc: bytes, payload: bytes) -> bytes:
    import struct

    out = struct.pack("<4sI", fourcc, len(payload)) + payload
    if len(payload) & 1:
        out += b"\x00"  # RIFF chunks are word-aligned
    return out


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def _dib_frame(asset_id: int, frame: int) -> bytes:
    """One raw-DIB frame: bottom-up BGR rows, 4-byte row padding —
    exactly a BMP pixel array without the file headers."""
    w, h, _ = avi_dims(asset_id)
    yy, xx, cc = np.ogrid[0:h, 0:w, 0:3]
    px = (
        (asset_id * 7 + frame * 17 + xx * 5 + yy * 3 + cc * 11) % 256
    ).astype(np.uint8)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px.reshape(h, w * 3)
    return rows[::-1].tobytes()


def synthesize_avi(asset_id: int) -> bytes:
    """A real, openable .avi file: one uncompressed-DIB video stream,
    n_frames 24-bit BGR frames, proper hdrl/movi/idx1 structure."""
    import struct

    w, h, n_frames = avi_dims(asset_id)
    frames = [_dib_frame(asset_id, f) for f in range(n_frames)]
    frame_size = len(frames[0])

    avih = struct.pack(
        "<IIIIIIIIII4I",
        100_000,            # dwMicroSecPerFrame (10 fps)
        frame_size * 10,    # dwMaxBytesPerSec
        0,                  # dwPaddingGranularity
        0x10,               # dwFlags: AVIF_HASINDEX
        n_frames, 0, 1,     # dwTotalFrames, dwInitialFrames, dwStreams
        frame_size, w, h,   # dwSuggestedBufferSize, dwWidth, dwHeight
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, 10,              # dwScale / dwRate = 10 fps
        0, n_frames, frame_size, 0, 0,
        0, 0, w, h,         # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi_payload = b"".join(_riff_chunk(b"00db", fr) for fr in frames)
    movi = _riff_list(b"movi", movi_payload)
    # idx1: one entry per frame (fourcc, flags, offset-into-movi, size)
    off = 4  # offsets are relative to the start of the 'movi' list type
    entries = []
    for fr in frames:
        entries.append(struct.pack("<4sIII", b"00db", 0x10, off, len(fr)))
        off += 8 + len(fr) + (len(fr) & 1)
    idx1 = _riff_chunk(b"idx1", b"".join(entries))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def demux_avi(payload: bytes) -> tuple[dict, list[bytes]]:
    """REAL video demux: walk the RIFF chunk tree, parse the avih
    header, collect the movi stream's video frames. Returns
    (meta, frames) where meta has width/height/n_frames/usec_per_frame
    and frames are the raw DIB payloads in stream order. Raises
    ValueError on malformed containers or compressed ('##dc') streams.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    meta: dict = {}
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, in_movi: bool) -> None:
        while pos + 8 <= end:
            fourcc, size = struct.unpack_from("<4sI", buf, pos)
            body_start = pos + 8
            body_end = body_start + size
            if body_end > end:
                raise ValueError("truncated RIFF chunk")
            if fourcc == b"LIST":
                list_type = buf[body_start : body_start + 4]
                walk(buf, body_start + 4, body_end, list_type == b"movi")
            elif fourcc == b"avih":
                if size < 40:
                    raise ValueError("short avih header")
                vals = struct.unpack_from("<10I", buf, body_start)
                meta.update(
                    usec_per_frame=vals[0],
                    n_frames=vals[4],
                    width=vals[8],
                    height=vals[9],
                )
            elif in_movi and fourcc[2:] == b"dc":
                raise ValueError("compressed video stream: no codec available")
            elif in_movi and fourcc[2:] == b"db":
                frames.append(buf[body_start:body_end])
            pos = body_end + (size & 1)

    walk(payload, 12, len(payload), False)
    if not meta:
        raise ValueError("AVI missing avih header")
    if meta["n_frames"] != len(frames):
        raise ValueError(
            f"avih declares {meta['n_frames']} frames, movi has {len(frames)}"
        )
    return meta, frames


def _dib_stats(frame: bytes, w: int, h: int) -> dict:
    """Pixel statistics of one raw-DIB frame (bottom-up BGR, padded
    rows) — the same exact-integer-sum discipline as decode_bmp."""
    stride = (w * 3 + 3) & ~3
    if h * stride > len(frame):
        raise ValueError("truncated DIB frame")
    px = np.frombuffer(frame, dtype=np.uint8, count=h * stride).reshape(
        h, stride
    )[:, : w * 3].reshape(h, w, 3)[::-1]
    sums = px.astype(np.int64).sum(axis=(0, 1))
    n = w * h
    return {
        "mean_b": float(sums[0]) / n,
        "mean_g": float(sums[1]) / n,
        "mean_r": float(sums[2]) / n,
        "brightness": float(sums.sum()) / (3 * n),
        "corner_sum": int(px[0, 0].astype(np.int64).sum()),
    }


def _avi_feature_vector(payload: bytes) -> list[float]:
    """FEATURE_DIM floats from a real AVI demux (strict-mode video)."""
    meta, frames = demux_avi(payload)
    first = _dib_stats(frames[0], meta["width"], meta["height"])
    last = _dib_stats(frames[-1], meta["width"], meta["height"])
    v = [
        meta["width"] / 64.0,
        meta["height"] / 64.0,
        meta["n_frames"] / 32.0,
        meta["usec_per_frame"] / 1e6,
        first["brightness"] / 255.0,
        first["corner_sum"] / 765.0,
        last["brightness"] / 255.0,
        last["corner_sum"] / 765.0,
    ]
    return v + [0.0] * (FEATURE_DIM - len(v))


def synthesize_avi_assets(spark, n: int = 40) -> DataFrame:
    """n REAL video assets (valid RIFF/AVI payloads), deterministic by
    asset_id."""
    return _asset_table(spark, n, "video", "video/x-msvideo", synthesize_avi)


_VIDEO_OUT = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("brightness", T.DoubleType()),
        T.StructField("corner_sum", T.LongType()),
    ]
)


def video_frame_stats(
    df: DataFrame, stride: int = 2, max_frames: int = 8
) -> DataFrame:
    """REAL video decode as a DataFrame op: demux the AVI container,
    sample every ``stride``-th frame (up to ``max_frames``), emit
    per-frame pixel statistics — one input row fans out to many
    output rows inside mapInPandas, payload bytes never cross a
    shuffle. Malformed/compressed payloads raise."""

    def frame_rows(aid: int, _, payload: bytes) -> list[dict]:
        meta, frames = demux_avi(payload)
        w, h = meta["width"], meta["height"]
        return [
            {**_dib_stats(frames[f], w, h), "asset_id": aid, "frame_idx": f,
             "width": w, "height": h}
            for f in range(0, len(frames), stride)[:max_frames]
        ]

    return _map_payloads(df, "video", frame_rows, _VIDEO_OUT)


def sample_frames(
    df: DataFrame, every_n_bytes: int = 16, max_frames: int = 8,
    strict: bool = False,
) -> DataFrame:
    """Frame sampling for video assets: a RIFF/AVI payload demuxes FOR
    REAL (demux_avi) and emits its actual frames; any other payload
    falls back to the pseudo-frame slicer (plumbing mode) unless
    strict, where a non-AVI payload is a parse error. One input row ->
    many output rows via mapInPandas, payloads never cross a shuffle.
    """

    def frames_of(payload: bytes) -> list[bytes]:
        if payload[:4] == b"RIFF":
            try:
                return demux_avi(payload)[1][:max_frames]
            except ValueError:
                # RIFF but not decodable (compressed stream, RIFF/WAVE,
                # truncated): strict surfaces it, non-strict falls back
                # like any other payload
                if strict:
                    raise
        if strict:
            raise ValueError("not an AVI container; no codec available")
        return [
            payload[k * every_n_bytes:(k + 1) * every_n_bytes]
            for k in range(min(max_frames, len(payload) // every_n_bytes))
        ]

    return _map_payloads(
        df,
        "video",
        lambda aid, _, p: [
            {"asset_id": aid, "frame_idx": k, "frame": fr}
            for k, fr in enumerate(frames_of(p))
        ],
        _FRAMES_OUT,
    )
