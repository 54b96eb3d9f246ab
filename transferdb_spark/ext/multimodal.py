"""Multimodal column plumbing (north-star extension).

Images/audio/video ride as opaque `binary` columns with a typed
metadata struct. The Spark-side machinery — schema, Arrow-batched
`mapInPandas`, partition sizing — is real and tested, and so is the
codec work for the formats decodable with the stdlib + numpy:

- **WAV (PCM and G.711 mu-law)** audio: RIFF parse → waveform → real
  DSP features (RMS, zero-crossing rate, FFT band energies via
  numpy.fft).
- **PPM (P6)**, **BMP (24-bit BI_RGB)** and **baseline JPEG**
  (ext/jpeg.py) images: header parse → (h, w, 3) pixel array →
  channel stats / luminance histogram / dHash near-dup.

Every other format raises NotImplementedError from the same dispatch
point (`decode_image` / `decode_wav`), and the operators quarantine
it (`image_phashes` gives NULL), so wiring a full codec library in
production replaces one function.

Scale design: media bytes never pass through Python row-at-a-time —
`mapInPandas` streams Arrow record batches; partition counts follow
bytes (spark.sql.files.maxPartitionBytes), not row counts.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


# ---------------------------------------------------------------------------
# real decoders (stdlib + numpy only)


def decode_image(content: bytes) -> np.ndarray:
    """bytes → (h, w, 3) uint8 pixel array.

    Real decode for PPM (P6), uncompressed 24-bit BMP and baseline
    JPEG; other formats raise NotImplementedError — swap in Pillow here
    in production deployments."""
    if content[:2] == b"P6":
        return _decode_ppm(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:2] == b"\xff\xd8":
        from transferdb_spark.ext.jpeg import decode_jpeg

        return decode_jpeg(content)
    raise NotImplementedError(f"unrecognized image format: {content[:4]!r}")


def _decode_ppm(buf: bytes) -> np.ndarray:
    # P6 <ws> width <ws> height <ws> maxval <single ws> raw RGB
    parts, pos = [], 2
    while len(parts) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":  # comment line
            pos = buf.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        parts.append(int(buf[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = parts
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    return np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=pos).reshape(h, w, 3)


def _decode_bmp(buf: bytes) -> np.ndarray:
    # BITMAPFILEHEADER (14B) + BITMAPINFOHEADER: uncompressed 24bpp only
    data_off = struct.unpack_from("<I", buf, 10)[0]
    w, h_signed = struct.unpack_from("<ii", buf, 18)
    bpp, compression = struct.unpack_from("<HI", buf, 28)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP variant bpp={bpp} compression={compression}")
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=data_off)
    px = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR→RGB
    if h_signed > 0:  # bottom-up storage
        px = px[::-1]
    return np.ascontiguousarray(px)


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """bytes → (mono float32 waveform in [-1, 1], sample_rate).

    PCM 8/16-bit RIFF/WAVE parse with stdlib struct — no audio library
    needed. Compressed formats raise NotImplementedError."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(f"unrecognized audio container: {content[:4]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack_from("<I", content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt == 7:  # G.711 mu-law (telephony corpora ship this)
        wave = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
        if n_ch > 1:
            wave = wave[: len(wave) - len(wave) % n_ch].reshape(-1, n_ch).mean(axis=1)
        return wave, rate
    if audio_fmt != 1:
        raise NotImplementedError(f"non-PCM WAV (format tag {audio_fmt})")
    if bits == 16:
        wave = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif bits == 8:
        wave = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    if n_ch > 1:
        wave = wave[: len(wave) - len(wave) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return wave, rate


def _mulaw_expand(u: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte → float32 in [-1, 1] (vectorized ITU decode:
    complement, split sign/exponent/mantissa, rebias by 33)."""
    u = (~u) & 0xFF
    sign = np.where(u & 0x80, -1.0, 1.0)
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = ((mant.astype(np.int32) << 3) + 0x84 << exp) - 0x84
    return (sign * mag / 32635.0).astype(np.float32)


# ---------------------------------------------------------------------------
# feature kernels (bytes → R^FEATURE_DIM)


def image_features(px: np.ndarray) -> list[float]:
    """Channel means/stds + aspect + 8-bin luminance histogram = R^16."""
    h, w = px.shape[:2]
    f = px.astype(np.float32)
    lum = f @ np.array([0.299, 0.587, 0.114], dtype=np.float32)
    hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
    out = [
        *(f[:, :, c].mean() / 255.0 for c in range(3)),
        *(f[:, :, c].std() / 255.0 for c in range(3)),
        w / max(h, 1),
        *(hist / max(lum.size, 1)),
    ]
    return [float(v) for v in out] + [0.0] * (FEATURE_DIM - 15)


def audio_features(wave: np.ndarray, rate: int) -> list[float]:
    """Duration, RMS, peak, zero-crossing rate + 12 FFT band energies."""
    if wave.size == 0:
        return [0.0] * FEATURE_DIM
    rms = float(np.sqrt(np.mean(wave**2)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(wave).astype(np.int8)))))
    spec = np.abs(np.fft.rfft(wave.astype(np.float64)))
    bands = np.array_split(spec, 12)
    e = np.array([float(np.mean(b**2)) for b in bands])
    e = e / (e.sum() + 1e-12)
    return [
        wave.size / rate,
        rms,
        float(np.max(np.abs(wave))),
        zcr,
        *[float(v) for v in e],
    ]


def _fake_features(buf: bytes | bytearray | None) -> list[float]:
    """Deterministic stand-in feature map (bytes → R^16) for the
    oracle-facing query — reproducible across runs/engines, no codec
    dependence. Real decode paths are above."""
    if not buf:
        return [0.0] * FEATURE_DIM
    acc = [0] * FEATURE_DIM
    for i, b in enumerate(buf):
        acc[i % FEATURE_DIM] = (acc[i % FEATURE_DIM] + b * (1 + i % 7)) % 1000003
    return [a / 1000003.0 for a in acc]


# ---------------------------------------------------------------------------
# Spark operators (Arrow-batched, never row-at-a-time)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    fake=True keeps the deterministic byte-fold (engine-stable, used by
    the declared query); fake=False runs the REAL decoders — WAV → DSP
    features, PPM/BMP/JPEG → image stats — and still raises loudly on
    unsupported formats."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for kind, c in zip(pdf["kind"], pdf["content"]):
                if fake:
                    feats.append(_fake_features(c))
                elif c is None:
                    feats.append([0.0] * FEATURE_DIM)
                elif kind == "audio":
                    feats.append(audio_features(*decode_wav(bytes(c))))
                else:
                    feats.append(image_features(decode_image(bytes(c))))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual-hash image near-dup — the multimodal member of the dedup
# family: re-encodes, resizes, and mild edits survive a dHash, so
# byte-level digests miss exactly the duplicates this catches.


def dhash64(px: np.ndarray) -> int:
    """64-bit difference hash (dHash, public algorithm): luminance →
    nearest-neighbour 9×8 grid → horizontal gradient signs, packed
    row-major MSB-first. Returned as a SIGNED 64-bit value so it lands
    in a Spark LongType column unchanged."""
    f = px.astype(np.float64)
    lum = f @ np.array([0.299, 0.587, 0.114]) if f.ndim == 3 else f
    h, w = lum.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    g = lum[np.ix_(ys, xs)]
    bits = (g[:, 1:] > g[:, :-1]).astype(np.uint8).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def image_phashes(media: DataFrame) -> DataFrame:
    """(media_id, phash) via Arrow batches; undecodable payloads hash
    to NULL (the quarantine stance — a mixed corpus must not abort).

    spread_narrow first (round-9, guide §2.5/§4): the Python image
    decode is the expensive per-row stage and otherwise runs on
    however few partitions the scan produced (one for the
    single-row-group sf fixtures); a no-op whenever the scan already
    has enough splits, i.e. always at real scale."""
    from transferdb_spark.ext.text import spread_narrow

    media = spread_narrow(media)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for c in pdf["content"]:
                try:
                    out.append(dhash64(decode_image(bytes(c))))
                except Exception:  # noqa: BLE001 — quarantine undecodable
                    out.append(None)
            yield pd.DataFrame({"media_id": pdf["media_id"], "phash": out})

    return media.mapInPandas(run, schema=_PHASH_SCHEMA)


PHASH_BANDS = 8  # 8 bands × 8 bits: hamming ≤ 7 GUARANTEES a clean band


def phash_neardup_pairs(media: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate image pairs by banded-Hamming LSH over dHash:
    (media_a, media_b, hamming) for pairs within ``max_hamming`` bits.

    Scale: never all-pairs — candidates come from equality on one of
    PHASH_BANDS 8-bit bands (pigeonhole: hamming ≤ PHASH_BANDS−1
    implies some band matches, so recall is exact for max_hamming ≤ 7);
    the verify step is one JVM-side xor+bit_count. The shuffle carries
    (band, 8-bit value) keys — fan-out per bucket is bounded by the
    corpus's per-band collision count, the same posting-list bound the
    MinHash band join relies on."""
    if max_hamming >= PHASH_BANDS:
        raise ValueError(f"banded guarantee only holds below {PHASH_BANDS}")
    # persist: the banded self-join's broadcast side cannot reuse the
    # other side's stages, so without the cache the Python image
    # decode ran once per side (round 9)
    hashes = image_phashes(media).where(F.col("phash").isNotNull()).persist()
    bands = (
        f"transform(sequence(0, {PHASH_BANDS - 1}), "
        f"b -> named_struct('band', b, 'v', shiftright(phash, b * 8) & 255))"
    )
    keyed = hashes.select(
        "media_id", "phash", F.explode(F.expr(bands)).alias("bk")
    ).select("media_id", "phash", F.col("bk.band").alias("band"), F.col("bk.v").alias("v"))
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.expr("bit_count(a.phash ^ b.phash)")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            ham.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("media_a", "media_b")
    )
