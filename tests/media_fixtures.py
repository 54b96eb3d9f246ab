"""Deterministic media payloads for tests — encoder twins of the
decoders in ext/multimodal.py, built from numpy and struct only."""

from __future__ import annotations

import struct

import numpy as np

from transferdb_spark.ext.multimodal import MEDIA_SCHEMA


def encode_ppm(px: np.ndarray) -> bytes:
    h, w = px.shape[:2]
    return b"P6 %d %d 255\n" % (w, h) + px.astype(np.uint8).tobytes()


def mulaw_compress(wave: np.ndarray) -> bytes:
    """Float [-1, 1] → G.711 mu-law bytes (twin of _mulaw_expand)."""
    x = np.clip(wave, -1.0, 1.0)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum((np.abs(x) * 32635.0).astype(np.int32) + 0x84, 0x7FFF)
    exp = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    mant = (mag >> (exp + 3)) & 0x0F
    return (((sign | (exp << 4) | mant) ^ 0xFF) & 0xFF).astype(np.uint8).tobytes()


def synthetic_media(spark, n: int = 64, kind: str = "image"):
    """Fake media table of opaque payloads (no external files)."""
    rows = []
    for i in range(n):
        payload = bytes((i * 31 + j * 7) % 256 for j in range(128 + i))
        rows.append((i, kind, payload, ("application/octet-stream", 8, 8, 4000)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synthetic_wav(freq_hz: float = 440.0, ms: int = 250, rate: int = 8000) -> bytes:
    """A real PCM-16 WAV byte string (sine tone)."""
    t = np.arange(int(rate * ms / 1000)) / rate
    pcm = (np.sin(2 * np.pi * freq_hz * t) * 0.5 * 32767).astype("<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm


def synthetic_ppm(w: int = 16, h: int = 12, seed: int = 0) -> bytes:
    """A real P6 PPM byte string with a deterministic gradient."""
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.stack(
        [(xx * 17 + seed) % 256, (yy * 29 + seed) % 256, (xx + yy + seed) % 256], axis=-1
    ).astype(np.uint8)
    return encode_ppm(px)
