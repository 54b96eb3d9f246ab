"""Baseline JPEG encoder for tests — the twin of ext/jpeg.decode_jpeg.

4:4:4 YCbCr, ITU T.81 Annex K quantization and Huffman tables, one
interleaved sequential scan (SOF0). Round-trips exercise the full
marker → Huffman → DCT pipeline; the decoder is additionally checked
against JPEGs produced by other encoders, so a matched pair of
mistakes cannot pass.
"""

from __future__ import annotations

import struct

import numpy as np

from transferdb_spark.ext.jpeg import _A, _ZIGZAG, _build_huffman

# ITU T.81 Annex K.1 — luminance / chrominance quantization tables
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ]
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ]
)

# Annex K.3 — standard Huffman tables: (bits[1..16], values)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _encode_codes(bits, values) -> dict[int, tuple[int, int]]:
    """{value: (code, length)} from the canonical table."""
    inv = {}
    for (length, code), v in _build_huffman(bits, values).items():
        inv[v] = (code, length)
    return inv


def _magnitude(v: int) -> tuple[int, int]:
    """(category t, t-bit code) for EXTEND-compatible encoding."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    code = v if v > 0 else v + (1 << t) - 1
    return t, code


def _coef_blocks(px: np.ndarray) -> list[np.ndarray]:
    """(h, w, 3) uint8 → per-component (bh, bw, 64) int32 quantized DCT
    coefficients in zigzag order (zz[k] = natural index _ZIGZAG[k], the
    inverse of the decoder's deq[_ZIGZAG] scatter)."""
    px = px.astype(np.float64)
    h, w = px.shape[:2]
    r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    qts = [_QT_LUMA.reshape(8, 8), _QT_CHROMA.reshape(8, 8)]
    bh, bw = (h + 7) // 8, (w + 7) // 8
    coefs = []
    for ci, plane in enumerate((y, cb, cr)):
        p = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge") - 128.0
        blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coef = np.einsum("ij,abjk,kl->abil", _A, blocks, _A.T)
        q = np.round(coef / qts[0 if ci == 0 else 1]).astype(np.int32)
        coefs.append(q.reshape(bh, bw, 64)[:, :, _ZIGZAG])
    return coefs


def _segments(h: int, w: int) -> bytes:
    """DQT (natural-order tables serialized in zigzag order), SOF0
    (4:4:4), the four Annex K DHTs and the SOS header."""
    out = bytearray()
    for tid, qtab in ((0, _QT_LUMA), (1, _QT_CHROMA)):
        zz = qtab.reshape(8, 8).flatten()[_ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(
            int(v) for v in zz
        )
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, qid in ((1, 0), (2, 1), (3, 1)):
        out += bytes([cid, 0x11, qid])
    for cls, tid, (bits, vals) in (
        (0, 0, _DC_LUMA),
        (0, 1, _DC_CHROMA),
        (1, 0, _AC_LUMA),
        (1, 1, _AC_CHROMA),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tids in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tids])
    out += b"\x00\x3f\x00"
    return bytes(out)


def encode_jpeg(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → baseline JPEG bytes (4:4:4, Annex K tables)."""
    h, w = px.shape[:2]
    coefs = _coef_blocks(px)
    dc_enc = [_encode_codes(*_DC_LUMA), _encode_codes(*_DC_CHROMA)]
    ac_enc = [_encode_codes(*_AC_LUMA), _encode_codes(*_AC_CHROMA)]

    wtr = _BitWriter()
    pred = [0, 0, 0]
    bh, bw = coefs[0].shape[:2]
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                dc, ac = dc_enc[min(ci, 1)], ac_enc[min(ci, 1)]
                zz = coefs[ci][by, bx]
                t, code = _magnitude(int(zz[0]) - pred[ci])
                pred[ci] = int(zz[0])
                wtr.write(*dc[t])
                wtr.write(code, t)
                run = 0
                last_nz = max([i for i in range(1, 64) if zz[i]] or [0])
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        wtr.write(*ac[0xF0])  # ZRL
                        run -= 16
                    t, code = _magnitude(v)
                    wtr.write(*ac[(run << 4) | t])
                    wtr.write(code, t)
                    run = 0
                if last_nz < 63:
                    wtr.write(*ac[0x00])  # EOB
    wtr.flush()
    return b"\xff\xd8" + _segments(h, w) + bytes(wtr.out) + b"\xff\xd9"
