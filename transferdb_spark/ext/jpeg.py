"""Baseline JPEG decoder — stdlib + numpy, no imaging library.

Sequential Huffman DCT at 8-bit precision (SOF0/SOF1, ITU T.81 Annex F):
grayscale or YCbCr with 4:4:4 / 4:2:2 / 4:2:0 subsampling and restart
markers. Every other frame type (progressive, 12-bit, lossless,
arithmetic, hierarchical) raises NotImplementedError, which the media
operators quarantine like any other undecodable payload.

The 2-D IDCT runs as two 8×8 matrix products against the orthonormal
DCT-II basis — no per-pixel Python in the transform.
"""

from __future__ import annotations

import struct

import numpy as np

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis matrix A: X = A @ x @ A.T."""
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            a[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_A = _dct_basis()


def _build_huffman(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """{(code_length, code): value} — canonical JPEG code assignment."""
    table: dict[tuple[int, int], int] = {}
    if sum(bits) > len(values):
        raise ValueError("truncated JPEG: DHT values shorter than code counts")
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-unstuffing; stops at markers (restart handling is external)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            # truncated entropy segment — surface as end-of-scan so the
            # decoder's error path runs instead of a raw IndexError
            raise _EndOfScan()
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise _EndOfScan()
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # restart marker: consumed by caller
                raise _RestartMarker(nxt)
            else:
                raise _EndOfScan()
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_after_restart(self) -> None:
        self.acc = 0
        self.nbits = 0
        self.pos += 2  # the 0xFFDn marker


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


class _EndOfScan(Exception):
    pass


def _decode_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t-bit magnitude to signed value."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """bytes → (h, w, 3) uint8 RGB (grayscale replicated).

    Boundary contract for corpus ingestion: arbitrary torn/corrupt
    bytes raise ValueError (or NotImplementedError for unsupported
    frame types), never a raw IndexError/KeyError from header parsing."""
    try:
        return _decode_jpeg(buf)
    except (IndexError, KeyError, struct.error) as exc:
        raise ValueError(f"truncated or corrupt JPEG: {exc!r}") from exc


def _decode_jpeg(buf: bytes) -> np.ndarray:
    if buf[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    while pos < len(buf):
        if buf[pos] != 0xFF:
            pos += 1
            continue
        marker = buf[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", buf, pos + 2)[0]
        seg = buf[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            s = 0
            while s < len(seg):
                prec, tid = seg[s] >> 4, seg[s] & 0x0F
                if prec == 0:
                    qt[tid] = np.frombuffer(seg, np.uint8, 64, s + 1).astype(np.int32)
                    s += 65
                elif prec == 1:  # Pq=1: 16-bit entries (8-bit SOF1 steps > 255)
                    qt[tid] = np.frombuffer(seg, ">u2", 64, s + 1).astype(np.int32)
                    s += 129
                else:
                    raise ValueError(f"invalid DQT precision {prec}")
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                cls, tid = seg[s] >> 4, seg[s] & 0x0F
                bits = list(seg[s + 1 : s + 17])
                n = sum(bits)
                vals = list(seg[s + 17 : s + 17 + n])
                (huff_dc if cls == 0 else huff_ac)[tid] = _build_huffman(bits, vals)
                s += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 sequential Huffman DCT
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision")
            comps = []
            for i in range(nc):
                cid, samp, qid = seg[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "q": qid})
            frame = {"h": h, "w": w, "comps": comps}
        elif (0xC2 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)) or marker == 0xDE:
            # progressive / lossless / arithmetic / differential SOFn, DHP
            raise NotImplementedError(f"unsupported JPEG frame marker 0x{marker:02X}")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for i in range(ns):
                cid, tids = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_sel.append({"id": cid, "dc": tids >> 4, "ac": tids & 0x0F})
            return _decode_scan(
                buf, pos + 2 + seg_len, frame, scan_sel, qt, huff_dc, huff_ac,
                restart_interval,
            )
        pos += 2 + seg_len
    raise ValueError("no scan data found")


def _decode_scan(buf, pos, frame, scan_sel, qt, huff_dc, huff_ac, restart_interval):
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    sel = {s["id"]: s for s in scan_sel}

    planes = []
    for c in comps:
        pw, ph = mcux * 8 * c["h"], mcuy * 8 * c["v"]
        planes.append(np.zeros((ph, pw), dtype=np.float64))

    reader = _BitReader(buf, pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # byte-align and consume the RSTn marker
                try:
                    while True:
                        reader.read_bit()
                except _RestartMarker:
                    reader.align_after_restart()
                    pred = [0] * len(comps)
                except _EndOfScan:
                    # stream ended where a restart marker was required
                    raise ValueError("truncated JPEG: missing restart marker")
            try:
                for ci, c in enumerate(comps):
                    s = sel[c["id"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            block = _decode_block(
                                reader, huff_dc[s["dc"]], huff_ac[s["ac"]]
                            )
                            block[0] += pred[ci]
                            pred[ci] = block[0]
                            deq = np.zeros(64, dtype=np.float64)
                            deq[_ZIGZAG] = block * qt[c["q"]]
                            px = _A.T @ deq.reshape(8, 8) @ _A + 128.0
                            y0 = (my * c["v"] + by) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            except _RestartMarker:
                reader.align_after_restart()
                pred = [0] * len(comps)
            except _EndOfScan:
                # running out of entropy data INSIDE the final MCU is
                # normal (the encoder's byte padding can end exactly at
                # the EOI marker); anywhere earlier the scan is torn —
                # raise rather than return a silently half-black image
                if (my, mx) != (mcuy - 1, mcux - 1):
                    raise ValueError(
                        "truncated JPEG: entropy segment ended at "
                        f"MCU ({my},{mx}) of ({mcuy},{mcux})"
                    )
            mcu_count += 1

    # upsample to full resolution and crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = p.repeat(vmax // c["v"], axis=0).repeat(hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    return _planes_to_rgb(full)


def _planes_to_rgb(full: list[np.ndarray]) -> np.ndarray:
    """Full-resolution component planes → (h, w, 3) uint8 RGB
    (clip, then truncate)."""
    if len(full) == 1:
        rgb = np.stack([full[0]] * 3, axis=2)
    else:
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        rgb = np.stack([r, g, b], axis=2)
    return np.clip(rgb, 0, 255.0).astype(np.uint8)


def _decode_block(reader, dc_table, ac_table) -> np.ndarray:
    out = np.zeros(64, dtype=np.int32)
    t = _decode_huff(reader, dc_table)
    out[0] = _extend(reader.read_bits(t), t) if t else 0
    k = 1
    while k < 64:
        rs = _decode_huff(reader, ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            break
        out[k] = _extend(reader.read_bits(s), s)
        k += 1
    return out
