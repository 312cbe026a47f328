"""Minimal baseline JPEG codec (numpy + stdlib), for the MJPEG seam.

The multimodal operators treat compressed frames as "decode via
:func:`get_image_decoder`" — PIL when importable. This container (and
the driver's) ships no PIL, which previously made MJPEG AVI — the most
common real-world AVI flavor — raise ``NotImplementedError``. Same move
as the stdlib PNG-inflate and PCM16-WAV decoders one module over: the
format's baseline profile is small enough to implement from the public
spec (ITU-T T.81), so the plumbing can be REAL and oracle-tested here,
and a libjpeg-turbo/PIL integration remains a drop-in replacement at the
exact same function seam.

Scope (honest, checked):

- **Encoder**: baseline sequential DCT, 8-bit, 4:4:4 (no chroma
  subsampling), standard Annex K quantization tables scaled by the
  libjpeg quality formula, standard Annex K Huffman tables, JFIF APP0.
  Deterministic: same pixels + quality -> same bytes, on every platform
  (the synth-corpus builders rely on this; PIL presence must never
  change fixture payloads).
- **Decoder**: baseline sequential DCT (SOF0), 8-bit, 1 or 3
  components, sampling factors where each component's factor divides
  the maximum (covers 4:4:4, 4:2:2, 4:2:0, 4:1:1 — everything common
  encoders emit; nearest-neighbor chroma upsample), restart markers,
  byte stuffing. Progressive (SOF2), arithmetic coding, and exotic
  non-divisor sampling (e.g. 3:2) raise ``NotImplementedError``
  naming what was hit.

Entropy coding is bit-serial Python — right for the small synthetic
frames the suite decodes and for correctness pinning, wrong as the
100 TB hot path. Measured (the retired ``mjpeg_decode_probe``, last
numbers in OPTIMIZATION_r14.md "Retired probes"): ~150-250
frames/sec per core at 64x64 and ~5-9 frames/sec per core at 256x256 —
so on a 32-core executor the fallback sustains roughly 160-290 fps of
256px video, fine for fixture-scale corpora but ~100-1000x below
libjpeg-turbo. Past a few thousand 256px frames per core per job,
install PIL/libjpeg-turbo: ``get_jpeg_decoder`` picks it up without any
plan change (the mapInPandas seam, batching, and schema are identical).

Round-trip accuracy is pinned in tests (encoder->decoder error within
quantization bounds) plus a PIL cross-check that runs wherever PIL
exists.
"""

from __future__ import annotations

import struct

import numpy as np

# --- Annex K tables ---------------------------------------------------------

QUANT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

QUANT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# (BITS counts per code length 1..16, HUFFVAL) — T.81 Annex K.3
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal 8-point DCT-II matrix: forward F = D @ f @ D.T
_DCT = np.array([
    [
        (np.sqrt(1 / 8) if k == 0 else 0.5)
        * np.cos((2 * n + 1) * k * np.pi / 16)
        for n in range(8)
    ]
    for k in range(8)
])


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 -> per-entry divisors in 1..255."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be in 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: value -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: (length, code) -> value."""
    out: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            # T.81 F.1.2.3: fill the final byte with 1-bits (0x7F's low
            # bits are all 1s, so any <=7-bit slice of it is all-ones)
            self.write(0x7F, 8 - self._n)
        # (write() drained everything to whole bytes)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG category coding: value -> (size, code bits)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def encode_jpeg_baseline(rgb: np.ndarray, quality: int = 90) -> bytes:
    """Encode an HxWx3 uint8 RGB array (or HxW grayscale) as a baseline
    JFIF JPEG, 4:4:4, standard Huffman tables. Deterministic across
    platforms (integer quant tables, fixed rounding)."""
    px = np.asarray(rgb)
    gray = px.ndim == 2
    if gray:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise ValueError(f"expected HxWx3 RGB or HxW gray, got {px.shape}")
    h, w, ncomp = px.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    px = px.astype(np.float64)
    if ncomp == 3:
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        comps = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    else:
        comps = [px[..., 0]]
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    quants = [ql] + [qc] * (ncomp - 1)

    # pad to 8x8 multiples with edge replication
    ph, pw = -h % 8, -w % 8
    comps = [np.pad(c, ((0, ph), (0, pw)), mode="edge") for c in comps]
    bh, bw = (h + ph) // 8, (w + pw) // 8

    dc_codes = [_build_codes(DC_LUMA_BITS, DC_LUMA_VALS),
                _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_codes = [_build_codes(AC_LUMA_BITS, AC_LUMA_VALS),
                _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]

    bw_writer = _BitWriter()
    dc_pred = [0] * ncomp
    for by in range(bh):
        for bx in range(bw):
            for ci in range(ncomp):  # 4:4:4 -> one block per comp per MCU
                tsel = 0 if ci == 0 else 1
                block = comps[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                coef = _DCT @ block @ _DCT.T
                # round half away from zero (matches libjpeg's DESCALE)
                qz = coef / quants[ci]
                qv = np.sign(qz) * np.floor(np.abs(qz) + 0.5)
                zz = qv.astype(np.int64).reshape(64)[ZIGZAG]
                diff = int(zz[0]) - dc_pred[ci]
                dc_pred[ci] = int(zz[0])
                s, bits_v = _magnitude(diff)
                code, ln = dc_codes[tsel][s]
                bw_writer.write(code, ln)
                if s:
                    bw_writer.write(bits_v, s)
                run = 0
                last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
                for i in range(1, 64):
                    v = int(zz[i])
                    if v == 0:
                        if i > last_nz:
                            code, ln = ac_codes[tsel][0x00]  # EOB
                            bw_writer.write(code, ln)
                            break
                        run += 1
                        if run == 16:
                            code, ln = ac_codes[tsel][0xF0]  # ZRL
                            bw_writer.write(code, ln)
                            run = 0
                        continue
                    s, bits_v = _magnitude(v)
                    code, ln = ac_codes[tsel][(run << 4) | s]
                    bw_writer.write(code, ln)
                    bw_writer.write(bits_v, s)
                    run = 0
    bw_writer.flush()

    def marker(tag: int, payload: bytes) -> bytes:
        return struct.pack(">HH", tag, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")  # SOI
    out += marker(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += marker(0xFFDB, bytes([0x00]) + bytes(ql.reshape(64)[ZIGZAG].astype(np.uint8)))
    if ncomp == 3:
        out += marker(0xFFDB, bytes([0x01]) + bytes(qc.reshape(64)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += marker(0xFFC0, sof)
    for cls, tid, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        if ncomp == 1 and tid == 1:
            continue
        out += marker(
            0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
        )
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += marker(0xFFDA, sos)
    out += bw_writer.out
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_and_consume_rst(self) -> None:
        self._acc = 0
        self._n = 0
        if (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, byte: int) -> None:
        self.byte = byte


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.bit()
        length += 1
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in scan data")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_baseline(data: bytes) -> np.ndarray:
    """Decode a baseline sequential JPEG to an HxWx3 uint8 RGB array
    (grayscale decodes replicate to 3 channels, matching the image
    decoders' contract one module over). Progressive/arithmetic inputs
    raise ``NotImplementedError`` naming the marker."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        tag = data[pos + 1]
        if tag in (0xD8, 0x01) or 0xD0 <= tag <= 0xD7:
            pos += 2
            continue
        if tag == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        if tag == 0xDB:  # DQT (possibly several tables per segment)
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 0xF
                n = 64 * (2 if pq else 1)
                raw = b[1:1 + n]
                vals = (
                    np.frombuffer(raw, dtype=">u2" if pq else np.uint8)
                    .astype(np.int32)
                )
                t = np.zeros(64, dtype=np.int32)
                t[ZIGZAG] = vals
                quant[tq] = t.reshape(8, 8)
                b = b[1 + n:]
        elif tag == 0xC4:  # DHT
            b = body
            while b:
                cls, tid = b[0] >> 4, b[0] & 0xF
                bits = list(b[1:17])
                n = sum(bits)
                vals = list(b[17:17 + n])
                huff[(cls, tid)] = _build_decode(bits, vals)
                b = b[17 + n:]
        elif tag == 0xC0 or tag == 0xC1:  # SOF0/1 baseline(-ish)
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec} (8 only)")
            comps = []
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append((cid, samp >> 4, samp & 0xF, tq))
            frame = (h, w, comps)
        elif tag in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                     0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{tag:02X} (baseline sequential only)"
            )
        elif tag == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif tag == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []  # (comp_idx, dc_tid, ac_tid)
            h, w, comps = frame
            for i in range(ns):
                cid, tids = body[1 + 2 * i], body[2 + 2 * i]
                idx = next(
                    k for k, c in enumerate(comps) if c[0] == cid
                )
                scan.append((idx, tids >> 4, tids & 0xF))
            return _decode_scan(
                data, pos + 2 + seglen, frame, scan, quant, huff,
                restart_interval,
            )
        pos += 2 + seglen
    raise ValueError("no SOS marker — nothing to decode")


def _decode_scan(data, pos, frame, scan, quant, huff, restart_interval):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for cid, hs, vs, _tq in comps:
        if hs < 1 or vs < 1 or hmax % hs or vmax % vs:
            raise NotImplementedError(
                f"component {cid}: sampling {hs}x{vs} does not divide "
                f"the frame maximum {hmax}x{vmax} — only divisor "
                "sampling (4:4:4/4:2:2/4:2:0/4:1:1) is supported"
            )
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for cid, hs, vs, tq in comps:
        planes.append(np.zeros((mcuy * vs * 8, mcux * hs * 8)))
    reader = _BitReader(data, pos)
    dc_pred = [0] * len(comps)
    idct = _DCT.T
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            reader.align_and_consume_rst()
            dc_pred = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, dc_tid, ac_tid in scan:
            _, hs, vs, tq = comps[ci]
            dct_tbl = huff.get((0, dc_tid))
            act_tbl = huff.get((1, ac_tid))
            if dct_tbl is None or act_tbl is None:
                raise ValueError("missing Huffman table for scan")
            for v in range(vs):
                for u in range(hs):
                    zz = np.zeros(64, dtype=np.int64)
                    # the WHOLE per-block entropy decode converts a
                    # mid-block restart marker to the documented
                    # ValueError — an AC-coefficient hit (truncated /
                    # corrupt scan) must not leak the private
                    # _RestartMarker to callers
                    try:
                        s = _huff_decode(reader, dct_tbl)
                        diff = _extend(reader.bits(s), s) if s else 0
                        dc_pred[ci] += diff
                        zz[0] = dc_pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, act_tbl)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.bits(s), s)
                            k += 1
                    except _RestartMarker:
                        raise ValueError(
                            "restart marker inside MCU (corrupt scan)"
                        ) from None
                    blk = np.zeros(64, dtype=np.float64)
                    blk[ZIGZAG] = zz * quant[tq].reshape(64)[ZIGZAG]
                    spat = idct @ blk.reshape(8, 8) @ _DCT + 128.0
                    y0 = (my * vs + v) * 8
                    x0 = (mx * hs + u) * 8
                    planes[ci][y0:y0 + 8, x0:x0 + 8] = spat
    # upsample to full resolution, crop, color-convert
    full = []
    for (cid, hs, vs, tq), plane in zip(comps, planes):
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(up[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)
