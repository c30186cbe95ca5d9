"""Baseline JPEG (ITU-T T.81) decoder + encoder twin — stdlib + numpy.

A standalone codec with no caller in the query registry (reference
anchor: ``HFDatasetManager.py:202-215`` materializes arbitrary HF
dataset columns — image features included — via
``datasets.load_dataset(...).to_pandas()``; the reference ships no
codec of its own): a from-scratch DECODER and an ENCODER twin so tests
can round-trip without any external codec, plus hard-exactness
fixtures (constant 8x8 blocks quantize and reconstruct bit-exactly
through the real DCT path, see ``tests/test_jpeg.py``).

Scope — baseline, extended-sequential, progressive DCT, AND lossless
(Annex H) Huffman processes — essentially every non-arithmetic JPEG
in the wild:

- markers: SOI/EOI, APPn/COM (skipped), DQT (8- and 16-bit), DHT,
  SOF0/SOF1/SOF2, DRI + RST0-7 restart intervals, SOS;
- canonical Huffman decode built from the DHT (BITS, HUFFVAL) pairs
  exactly as Annex C specifies;
- interleaved multi-component MCUs with arbitrary sampling factors
  (4:4:4, 4:2:0, 4:2:2, ...) and the non-interleaved single-component
  scan geometry (one block per MCU, component-local block grid);
- progressive scans (T.81 Annex G): DC first/refine, AC spectral
  bands with cross-block EOB runs, AC successive-approximation
  refinement — all scans accumulate quantized coefficients in
  per-component buffers, so progressive and sequential share one
  reconstruction path (and must decode identically, which the tests
  assert bit-for-bit);
- dequantize -> de-zigzag -> exact separable float IDCT
  (``A.T @ C @ A`` with the orthonormal DCT-II basis matrix) -> level
  shift -> clamp;
- chroma upsampling by nearest-neighbor index mapping (general for any
  factor ratio), JFIF full-range YCbCr -> RGB;
- lossless (SOF3): Annex H neighbor prediction (all 7 predictors,
  point transform, modulo-2^16 differences, category 16), precisions
  2-16 (scaled to the 8-bit plane contract above 8), bit-exact by
  construction.

Hierarchical/differential (SOF5-15) and arithmetic coding raise
``NotImplementedError`` (capability-gap taxonomy). Corrupt bytes raise
``ValueError``.

Scale note: JPEG entropy decode is inherently serial WITHIN one image
(DC prediction chains through the scan), so the parallel unit is the
image; there is no cross-image state.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# ---------------------------------------------------------------- tables

# zigzag scan position -> natural (row-major) coefficient index (T.81 fig 5)
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K.1 example quantization tables (natural order)
QUANT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
QUANT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# Annex K.3 example Huffman tables as (BITS[1..16], HUFFVAL) pairs.
# NOTE these values are NOT load-bearing for round-trip correctness:
# the encoder derives its code assignments from the same pair it writes
# into the DHT segment, and the decoder rebuilds from that segment — a
# transcription slip would still round-trip. They matter only for
# interop with external JPEGs, and they give the decoder realistic
# variable-length codes to chew on (1..16 bit lengths).
HUFF_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
HUFF_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
HUFF_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125),
    (
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
    ),
)
HUFF_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119),
    (
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
    ),
)

# AC table for PROGRESSIVE scans: Annex K's sequential table has no
# EOBn symbols (0x10..0xE0 encode cross-block EOB runs, G.1.2.2), so a
# progressive encoder must ship its own table. All 176 valid run/size
# symbols (r 0..15 x s 0..10) as fixed 8-bit canonical codes — legal
# (BITS[8]=176 < 255 keeps the all-ones code unused) and trivially
# decodable by the same Annex C reconstruction as any other DHT.
HUFF_AC_PROG = (
    (0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0),
    tuple((r << 4) | s for r in range(16) for s in range(11)),
)

# orthonormal DCT-II basis: A[u, x] = 0.5 * C(u) * cos((2x+1) u pi / 16)
# spatial = A.T @ coeffs @ A ; coeffs = A @ spatial @ A.T
_DCT_A = np.array(
    [
        [
            0.5 * (math.sqrt(0.5) if u == 0 else 1.0)
            * math.cos((2 * x + 1) * u * math.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# SOF markers for coding processes this decoder does not implement —
# capability gaps (NotImplementedError), not corrupt bytes
_SOF_UNSUPPORTED = {
    0xC5: "differential sequential",
    0xC6: "differential progressive",
    0xC7: "differential lossless",
    0xC9: "arithmetic extended sequential",
    0xCA: "arithmetic progressive",
    0xCB: "arithmetic lossless",
    0xCD: "arithmetic differential sequential",
    0xCE: "arithmetic differential progressive",
    0xCF: "arithmetic differential lossless",
}


# ------------------------------------------------------------- bit I/O


class _BitReader:
    """MSB-first bit reader over an already-unstuffed entropy segment."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG: entropy-coded data exhausted")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


class _BitWriter:
    """MSB-first bit writer with JPEG byte stuffing (0xFF -> 0xFF 0x00)."""

    __slots__ = ("out", "acc", "nbits")

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
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


# ------------------------------------------------------------- Huffman


def _build_decode_table(bits, huffval) -> dict:
    """Canonical (length, code) -> symbol map per T.81 Annex C."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _build_encode_table(bits, huffval) -> dict:
    """symbol -> (code, length), the inverse of :func:`_build_decode_table`."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_decode_table(bits, huffval).items()
    }


def _read_symbol(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.12: map the s-bit magnitude pattern to its signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _category(v: int) -> int:
    """Bit-length category of a signed coefficient (encoder side)."""
    return abs(v).bit_length()


# ------------------------------------------------------------- decoder


def _split_entropy(data: bytes, pos: int):
    """Split the entropy-coded stream at ``pos`` into restart segments,
    unstuffing 0xFF00 as it goes. Returns (segments, pos-after-scan)."""
    segs = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b == 0xFF:
            if pos + 1 >= n:
                raise ValueError("JPEG: truncated entropy stream")
            m = data[pos + 1]
            if m == 0x00:
                cur.append(0xFF)
                pos += 2
                continue
            if 0xD0 <= m <= 0xD7:  # RSTn
                segs.append(bytes(cur))
                cur = bytearray()
                pos += 2
                continue
            break  # any other marker ends the scan
        cur.append(b)
        pos += 1
    segs.append(bytes(cur))
    return segs, pos


def _seq_block(reader, dc_table, ac_table, coef, pred):
    """One sequential 8x8 block: Huffman -> quantized natural-order
    coefficients written into ``coef`` (a length-64 int32 view).
    Returns the updated DC predictor."""
    s = _read_symbol(reader, dc_table)
    if s > 11:
        raise ValueError("JPEG: invalid DC category")
    diff = _extend(reader.read_bits(s), s) if s else 0
    pred += diff
    coef[0] = pred
    k = 1
    while k < 64:
        rs = _read_symbol(reader, ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG: AC coefficient index out of range")
        coef[ZIGZAG[k]] = _extend(reader.read_bits(s), s)
        k += 1
    return pred


# -------- progressive scan block decoders (T.81 Annex G / libjpeg
# jdphuff.c semantics; successive-approximation bits combine via
# two's-complement shifts and ORs, which Python ints share with C)


def _dc_first_block(reader, dc_table, coef, pred, al):
    s = _read_symbol(reader, dc_table)
    if s > 11:
        raise ValueError("JPEG: invalid DC category")
    diff = _extend(reader.read_bits(s), s) if s else 0
    pred += diff
    coef[0] = pred << al
    return pred


def _dc_refine_block(reader, coef, al):
    if reader.read_bit():
        coef[0] = int(coef[0]) | (1 << al)


def _ac_first_block(reader, ac_table, coef, ss, se, al, state):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _read_symbol(reader, ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG: AC coefficient outside spectral band")
        coef[ZIGZAG[k]] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine_block(reader, ac_table, coef, ss, se, al, state):
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _read_symbol(reader, ac_table)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("JPEG: bad AC refinement magnitude")
                newval = p1 if reader.read_bit() else m1
            elif r != 15:
                # FULL run count here: the tail pass below must still
                # consume the CURRENT block's correction bits (the
                # decrement happens after it) — pre-decrementing would
                # skip them for EOB0 and desync the bit stream
                state["eobrun"] = 1 << r
                if r:
                    state["eobrun"] += reader.read_bits(r)
                break
            # advance over r zero-history coefficients, emitting a
            # correction bit for every nonzero-history one passed
            while k <= se:
                z = ZIGZAG[k]
                c = int(coef[z])
                if c != 0:
                    if reader.read_bit() and (c & p1) == 0:
                        coef[z] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[ZIGZAG[k]] = newval
            k += 1
    if state["eobrun"] > 0:
        # block is inside an EOB run: correction bits only
        while k <= se:
            z = ZIGZAG[k]
            c = int(coef[z])
            if c != 0 and reader.read_bit() and (c & p1) == 0:
                coef[z] = c + (p1 if c >= 0 else m1)
            k += 1
        state["eobrun"] -= 1


def _lossless_predict(plane, x, y, predictor, default):
    """T.81 H.1.2.1 prediction: a = left, b = above, c = above-left.
    First sample uses the default (2^(P-1-Al)); the rest of the first
    line predicts from the left; the first column predicts from
    above."""
    if y == 0 and x == 0:
        return default
    if y == 0:
        return int(plane[0, x - 1])
    if x == 0:
        return int(plane[y - 1, 0])
    a = int(plane[y, x - 1])
    b = int(plane[y - 1, x])
    c = int(plane[y - 1, x - 1])
    if predictor == 1:
        return a
    if predictor == 2:
        return b
    if predictor == 3:
        return c
    if predictor == 4:
        return a + b - c
    if predictor == 5:
        return a + ((b - c) >> 1)
    if predictor == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1  # predictor 7


def _decode_lossless_scan(
    frame, scan_comp, segments, restart_interval, sample_planes,
    precision, predictor, al,
):
    """One non-interleaved lossless scan (T.81 Annex H): Huffman
    categories code sample DIFFERENCES from a neighbor prediction;
    category 16 means +32768 with no extra bits; arithmetic is modulo
    2^16. A restart resets the predictor to the default for the next
    sample (both twin sides share this convention)."""
    width, height, comps = frame
    ci, dc_table, _ = scan_comp
    _, h, v, _ = comps[ci]
    hmax = max(hh for _, hh, vv, _ in comps)
    vmax = max(vv for _, hh, vv, _ in comps)
    cw = -(-width * h // hmax)
    ch = -(-height * v // vmax)
    default = 1 << (precision - 1 - al)
    plane = np.zeros((ch, cw), dtype=np.int64)
    reader, seg_idx = _BitReader(segments[0]), 0
    force_default = False
    m = 0
    for y in range(ch):
        for x in range(cw):
            if restart_interval and m and m % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG: missing restart segment")
                reader = _BitReader(segments[seg_idx])
                force_default = True
            s = _read_symbol(reader, dc_table)
            if s > 16:
                raise ValueError("JPEG: invalid lossless category")
            if s == 16:
                diff = 32768
            elif s:
                diff = _extend(reader.read_bits(s), s)
            else:
                diff = 0
            pred = (
                default
                if force_default
                else _lossless_predict(plane, x, y, predictor, default)
            )
            force_default = False
            plane[y, x] = (pred + diff) & 0xFFFF
            m += 1
    sample_planes[ci] = plane << al


# DC-style Huffman table for LOSSLESS scans: categories 0..16 (a
# 16-bit-precision difference can need category 16, which Annex K's
# 0..11 DC table cannot code). Fixed 5-bit canonical codes; the
# all-ones code stays unused (17 < 31).
HUFF_DC_LOSSLESS = (
    (0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(17)),
)


def jpeg_encode_gray_lossless(
    pixels: bytes,
    width: int,
    height: int,
    predictor: int = 1,
    point_transform: int = 0,
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Lossless-JPEG (SOF3) grayscale encoder — the twin of the Annex H
    decode path. ``pixels`` is 1 byte per sample for precision <= 8,
    2 bytes big-endian per sample above. With ``point_transform`` = 0
    the round trip is bit-exact (it IS lossless); a nonzero point
    transform drops the low ``Al`` bits (decoder re-shifts)."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    if not 2 <= precision <= 16:
        raise ValueError("precision must be 2..16")
    if not 0 <= point_transform < precision:
        raise ValueError("point transform out of range")
    nbytes = 1 if precision <= 8 else 2
    if len(pixels) != width * height * nbytes:
        raise ValueError("pixels length mismatch")
    arr = np.frombuffer(
        pixels, dtype=np.uint8 if nbytes == 1 else np.dtype(">u2")
    ).astype(np.int64).reshape(height, width)
    arr = arr >> point_transform
    default = 1 << (precision - 1 - point_transform)
    codes = _build_encode_table(*HUFF_DC_LOSSLESS)
    writer = _BitWriter()
    body = bytearray()
    rst = 0
    m = 0
    force_default = False
    for y in range(height):
        for x in range(width):
            if restart_interval and m and m % restart_interval == 0:
                writer.flush()
                body += writer.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                writer = _BitWriter()
                force_default = True
            pred = (
                default
                if force_default
                else _lossless_predict(arr, x, y, predictor, default)
            )
            force_default = False
            diff = int(arr[y, x]) - pred
            # modulo-2^16 wrap into the signed 16-bit window (H.1.2.1)
            diff = ((diff + 32768) & 0xFFFF) - 32768
            if diff == -32768:
                diff = 32768
            if diff == 32768:
                code, length = codes[16]
                writer.write(code, length)
            else:
                s = _category(diff)
                code, length = codes[s]
                writer.write(code, length)
                if s:
                    writer.write(
                        diff if diff >= 0 else diff + (1 << s) - 1, s
                    )
            m += 1
    writer.flush()
    body += writer.out
    sof = _marker(
        0xC3,
        struct.pack(">BHHB", precision, height, width, 1)
        + bytes([1, 0x11, 0]),
    )
    sos = _marker(
        0xDA, bytes([1, 1, 0x00, predictor, 0, point_transform])
    )
    dri = (
        _marker(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + _APP0_JFIF
        + sof
        + _dht_segment(0, 0, HUFF_DC_LOSSLESS)
        + dri
        + sos
        + bytes(body)
        + b"\xff\xd9"
    )


def decode_jpeg(content: bytes):
    """Decode a baseline, extended-sequential, or progressive JPEG.

    Returns ``(planes, width, height)`` where ``planes`` is a list of
    uint8 numpy arrays of shape (height, width), one per component in
    frame order (1 = grayscale, 3 = YCbCr), each already upsampled to
    the full pixel grid. Raises ``ValueError`` on corrupt bytes and
    ``NotImplementedError`` on unimplemented coding processes.

    All scans accumulate QUANTIZED coefficients into per-component
    block buffers; dequantization and the IDCT run once at the end —
    which is what makes progressive (multi-scan successive
    approximation) and sequential decoding share one reconstruction
    path: a progressive stream that carries the same final
    coefficients as a sequential one decodes to identical pixels.
    """
    if len(content) < 4 or content[0] != 0xFF or content[1] != 0xD8:
        raise ValueError("not a JPEG: bad SOI marker")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    frame = None  # (width, height, comps) comps = [(cid, h, v, tq)]
    progressive = False
    lossless = False
    precision = 8
    bufs: dict[int, np.ndarray] = {}  # comp index -> (bh, bw, 64) int32
    sample_planes: dict[int, np.ndarray] = {}  # lossless: ci -> (h, w)
    pos = 2
    n = len(content)
    while pos < n:
        if content[pos] != 0xFF:
            raise ValueError("JPEG: expected marker, got data byte")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes — skip padding until the marker code byte
        while pos + 1 < n and content[pos + 1] == 0xFF:
            pos += 1
        marker = content[pos + 1] if pos + 1 < n else None
        if marker is None:
            raise ValueError("JPEG: truncated marker")
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no segment
        if pos + 2 > n:
            raise ValueError("JPEG: truncated segment header")
        (seglen,) = struct.unpack(">H", content[pos : pos + 2])
        if seglen < 2 or pos + seglen > n:
            raise ValueError("JPEG: bad segment length")
        data = content[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0x0F
                i += 1
                nat = np.zeros(64, dtype=np.int64)
                if pq == 0:
                    if i + 64 > len(data):
                        raise ValueError("JPEG: truncated DQT")
                    for z in range(64):
                        nat[ZIGZAG[z]] = data[i + z]
                    i += 64
                elif pq == 1:
                    if i + 128 > len(data):
                        raise ValueError("JPEG: truncated DQT")
                    for z in range(64):
                        nat[ZIGZAG[z]] = struct.unpack(
                            ">H", data[i + 2 * z : i + 2 * z + 2]
                        )[0]
                    i += 128
                else:
                    raise ValueError(f"JPEG: invalid DQT precision {pq}")
                if (nat == 0).any():
                    raise ValueError("JPEG: zero quantizer step")
                qtables[tq] = nat
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0x0F
                if tc > 1:
                    raise ValueError("JPEG: invalid Huffman table class")
                if i + 17 > len(data):
                    raise ValueError("JPEG: truncated DHT")
                bits = tuple(data[i + 1 : i + 17])
                cnt = sum(bits)
                vals = tuple(data[i + 17 : i + 17 + cnt])
                if len(vals) != cnt:
                    raise ValueError("JPEG: truncated DHT")
                htables[(tc, th)] = _build_decode_table(bits, vals)
                i += 17 + cnt
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
            # baseline / extended sequential / progressive / lossless
            progressive = marker == 0xC2
            lossless = marker == 0xC3
            if len(data) < 6 or len(data) < 6 + 3 * data[5]:
                raise ValueError("JPEG: truncated SOF segment")
            precision = data[0]
            if lossless:
                if not 2 <= precision <= 16:
                    raise ValueError(
                        f"JPEG: invalid lossless precision {precision}"
                    )
            elif precision != 8:
                raise NotImplementedError(
                    f"real media decode: JPEG sample precision {precision} "
                    "unsupported (8-bit only for DCT processes)"
                )
            height, width = struct.unpack(">HH", data[1:5])
            if not width or not height:
                raise ValueError("JPEG: zero frame dimension")
            nc = data[5]
            comps = []
            for c in range(nc):
                cid = data[6 + 3 * c]
                hv = data[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, data[8 + 3 * c]))
            if any(h < 1 or h > 4 or v < 1 or v > 4 for _, h, v, _ in comps):
                raise ValueError("JPEG: invalid sampling factor")
            frame = (width, height, comps)
        elif marker in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                "real media decode: JPEG coding process "
                f"({_SOF_UNSUPPORTED[marker]}) unsupported"
            )
        elif marker == 0xDD:  # DRI
            if len(data) < 2:
                raise ValueError("JPEG: truncated DRI segment")
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            if not data or len(data) < 4 + 2 * data[0]:
                raise ValueError("JPEG: truncated SOS segment")
            ns = data[0]
            _, _, comps = frame
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 0x0F
            if lossless:
                # Ss = predictor selector, Al = point transform
                if not 1 <= ss <= 7 or se != 0 or ah != 0:
                    raise ValueError("JPEG: bad lossless scan header")
                if ns != 1:
                    raise NotImplementedError(
                        "real media decode: interleaved lossless JPEG "
                        "scan unsupported"
                    )
            elif not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("JPEG: bad spectral selection for sequential")
            if progressive:
                if ss == 0 and se != 0:
                    raise ValueError("JPEG: progressive DC scan needs Se=0")
                if ss > 0 and (ns != 1 or se < ss or se > 63):
                    raise ValueError("JPEG: bad progressive AC scan header")
            scan = []  # (comp_index, dc_table | None, ac_table | None)
            for s_i in range(ns):
                cs = data[1 + 2 * s_i]
                tdta = data[2 + 2 * s_i]
                matches = [i for i, c in enumerate(comps) if c[0] == cs]
                if not matches:
                    raise ValueError("JPEG: scan selects unknown component")
                td, ta = tdta >> 4, tdta & 0x0F
                # only the tables this scan kind actually consults must
                # be present (a DC-refinement scan reads raw bits only;
                # lossless scans code sample differences with DC tables)
                need_dc = lossless or (
                    ss == 0 and (not progressive or ah == 0)
                )
                need_ac = se > 0 and not lossless
                if need_dc and (0, td) not in htables:
                    raise ValueError("JPEG: scan references missing DC DHT")
                if need_ac and (1, ta) not in htables:
                    raise ValueError("JPEG: scan references missing AC DHT")
                scan.append(
                    (matches[0], htables.get((0, td)), htables.get((1, ta)))
                )
            segments, pos = _split_entropy(content, pos)
            if lossless:
                _decode_lossless_scan(
                    frame, scan[0], segments, restart_interval,
                    sample_planes, precision, ss, al,
                )
            else:
                _decode_scan(
                    frame, scan, segments, restart_interval, bufs,
                    ss, se, ah, al, progressive,
                )
        # else: APPn / COM / unknown — skipped
    if frame is None or not (bufs or sample_planes):
        raise ValueError("JPEG: no image data decoded")
    width, height, comps = frame
    hmax = max(h for _, h, v, _ in comps)
    vmax = max(v for _, h, v, _ in comps)
    planes = []
    for ci, (_, h, v, tq) in enumerate(comps):
        if lossless:
            if ci not in sample_planes:
                raise ValueError("JPEG: component missing from scan data")
            full = sample_planes[ci].astype(np.int64)
            # 8-bit output contract: higher precisions scale down to it
            if precision > 8:
                full >>= precision - 8
            plane = np.clip(full, 0, 255).astype(np.uint8)
        else:
            if ci not in bufs:
                raise ValueError("JPEG: component missing from scan data")
            if tq not in qtables:
                raise ValueError("JPEG: missing quantization table")
            # dequantize + IDCT every block at once (einsum batches the
            # separable transform), level-shift, clamp
            deq = bufs[ci].astype(np.float64) * qtables[tq].astype(
                np.float64
            )
            bh, bw = deq.shape[0], deq.shape[1]
            blocks = deq.reshape(bh, bw, 8, 8)
            spatial = np.einsum("ux,bcuv,vz->bcxz", _DCT_A, blocks, _DCT_A)
            spatial += 128.0
            np.clip(np.rint(spatial), 0, 255, out=spatial)
            plane = (
                spatial.astype(np.uint8)
                .transpose(0, 2, 1, 3)
                .reshape(bh * 8, bw * 8)
            )
        # crop the block-padded plane to the component's true size, then
        # nearest-neighbor index-map up to the full pixel grid (general
        # for any factor ratio)
        cw = -(-width * h // hmax)
        ch = -(-height * v // vmax)
        plane = plane[:ch, :cw]
        ys = (np.arange(height) * v) // vmax
        xs = (np.arange(width) * h) // hmax
        planes.append(plane[np.ix_(ys, xs)])
    return planes, width, height


def _decode_scan(
    frame, scan, segments, restart_interval, bufs, ss, se, ah, al, progressive
):
    """Entropy-decode one scan into the quantized-coefficient buffers.

    Sequential scans decode full blocks; progressive scans dispatch to
    the DC-first/DC-refine/AC-first/AC-refine block decoders. Restart
    markers reset DC predictors AND the EOB run."""
    width, height, comps = frame
    hmax = max(h for _, h, v, _ in comps)
    vmax = max(v for _, h, v, _ in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    def buf_of(ci):
        _, h, v, _ = comps[ci]
        return bufs.setdefault(
            ci, np.zeros((mcuy * v, mcux * h, 64), dtype=np.int32)
        )

    # per-MCU block lists: non-interleaved scans walk the component's
    # own ceil-grid (one block per MCU); interleaved scans walk the MCU
    # grid with h x v blocks per component
    if len(scan) == 1:
        ci = scan[0][0]
        _, h, v, _ = comps[ci]
        cw = -(-width * h // hmax)
        ch = -(-height * v // vmax)
        bx_n, by_n = -(-cw // 8), -(-ch // 8)
        total = bx_n * by_n

        def mcu_blocks(m):
            return ((0, m // bx_n, m % bx_n),)

    else:
        total = mcux * mcuy

        def mcu_blocks(m):
            my, mx = m // mcux, m % mcux
            out = []
            for s_i, (ci, _, _) in enumerate(scan):
                _, h, v, _ = comps[ci]
                for by in range(v):
                    for bx in range(h):
                        out.append((s_i, my * v + by, mx * h + bx))
            return out

    sbufs = [buf_of(ci) for ci, _, _ in scan]
    reader, seg_idx = _BitReader(segments[0]), 0
    preds = [0] * len(scan)
    state = {"eobrun": 0}
    for m in range(total):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG: missing restart segment")
            reader = _BitReader(segments[seg_idx])
            preds = [0] * len(scan)
            state = {"eobrun": 0}
        for s_i, by, bx in mcu_blocks(m):
            coef = sbufs[s_i][by, bx]
            dct, act = scan[s_i][1], scan[s_i][2]
            if not progressive:
                preds[s_i] = _seq_block(reader, dct, act, coef, preds[s_i])
            elif ss == 0 and ah == 0:
                preds[s_i] = _dc_first_block(reader, dct, coef, preds[s_i], al)
            elif ss == 0:
                _dc_refine_block(reader, coef, al)
            elif ah == 0:
                _ac_first_block(reader, act, coef, ss, se, al, state)
            else:
                _ac_refine_block(reader, act, coef, ss, se, al, state)


def decode_jpeg_luma(content: bytes):
    """Decode to per-pixel 8-bit luminance (row-major numpy array).

    Grayscale frames pass Y through; color frames convert JFIF
    full-range YCbCr -> RGB (rounded, clamped) and then apply the same
    ITU-R 601-2 integer luma as the GIF and BMP decoders, so the stdlib
    image decoders share one feature contract.
    """
    planes, width, height = decode_jpeg(content)
    if len(planes) == 1:
        return planes[0].astype(np.int64)
    if len(planes) != 3:
        raise NotImplementedError(
            f"real media decode: {len(planes)}-component JPEG unsupported"
        )
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    r = np.clip(np.rint(y + 1.402 * cr), 0, 255).astype(np.int64)
    g = np.clip(np.rint(y - 0.344136 * cb - 0.714136 * cr), 0, 255).astype(
        np.int64
    )
    b = np.clip(np.rint(y + 1.772 * cb), 0, 255).astype(np.int64)
    return (r * 299 + g * 587 + b * 114) // 1000


# ------------------------------------------------------------- encoder


def _scaled_quant(base, quality: int) -> np.ndarray:
    """IJG quality scaling: 5000/q below 50, 200-2q above, clamp 1..255."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (np.asarray(base, dtype=np.int64) * scale + 50) // 100
    return np.clip(q, 1, 255)


def _encode_blocks(plane: np.ndarray, qtab: np.ndarray):
    """FDCT + quantize every 8x8 block of a padded component plane.
    Returns an (by, bx, 64) int array of zigzag-ordered coefficients."""
    h8, w8 = plane.shape[0] // 8, plane.shape[1] // 8
    shifted = plane.astype(np.float64) - 128.0
    out = np.zeros((h8, w8, 64), dtype=np.int64)
    A = _DCT_A
    qnat = qtab.reshape(8, 8).astype(np.float64)
    zz = np.array(ZIGZAG)
    for by in range(h8):
        for bx in range(w8):
            block = shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = np.rint((A @ block @ A.T) / qnat).astype(np.int64)
            out[by, bx] = coef.reshape(64)[zz]
    return out


def _write_block(writer, zzcoef, pred, dc_codes, ac_codes):
    """Entropy-encode one block of zigzag coefficients; returns new pred."""
    dc = int(zzcoef[0])
    diff = dc - pred
    s = _category(diff)
    code, length = dc_codes[s]
    writer.write(code, length)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zzcoef[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = _category(v)
        if s > 10:
            raise ValueError("JPEG encoder: AC coefficient out of range")
        code, length = ac_codes[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


# -------- progressive scan emitters (encoder side of T.81 Annex G;
# the same successive-approximation conventions as libjpeg jcphuff.c:
# DC uses the arithmetic shift so refinement bits are true
# two's-complement low bits, AC shifts the MAGNITUDE toward zero)


def _sos_segment(comp_specs, ss, se, ah, al) -> bytes:
    payload = bytes([len(comp_specs)])
    for cs, td, ta in comp_specs:
        payload += bytes([cs, (td << 4) | ta])
    payload += bytes([ss, se, (ah << 4) | al])
    return _marker(0xDA, payload)


def _emit_dc_first(blocks_seq, dc_codes_by_slot, al) -> bytes:
    """DC-first scan: sequential DC coding of the arithmetic-shifted
    values; ``blocks_seq`` yields (slot, zigzag-coefs) in scan order."""
    w = _BitWriter()
    preds: dict[int, int] = {}
    for slot, zz in blocks_seq:
        val = int(zz[0]) >> al
        diff = val - preds.get(slot, 0)
        preds[slot] = val
        s = _category(diff)
        code, length = dc_codes_by_slot[slot][s]
        w.write(code, length)
        if s:
            w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    w.flush()
    return bytes(w.out)


def _emit_dc_refine(blocks_seq, al) -> bytes:
    """DC-refinement scan: one raw bit per block, no Huffman coding."""
    w = _BitWriter()
    for _slot, zz in blocks_seq:
        w.write((int(zz[0]) >> al) & 1, 1)
    w.flush()
    return bytes(w.out)


def _emit_ac_first(blocks, ac_codes, ss, se, al) -> bytes:
    """AC-first scan over one component's blocks: run-length coding of
    the magnitude-shifted band with cross-block EOB runs."""
    w = _BitWriter()
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            code, length = ac_codes[nbits << 4]
            w.write(code, length)
            if nbits:
                w.write(eobrun - (1 << nbits), nbits)
            eobrun = 0

    for zz in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            mag = (-v if v < 0 else v) >> al
            if mag == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                code, length = ac_codes[0xF0]
                w.write(code, length)
                r -= 16
            s = mag.bit_length()
            code, length = ac_codes[(r << 4) | s]
            w.write(code, length)
            sv = -mag if v < 0 else mag
            w.write(sv if sv >= 0 else sv + (1 << s) - 1, s)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    w.flush()
    return bytes(w.out)


def _emit_ac_refine(blocks, ac_codes, ss, se, al) -> bytes:
    """AC-refinement scan: newly-nonzero coefficients become (run, 1)
    symbols with a sign bit; already-nonzero coefficients contribute
    one correction bit each, buffered behind the symbol (or the EOB
    run) that precedes their positions — mirror of
    :func:`_ac_refine_block`."""
    w = _BitWriter()
    eobrun = 0
    pending: list[int] = []  # correction bits buffered behind an EOB run

    def flush_eob():
        nonlocal eobrun, pending
        if eobrun > 0:
            nbits = eobrun.bit_length() - 1
            code, length = ac_codes[nbits << 4]
            w.write(code, length)
            if nbits:
                w.write(eobrun - (1 << nbits), nbits)
            eobrun = 0
        for b in pending:
            w.write(b, 1)
        pending = []

    for zz in blocks:
        absvals = []
        eob = -1  # band index of the LAST newly-nonzero coefficient
        for k in range(ss, se + 1):
            v = int(zz[k])
            mag = (-v if v < 0 else v) >> al
            absvals.append(mag)
            if mag == 1:
                eob = k
        r = 0
        br: list[int] = []  # correction bits since the last symbol
        for k in range(ss, se + 1):
            mag = absvals[k - ss]
            if mag == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                flush_eob()
                code, length = ac_codes[0xF0]
                w.write(code, length)
                r -= 16
                for b in br:
                    w.write(b, 1)
                br = []
            if mag > 1:
                br.append(mag & 1)
                continue
            flush_eob()
            code, length = ac_codes[(r << 4) | 1]
            w.write(code, length)
            w.write(0 if int(zz[k]) < 0 else 1, 1)
            for b in br:
                w.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    w.flush()
    return bytes(w.out)


# the standard-ish progressive script: coarse DC, split AC bands, two
# AC refinement passes, final DC bit
_PROG_DC_AL = 1
_PROG_AC_FIRST = ((1, 5, 2), (6, 63, 2))  # (ss, se, al)
_PROG_AC_REFINE = ((1, 63, 2, 1), (1, 63, 1, 0))  # (ss, se, ah, al)


def _pad_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate a component plane up to multiples of (bh, bw)."""
    h, w = plane.shape
    ph = (-h) % bh
    pw = (-w) % bw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, tag, len(payload) + 2) + payload


def _dqt_segment(tq: int, qtab: np.ndarray) -> bytes:
    zz = bytes(int(qtab[ZIGZAG[z]]) for z in range(64))
    return _marker(0xDB, bytes([tq]) + zz)


def _dht_segment(tc: int, th: int, table) -> bytes:
    bits, vals = table
    return _marker(
        0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    )


_APP0_JFIF = _marker(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")


def jpeg_encode_gray(
    pixels: bytes,
    width: int,
    height: int,
    quality: int = 90,
    restart_interval: int = 0,
    quant_override=None,
    progressive: bool = False,
) -> bytes:
    """Grayscale JPEG encoder — the test twin of :func:`decode_jpeg`.
    ``quant_override`` (64 natural-order ints) replaces the
    quality-scaled Annex K table; the exactness fixtures use it to
    plant quantizers that divide the planted DC values.
    ``progressive=True`` emits an SOF2 stream carrying the SAME
    quantized coefficients across six successive-approximation scans,
    so it must decode pixel-identical to the sequential encoding."""
    if len(pixels) != width * height:
        raise ValueError("pixels length != width*height")
    if progressive and restart_interval:
        raise ValueError("progressive encoding does not take restarts here")
    qtab = (
        np.asarray(quant_override, dtype=np.int64)
        if quant_override is not None
        else _scaled_quant(QUANT_LUMA, quality)
    )
    plane = _pad_to_blocks(
        np.frombuffer(pixels, dtype=np.uint8).reshape(height, width), 8, 8
    )
    blocks = _encode_blocks(plane, qtab)
    by_n, bx_n = blocks.shape[0], blocks.shape[1]
    dc_codes = _build_encode_table(*HUFF_DC_LUMA)
    ac_codes = _build_encode_table(*HUFF_AC_LUMA)
    head = (
        b"\xff\xd8"
        + _APP0_JFIF
        + _dqt_segment(0, qtab)
        + _marker(
            0xC2 if progressive else 0xC0,
            struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
        )
        + _dht_segment(0, 0, HUFF_DC_LUMA)
        + _dht_segment(1, 0, HUFF_AC_PROG if progressive else HUFF_AC_LUMA)
    )
    if progressive:
        acp = _build_encode_table(*HUFF_AC_PROG)
        rm = [blocks[by, bx] for by in range(by_n) for bx in range(bx_n)]
        spec = [(1, 0, 0)]
        scans = _sos_segment(spec, 0, 0, 0, _PROG_DC_AL) + _emit_dc_first(
            ((0, z) for z in rm), [dc_codes], _PROG_DC_AL
        )
        for ss, se, al in _PROG_AC_FIRST:
            scans += _sos_segment(spec, ss, se, 0, al) + _emit_ac_first(
                rm, acp, ss, se, al
            )
        for ss, se, ah, al in _PROG_AC_REFINE:
            scans += _sos_segment(spec, ss, se, ah, al) + _emit_ac_refine(
                rm, acp, ss, se, al
            )
        scans += _sos_segment(spec, 0, 0, _PROG_DC_AL, 0) + _emit_dc_refine(
            ((0, z) for z in rm), 0
        )
        return head + scans + b"\xff\xd9"
    writer = _BitWriter()
    body = bytearray()
    pred = 0
    rst = 0
    for m in range(by_n * bx_n):
        if restart_interval and m and m % restart_interval == 0:
            writer.flush()
            body += writer.out + bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            writer = _BitWriter()
            pred = 0
        pred = _write_block(
            writer, blocks[m // bx_n, m % bx_n], pred, dc_codes, ac_codes
        )
    writer.flush()
    body += writer.out
    sos = _marker(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = _marker(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return head + dri + sos + bytes(body) + b"\xff\xd9"


def _rgb_to_ycbcr(rgb: np.ndarray):
    """JFIF full-range RGB -> YCbCr, rounded to uint8 planes."""
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return tuple(
        np.clip(np.rint(p), 0, 255).astype(np.uint8) for p in (y, cb, cr)
    )


def _box_subsample(plane: np.ndarray, fy: int, fx: int) -> np.ndarray:
    """Mean-of-box chroma subsampling with edge replication for odd dims."""
    if fy == 1 and fx == 1:
        return plane
    p = _pad_to_blocks(plane, fy, fx).astype(np.float64)
    h, w = p.shape
    boxes = p.reshape(h // fy, fy, w // fx, fx).mean(axis=(1, 3))
    return np.clip(np.rint(boxes), 0, 255).astype(np.uint8)


def jpeg_encode_rgb(
    pixels: bytes,
    width: int,
    height: int,
    quality: int = 90,
    subsampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Color JPEG encoder: YCbCr with luma sampling factors
    ``subsampling`` = (h, v) — (1,1) = 4:4:4, (2,1) = 4:2:2,
    (2,2) = 4:2:0. ``pixels`` is row-major RGB triples.
    ``progressive=True`` emits SOF2 with an interleaved DC scan and
    per-component non-interleaved AC band scans carrying the SAME
    quantized coefficients — pixel-identical to the sequential form."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixels length != width*height*3")
    if progressive and restart_interval:
        raise ValueError("progressive encoding does not take restarts here")
    hs, vs = subsampling
    if hs not in (1, 2) or vs not in (1, 2):
        raise ValueError("subsampling factors must be 1 or 2")
    rgb = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, 3)
    y, cb, cr = _rgb_to_ycbcr(rgb)
    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    # component planes padded to the MCU grid (luma: 8h x 8v blocks)
    y_p = _pad_to_blocks(y, 8 * vs, 8 * hs)
    cb_p = _pad_to_blocks(_box_subsample(cb, vs, hs), 8, 8)
    cr_p = _pad_to_blocks(_box_subsample(cr, vs, hs), 8, 8)
    # chroma planes must span the same MCU grid as luma
    mcux, mcuy = y_p.shape[1] // (8 * hs), y_p.shape[0] // (8 * vs)
    cb_p = _pad_to_blocks(cb_p, mcuy * 8, mcux * 8)[: mcuy * 8, : mcux * 8]
    cr_p = _pad_to_blocks(cr_p, mcuy * 8, mcux * 8)[: mcuy * 8, : mcux * 8]
    yb = _encode_blocks(y_p, qy)
    cbb = _encode_blocks(cb_p, qc)
    crb = _encode_blocks(cr_p, qc)
    dc_y = _build_encode_table(*HUFF_DC_LUMA)
    ac_y = _build_encode_table(*HUFF_AC_LUMA)
    dc_c = _build_encode_table(*HUFF_DC_CHROMA)
    ac_c = _build_encode_table(*HUFF_AC_CHROMA)
    if progressive:
        acp = _build_encode_table(*HUFF_AC_PROG)
        head = (
            b"\xff\xd8"
            + _APP0_JFIF
            + _dqt_segment(0, qy)
            + _dqt_segment(1, qc)
            + _marker(
                0xC2,
                struct.pack(">BHHB", 8, height, width, 3)
                + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]),
            )
            + _dht_segment(0, 0, HUFF_DC_LUMA)
            + _dht_segment(0, 1, HUFF_DC_CHROMA)
            # one progressive AC table shared by all components
            + _dht_segment(1, 0, HUFF_AC_PROG)
        )

        def dc_blocks():
            # interleaved MCU order, tagged by scan slot
            for m in range(mcux * mcuy):
                my, mx = m // mcux, m % mcux
                for by in range(vs):
                    for bx in range(hs):
                        yield 0, yb[my * vs + by, mx * hs + bx]
                yield 1, cbb[my, mx]
                yield 2, crb[my, mx]

        # per-component AC scans walk each component's own ceil grid
        # (T.81 non-interleaved geometry), not the MCU-padded grid
        def ceil_blocks(arr, cw, ch):
            bxn, byn = -(-cw // 8), -(-ch // 8)
            return [arr[by, bx] for by in range(byn) for bx in range(bxn)]

        ccw, cch = -(-width // hs), -(-height // vs)
        comp_ac = [
            (1, ceil_blocks(yb, width, height)),
            (2, ceil_blocks(cbb, ccw, cch)),
            (3, ceil_blocks(crb, ccw, cch)),
        ]
        dc_spec = [(1, 0, 0), (2, 1, 0), (3, 1, 0)]
        scans = _sos_segment(dc_spec, 0, 0, 0, _PROG_DC_AL) + _emit_dc_first(
            dc_blocks(), [dc_y, dc_c, dc_c], _PROG_DC_AL
        )
        for ss, se, al in _PROG_AC_FIRST:
            for cs, blk in comp_ac:
                scans += _sos_segment(
                    [(cs, 0, 0)], ss, se, 0, al
                ) + _emit_ac_first(blk, acp, ss, se, al)
        for ss, se, ah, al in _PROG_AC_REFINE:
            for cs, blk in comp_ac:
                scans += _sos_segment(
                    [(cs, 0, 0)], ss, se, ah, al
                ) + _emit_ac_refine(blk, acp, ss, se, al)
        scans += _sos_segment(dc_spec, 0, 0, _PROG_DC_AL, 0) + _emit_dc_refine(
            dc_blocks(), 0
        )
        return head + scans + b"\xff\xd9"
    writer = _BitWriter()
    body = bytearray()
    preds = [0, 0, 0]
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            writer.flush()
            body += writer.out + bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            writer = _BitWriter()
            preds = [0, 0, 0]
        my, mx = m // mcux, m % mcux
        for by in range(vs):
            for bx in range(hs):
                preds[0] = _write_block(
                    writer, yb[my * vs + by, mx * hs + bx], preds[0], dc_y, ac_y
                )
        preds[1] = _write_block(writer, cbb[my, mx], preds[1], dc_c, ac_c)
        preds[2] = _write_block(writer, crb[my, mx], preds[2], dc_c, ac_c)
    writer.flush()
    body += writer.out
    sof = _marker(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    sos = _marker(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dri = _marker(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + _APP0_JFIF
        + _dqt_segment(0, qy)
        + _dqt_segment(1, qc)
        + sof
        + _dht_segment(0, 0, HUFF_DC_LUMA)
        + _dht_segment(1, 0, HUFF_AC_LUMA)
        + _dht_segment(0, 1, HUFF_DC_CHROMA)
        + _dht_segment(1, 1, HUFF_AC_CHROMA)
        + dri
        + sos
        + bytes(body)
        + b"\xff\xd9"
    )
