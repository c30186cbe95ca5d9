"""Tests for the BMP decoder + lossless encoder twin
(``operators/bmp.py``)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from mlentory_etl_pipeline_spark.operators import bmp


def test_rgb24_roundtrip_exact_both_orientations():
    rng = np.random.default_rng(2)
    for w, h in ((13, 7), (16, 16), (1, 1), (33, 9)):
        rgb = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        for top_down in (False, True):
            got, gw, gh = bmp.decode_bmp(
                bmp.bmp_encode_rgb(rgb.tobytes(), w, h, top_down=top_down)
            )
            assert (gw, gh) == (w, h)
            assert np.array_equal(got, rgb), (w, h, top_down)


def test_pal8_plain_and_rle_roundtrip_exact():
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    noisy = rng.integers(0, 256, size=(11, 19)).astype(np.uint8)
    runny = np.repeat(
        rng.integers(0, 8, size=(9, 5)), 5, axis=1
    ).astype(np.uint8)
    for img, rle in ((noisy, False), (runny, True), (noisy, True)):
        enc = bmp.bmp_encode_pal8(
            img.tobytes(), pal, img.shape[1], img.shape[0], rle=rle
        )
        got, _, _ = bmp.decode_bmp(enc)
        assert np.array_equal(got, pal[img]), rle


def test_4bit_packed_rows_hand_built():
    """1/4-bit depths have no encoder twin; build a 5x2 4-bit BMP by
    hand (rows pad to 4 bytes; MSB-first nibbles; bottom-up)."""
    pal = np.array(
        [[i * 16, 255 - i * 16, i * 8] for i in range(16)], dtype=np.uint8
    )
    quads = np.zeros((16, 4), dtype=np.uint8)
    quads[:, [2, 1, 0]] = pal
    # top row indices [1,2,3,4,5], bottom row [15,14,13,12,11]
    bottom = bytes([0xFE, 0xDC, 0xB0, 0x00])  # 15,14 13,12 11,pad + row pad
    top = bytes([0x12, 0x34, 0x50, 0x00])
    info = struct.pack(
        "<IiiHHIIiiII", 40, 5, 2, 1, 4, 0, 8, 2835, 2835, 16, 0
    )
    off = 14 + 40 + 64
    raw = (
        b"BM"
        + struct.pack("<IHHI", off + 8, 0, 0, off)
        + info
        + quads.tobytes()
        + bottom
        + top
    )
    got, w, h = bmp.decode_bmp(raw)
    assert (w, h) == (5, 2)
    want_idx = np.array([[1, 2, 3, 4, 5], [15, 14, 13, 12, 11]])
    assert np.array_equal(got, pal[want_idx])


def test_32bit_ignores_padding_byte():
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(3, 4, 3)).astype(np.uint8)
    rows = []
    for y in range(2, -1, -1):  # bottom-up
        line = bytearray()
        for x in range(4):
            r, g, b = rgb[y, x]
            line += bytes([b, g, r, 0xAB])  # junk in the X byte
        rows.append(bytes(line))
    body = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 4, 3, 1, 32, 0, len(body), 2835, 2835, 0, 0
    )
    raw = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54) + info + body
    got, _, _ = bmp.decode_bmp(raw)
    assert np.array_equal(got, rgb)


def test_taxonomy_and_fuzz():
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(8, 8, 3)).astype(np.uint8)
    good = bmp.bmp_encode_rgb(rgb.tobytes(), 8, 8)
    with pytest.raises(ValueError, match="signature"):
        bmp.decode_bmp(b"XX" + good[2:])
    with pytest.raises(ValueError):
        bmp.decode_bmp(good[:40])
    # 16 bpp: capability gap
    bad = bytearray(good)
    struct.pack_into("<H", bad, 28, 16)
    with pytest.raises(NotImplementedError, match="real media decode"):
        bmp.decode_bmp(bytes(bad))
    # BI_BITFIELDS: capability gap
    bad = bytearray(good)
    struct.pack_into("<I", bad, 30, 3)
    with pytest.raises(NotImplementedError, match="real media decode"):
        bmp.decode_bmp(bytes(bad))
    # mutation fuzz: taxonomy only
    for t in range(150):
        buf = bytearray(good)
        kind = t % 3
        if kind == 0:
            i = int(rng.integers(0, len(buf)))
            buf[i] ^= int(rng.integers(1, 256))
        elif kind == 1:
            i = int(rng.integers(0, len(buf)))
            j = min(len(buf), i + int(rng.integers(1, 16)))
            buf[i:j] = bytes(j - i)
        else:
            buf = buf[: int(rng.integers(1, len(buf)))]
        try:
            bmp.decode_bmp(bytes(buf))
        except (ValueError, NotImplementedError):
            pass
