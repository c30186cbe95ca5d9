"""Tests for the from-scratch GIF decoder + encoder twin
(``operators/gif.py``). GIF is lossless, so every round trip asserts
BIT-EXACT equality.

Reference anchor: ``HFDatasetManager.py:202-215`` (arbitrary HF dataset
columns, image features included, via load_dataset -> to_pandas;
GIF decodes here without Pillow).
"""

from __future__ import annotations

import numpy as np
import pytest

from mlentory_etl_pipeline_spark.operators import gif


def test_roundtrip_exact_across_palette_sizes():
    rng = np.random.default_rng(3)
    for ncol, (w, h) in ((2, (7, 3)), (4, (13, 9)), (16, (40, 25)), (256, (64, 48))):
        pal = rng.integers(0, 256, size=(ncol, 3)).astype(np.uint8)
        img = rng.integers(0, ncol, size=(h, w)).astype(np.uint8)
        frames, pals, _d, dw, dh = gif.decode_gif(
            gif.gif_encode([img], pal, w, h)
        )
        assert (dw, dh) == (w, h)
        assert np.array_equal(frames[0], img)
        assert np.array_equal(pals[0][:ncol], pal)


def test_interlaced_roundtrip_exact():
    rng = np.random.default_rng(5)
    for w, h in ((23, 17), (8, 1), (5, 11), (16, 16)):
        img = rng.integers(0, 16, size=(h, w)).astype(np.uint8)
        pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
        frames, _, _, _, _ = gif.decode_gif(
            gif.gif_encode([img], pal, w, h, interlace=True)
        )
        assert np.array_equal(frames[0], img), (w, h)


def test_multiframe_and_delays():
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, size=(8, 3)).astype(np.uint8)
    fs = [rng.integers(0, 8, size=(10, 12)).astype(np.uint8) for _ in range(3)]
    frames, _, delays, _, _ = gif.decode_gif(
        gif.gif_encode(fs, pal, 12, 10, delays_ms=[40, 80, 120])
    )
    assert len(frames) == 3
    assert delays == [40, 80, 120]
    for got, want in zip(frames, fs):
        assert np.array_equal(got, want)


def test_lzw_dictionary_cap_reset():
    """A large noisy 256-color image forces the LZW dictionary past
    4096 entries: the encoder must emit CLEAR at the cap and the
    decoder must resynchronize — still bit-exact."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(200, 300)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    frames, _, _, _, _ = gif.decode_gif(gif.gif_encode([img], pal, 300, 200))
    assert np.array_equal(frames[0], img)


def test_lzw_kwkwk_case():
    """aaaa... is THE classic KwKwK stream (code == table size when
    received); a run image exercises it densely."""
    img = np.zeros((16, 16), dtype=np.uint8)
    pal = np.array([[10, 20, 30], [0, 0, 0]], dtype=np.uint8)
    frames, _, _, _, _ = gif.decode_gif(gif.gif_encode([img], pal, 16, 16))
    assert np.array_equal(frames[0], img)


def test_transparency_composition():
    """Frame 2's transparent pixels must leave frame 1's pixels
    visible in the composed screen."""
    pal = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    f1 = np.full((4, 4), 0, dtype=np.uint8)
    f2 = np.full((4, 4), 2, dtype=np.uint8)
    f2[0, 0] = 1  # index 1 will be declared transparent
    enc = gif.gif_encode([f1, f2], pal, 4, 4, transparent=1)
    frames, _, _, _, _ = gif.decode_gif(enc)
    assert np.array_equal(frames[0], f1)
    want = f2.copy()
    want[0, 0] = f1[0, 0]  # transparent pixel shows the prior frame
    assert np.array_equal(frames[1], want)


def test_luma_matches_palette_model():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(20, 30)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(256, 3)).astype(np.uint8)
    lum = gif.decode_gif_luma(gif.gif_encode([img], pal, 30, 20))
    rgb = pal[img].astype(np.int64)
    want = (rgb[..., 0] * 299 + rgb[..., 1] * 587 + rgb[..., 2] * 114) // 1000
    assert np.array_equal(lum, want)


def test_corrupt_and_unsupported_taxonomy():
    rng = np.random.default_rng(17)
    img = rng.integers(0, 16, size=(8, 8)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    good = gif.gif_encode([img], pal, 8, 8)
    with pytest.raises(ValueError, match="signature"):
        gif.decode_gif(b"JIF89a" + good[6:])
    with pytest.raises(ValueError):
        gif.decode_gif(good[: len(good) // 2])  # truncated
    # disposal 3 (restore to previous): capability gap taxonomy
    bad = bytearray(good)
    i = bad.index(bytes([0x21, 0xF9, 4]))
    bad[i + 3] = 3 << 2
    with pytest.raises(NotImplementedError, match="real media decode"):
        gif.decode_gif(bytes(bad))
    # pixel index outside the color table: corrupt, not a gap. Built
    # by hand: a 4-entry global table but LZW data (min code size 3,
    # so literals up to 7 exist) carrying index 5.
    import struct as _struct

    lzw = gif._lzw_encode(3, bytes([5, 0, 1, 2]))
    raw = (
        b"GIF89a"
        + _struct.pack("<HH", 2, 2)
        + bytes([0x81, 0, 0])  # GCT present, 2<<1 = 4 entries
        + bytes(12)
        + b"\x2c"
        + _struct.pack("<HHHH", 0, 0, 2, 2)
        + b"\x00"
        + bytes([3, len(lzw)])
        + lzw
        + b"\x00\x3b"
    )
    with pytest.raises(ValueError, match="outside color table"):
        gif.decode_gif(raw)


def test_bg_index_out_of_range_substituted():
    """ADVICE r7: a logical-screen bg_index past the global color table
    (real-world files do this) must not leave out-of-range indices on
    the composed screen — decode substitutes 0 and luma lookup works."""
    rng = np.random.default_rng(31)
    img = rng.integers(0, 4, size=(4, 4)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(4, 3)).astype(np.uint8)
    raw = bytearray(gif.gif_encode([img], pal, 4, 4))
    # grow the logical screen to 8x8 (the 4x4 frame now covers a
    # quarter of it) and point bg_index far past the 4-entry table
    raw[6:10] = np.array([8, 0, 8, 0], dtype=np.uint8).tobytes()
    raw[11] = 200
    frames, pals, _d, w, h = gif.decode_gif(bytes(raw))
    assert (w, h) == (8, 8)
    assert np.array_equal(frames[0][:4, :4], img)
    # uncovered screen area got the substituted index 0, in-range
    assert int(frames[0][4:, :].max()) < pals[0].shape[0]
    gif.decode_gif_luma(bytes(raw))  # must not raise
