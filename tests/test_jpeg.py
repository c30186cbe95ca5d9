"""Tests for the from-scratch baseline JPEG decoder + encoder twin
(``operators/jpeg.py``).

Reference anchor: ``HFDatasetManager.py:202-215`` (the reference
materializes arbitrary HF dataset columns — image features included —
via load_dataset -> to_pandas; this repo's stdlib decoder covers
JPEG without any external codec).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest

from mlentory_etl_pipeline_spark.operators import jpeg


def _gradient(width: int, height: int) -> np.ndarray:
    return np.array(
        [[(x * 7 + y * 13) % 256 for x in range(width)] for y in range(height)],
        dtype=np.uint8,
    )


# ------------------------------------------------------------ pure codec


def test_dct_basis_matches_explicit_cosine_formula():
    """A round-trip cannot validate the basis (FDCT/IDCT of ANY
    orthogonal matrix are mutual inverses) — check the IDCT against the
    four-nested-loop T.81 A.3.3 definition on random coefficients."""
    rng = np.random.default_rng(7)
    coef = rng.integers(-512, 512, size=(8, 8)).astype(np.float64)
    got = jpeg._DCT_A.T @ coef @ jpeg._DCT_A
    want = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = math.sqrt(0.5) if u == 0 else 1.0
                    cv = math.sqrt(0.5) if v == 0 else 1.0
                    acc += (
                        0.25 * cu * cv * coef[u, v]
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                    )
            want[y, x] = acc
    assert np.abs(got - want).max() < 1e-9


def test_gray_roundtrip_error_bounds_by_quality():
    # smooth ramp (no modular wrap): JPEG error bounds are meaningful
    # only without step edges; non-multiple-of-8 dims exercise pad/crop
    img = np.array(
        [[3 * x + 4 * y for x in range(37)] for y in range(23)],
        dtype=np.uint8,
    )
    prev_err = None
    for quality, bound in ((70, 24), (90, 12), (100, 2)):
        enc = jpeg.jpeg_encode_gray(img.tobytes(), 37, 23, quality=quality)
        planes, w, h = jpeg.decode_jpeg(enc)
        assert (w, h) == (37, 23)
        err = int(np.abs(planes[0].astype(int) - img.astype(int)).max())
        assert err <= bound, (quality, err)
        if prev_err is not None:
            assert err <= prev_err  # higher quality never hurts
        prev_err = err


def test_constant_blocks_roundtrip_bit_exact():
    """The hard-exactness fixture: an image of constant 8x8 blocks with
    EVEN level-shift offsets under a flat quantizer of 16. The FDCT of
    a constant block is DC-only with DC = 8*(v-128) (AC terms cancel
    exactly; float noise ~1e-13 rounds to 0); quantized DC = (v-128)/2
    is an exact integer for even offsets; the DC-only IDCT reconstructs
    the constant exactly. Any slip anywhere in marker layout, Huffman
    coding, zigzag, dequant, or IDCT scaling breaks equality."""
    img = np.zeros((24, 32), dtype=np.uint8)
    vals = [2, 60, 128, 200, 254, 130, 126, 64, 192, 0, 100, 22]
    k = 0
    for by in range(3):
        for bx in range(4):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = vals[k]
            k += 1
    enc = jpeg.jpeg_encode_gray(img.tobytes(), 32, 24, quant_override=[16] * 64)
    planes, _, _ = jpeg.decode_jpeg(enc)
    assert (planes[0] == img).all()
    # and with restart markers every 3 MCUs: same bits decoded across
    # RST boundaries with DC-predictor resets
    enc_rst = jpeg.jpeg_encode_gray(
        img.tobytes(), 32, 24, quant_override=[16] * 64, restart_interval=3
    )
    assert b"\xff\xd0" in enc_rst or b"\xff\xd1" in enc_rst
    planes_rst, _, _ = jpeg.decode_jpeg(enc_rst)
    assert (planes_rst[0] == img).all()


def test_restart_interval_is_decode_invariant():
    img = _gradient(41, 17)
    base, _, _ = jpeg.decode_jpeg(jpeg.jpeg_encode_gray(img.tobytes(), 41, 17))
    for ri in (1, 2, 5):
        with_rst, _, _ = jpeg.decode_jpeg(
            jpeg.jpeg_encode_gray(img.tobytes(), 41, 17, restart_interval=ri)
        )
        assert (with_rst[0] == base[0]).all()


def test_odd_and_tiny_dimensions():
    for w, h in ((1, 1), (7, 5), (8, 8), (17, 9), (9, 17)):
        img = _gradient(w, h)
        planes, dw, dh = jpeg.decode_jpeg(
            jpeg.jpeg_encode_gray(img.tobytes(), w, h, quality=100)
        )
        assert (dw, dh) == (w, h)
        assert planes[0].shape == (h, w)
        assert np.abs(planes[0].astype(int) - img.astype(int)).max() <= 2


def test_color_constant_image_luma():
    """Constant color: chroma subsampling is exact on constants, so the
    decoded luma is uniform and within quantization distance (the DC
    steps at q90) of the closed-form 601 luma."""
    for sub in ((1, 1), (2, 1), (2, 2)):
        rgb = np.zeros((24, 40, 3), dtype=np.uint8)
        rgb[..., 0], rgb[..., 1], rgb[..., 2] = 200, 30, 120
        enc = jpeg.jpeg_encode_rgb(
            rgb.tobytes(), 40, 24, quality=90, subsampling=sub
        )
        lum = jpeg.decode_jpeg_luma(enc)
        assert lum.shape == (24, 40)
        assert lum.min() == lum.max()  # constant in, constant out
        want = (200 * 299 + 30 * 587 + 120 * 114) // 1000
        assert abs(int(lum[0, 0]) - want) <= 3


def test_color_smooth_gradient_bounds():
    h, w = 19, 26  # odd dims + 4:2:0 exercises chroma pad/crop/upsample
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            rgb[y, x] = (40 + 4 * x, 200 - 3 * y, 60 + 2 * x + 2 * y)
    ref = (
        rgb[..., 0].astype(np.int64) * 299
        + rgb[..., 1].astype(np.int64) * 587
        + rgb[..., 2].astype(np.int64) * 114
    ) // 1000
    for sub in ((1, 1), (2, 2)):
        enc = jpeg.jpeg_encode_rgb(
            rgb.tobytes(), w, h, quality=95, subsampling=sub
        )
        lum = jpeg.decode_jpeg_luma(enc)
        err = np.abs(lum - ref)
        assert err.max() <= 14 and err.mean() <= 3.0, (sub, err.max())


def test_progressive_gray_equals_sequential():
    """THE progressive invariant: an SOF2 stream carrying the same
    quantized coefficients across DC-first / AC-band / AC-refine /
    DC-refine scans must decode pixel-identical to the sequential
    stream. Random noise maximizes ZRL + EOB-run + refinement traffic."""
    rng = np.random.default_rng(7)
    cases = [_gradient(37, 23), _gradient(16, 8), _gradient(1, 1)]
    cases += [
        rng.integers(0, 256, size=(int(rng.integers(5, 80)),
                                   int(rng.integers(5, 80)))).astype(np.uint8)
        for _ in range(6)
    ]
    for img in cases:
        h, w = img.shape
        q = int(rng.integers(25, 100))
        seq = jpeg.decode_jpeg(
            jpeg.jpeg_encode_gray(img.tobytes(), w, h, quality=q)
        )[0][0]
        prog_bytes = jpeg.jpeg_encode_gray(
            img.tobytes(), w, h, quality=q, progressive=True
        )
        assert b"\xff\xc2" in prog_bytes  # really SOF2
        prog = jpeg.decode_jpeg(prog_bytes)[0][0]
        assert np.array_equal(seq, prog), (w, h, q)


def test_progressive_color_equals_sequential():
    rng = np.random.default_rng(11)
    for (w, h), sub in (
        ((40, 24), (2, 2)),
        ((19, 26), (2, 2)),
        ((19, 26), (1, 1)),
        ((33, 17), (2, 1)),
    ):
        rgb = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        sp, _, _ = jpeg.decode_jpeg(
            jpeg.jpeg_encode_rgb(rgb.tobytes(), w, h, subsampling=sub)
        )
        pp, _, _ = jpeg.decode_jpeg(
            jpeg.jpeg_encode_rgb(
                rgb.tobytes(), w, h, subsampling=sub, progressive=True
            )
        )
        assert all(np.array_equal(a, b) for a, b in zip(sp, pp)), (w, h, sub)


def test_progressive_constant_blocks_bit_exact():
    """The sequential exactness fixture holds through the progressive
    path too: successive approximation reassembles the exact quantized
    DC values (arithmetic-shift first scan + OR-ed refinement bit)."""
    img = np.zeros((16, 16), dtype=np.uint8)
    for k, v in enumerate((2, 60, 200, 254)):
        by, bx = divmod(k, 2)
        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
    enc = jpeg.jpeg_encode_gray(
        img.tobytes(), 16, 16, quant_override=[16] * 64, progressive=True
    )
    planes, _, _ = jpeg.decode_jpeg(enc)
    assert (planes[0] == img).all()


def test_lossless_all_predictors_bit_exact():
    """SOF3 lossless (T.81 Annex H): every predictor round-trips any
    image exactly; restart intervals and the 16-bit/point-transform
    variants behave per spec."""
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(13, 17)).astype(np.uint8)
    for predictor in range(1, 8):
        enc = jpeg.jpeg_encode_gray_lossless(
            img.tobytes(), 17, 13, predictor=predictor
        )
        assert b"\xff\xc3" in enc
        assert np.array_equal(jpeg.decode_jpeg(enc)[0][0], img), predictor
    # restart interval invariance
    enc = jpeg.jpeg_encode_gray_lossless(
        img.tobytes(), 17, 13, predictor=4, restart_interval=7
    )
    assert np.array_equal(jpeg.decode_jpeg(enc)[0][0], img)
    # point transform drops Al low bits (decoder re-shifts)
    enc = jpeg.jpeg_encode_gray_lossless(
        img.tobytes(), 17, 13, predictor=2, point_transform=2
    )
    assert np.array_equal(jpeg.decode_jpeg(enc)[0][0], (img >> 2) << 2)
    # 16-bit precision scales to the 8-bit plane contract
    img16 = rng.integers(0, 65536, size=(9, 7)).astype(">u2")
    enc = jpeg.jpeg_encode_gray_lossless(
        img16.tobytes(), 7, 9, predictor=7, precision=16
    )
    want = (img16.astype(np.int64) >> 8).astype(np.uint8)
    assert np.array_equal(jpeg.decode_jpeg(enc)[0][0], want)


def test_16bit_dqt_precision_path():
    """Rewrite the encoder's 8-bit DQT segment as a 16-bit-precision
    one (Pq=1); the decoder must parse it and produce identical pixels."""
    img = _gradient(16, 16)
    enc = jpeg.jpeg_encode_gray(img.tobytes(), 16, 16, quality=85)
    base, _, _ = jpeg.decode_jpeg(enc)
    # locate the DQT segment (marker 0xFFDB) and widen its entries
    i = enc.index(b"\xff\xdb")
    (seglen,) = struct.unpack(">H", enc[i + 2 : i + 4])
    body = enc[i + 4 : i + 2 + seglen]
    assert body[0] == 0x00  # Pq=0, Tq=0
    wide = bytes([0x10]) + b"".join(
        struct.pack(">H", b) for b in body[1:65]
    )
    enc16 = (
        enc[: i + 2]
        + struct.pack(">H", len(wide) + 2)
        + wide
        + enc[i + 2 + seglen :]
    )
    got, _, _ = jpeg.decode_jpeg(enc16)
    assert (got[0] == base[0]).all()


def test_corrupt_and_unsupported_taxonomy():
    img = _gradient(16, 16)
    enc = jpeg.jpeg_encode_gray(img.tobytes(), 16, 16)
    # bad SOI
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"\x89PNG" + enc)
    # truncated entropy stream
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(enc[: len(enc) - 12])
    # zero quantizer step, crafted byte-level (the decoder's guard)
    i = enc.index(b"\xff\xdb")
    bad = bytearray(enc)
    bad[i + 5] = 0  # first (zigzag DC) quantizer entry -> 0
    with pytest.raises(ValueError, match="quantizer"):
        jpeg.decode_jpeg(bytes(bad))
    # arithmetic / differential / 12-bit-DCT: capability gaps
    # (progressive AND lossless are REAL paths now)
    def sof_only(marker: int, precision: int = 8) -> bytes:
        return (
            b"\xff\xd8"
            + bytes([0xFF, marker, 0, 11, precision, 0, 8, 0, 8, 1, 1, 0x11, 0])
            + b"\xff\xd9"
        )

    for marker in (0xC5, 0xCA):
        with pytest.raises(NotImplementedError, match="real media decode"):
            jpeg.decode_jpeg(sof_only(marker))
    with pytest.raises(NotImplementedError, match="precision"):
        jpeg.decode_jpeg(sof_only(0xC0, precision=12))
    # progressive / lossless frames with no scan data are CORRUPT
    for marker in (0xC2, 0xC3):
        with pytest.raises(ValueError, match="no image data"):
            jpeg.decode_jpeg(sof_only(marker))


def test_zero_quant_override_cannot_roundtrip_silently():
    """A zero quant override cannot produce a silently-decodable
    stream: either the encoder trips on the degenerate coefficients or
    the decoder rejects the zero quantizer step in the DQT."""
    img = _gradient(8, 8)
    with pytest.raises(Exception), np.errstate(invalid="ignore", divide="ignore"):
        bad = jpeg.jpeg_encode_gray(
            img.tobytes(), 8, 8, quant_override=[0] * 64
        )
        jpeg.decode_jpeg(bad)


def test_pillow_cross_check_if_available():
    """Interop check against an independent decoder — skipped in this
    container (no Pillow) but keeps the codec honest wherever PIL
    exists."""
    try:
        from PIL import Image
    except ImportError:
        pytest.skip("Pillow absent")
    import io

    img = _gradient(33, 21)
    enc = jpeg.jpeg_encode_gray(img.tobytes(), 33, 21, quality=95)
    theirs = np.asarray(Image.open(io.BytesIO(enc)).convert("L"), dtype=int)
    ours, _, _ = jpeg.decode_jpeg(enc)
    assert np.abs(theirs - ours[0].astype(int)).max() <= 1


def test_fill_bytes_before_markers_skipped():
    """ADVICE r7 / T.81 B.1.1.2: any number of 0xFF fill bytes may pad
    the stream before a marker code — a padded stream must decode to
    the identical pixels as the unpadded one."""
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(16, 24)).astype(np.uint8)
    enc = jpeg.jpeg_encode_gray(img.tobytes(), 24, 16)
    base, w, h = jpeg.decode_jpeg(enc)
    # pad the marker right after SOI (always a segment boundary) and
    # the EOI at the very end with runs of 0xFF fill bytes
    padded = enc[:2] + b"\xff" * 5 + enc[2:-2] + b"\xff" * 3 + enc[-2:]
    got, gw, gh = jpeg.decode_jpeg(padded)
    assert (gw, gh) == (w, h)
    assert all(np.array_equal(a, b) for a, b in zip(got, base))
