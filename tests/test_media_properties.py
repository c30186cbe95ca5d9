"""Hypothesis property tests for the stdlib media codecs: every
lossless container round-trips ANY image bit-exactly, and the JPEG
progressive/sequential invariant holds for ANY image and quality.

These consolidate the per-codec example tests under minimizing
property search — when a codec edge breaks, hypothesis hands back the
smallest failing image instead of a 200-pixel blob.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mlentory_etl_pipeline_spark.operators import bmp, gif, jpeg


@st.composite
def _image(draw, max_side: int = 24, levels: int = 256):
    w = draw(st.integers(1, max_side))
    h = draw(st.integers(1, max_side))
    data = draw(
        st.binary(min_size=w * h, max_size=w * h).map(bytearray)
    )
    arr = (
        (np.frombuffer(bytes(data), dtype=np.uint8) % levels)
        .astype(np.uint8)
        .reshape(h, w)
    )
    return arr


@settings(max_examples=40, deadline=None)
@given(img=_image(levels=16), interlace=st.booleans())
def test_gif_roundtrip_property(img, interlace):
    h, w = img.shape
    pal = np.stack([np.arange(16)] * 3, axis=1).astype(np.uint8) * 17
    frames, _, _, dw, dh = gif.decode_gif(
        gif.gif_encode([img], pal, w, h, interlace=interlace)
    )
    assert (dw, dh) == (w, h)
    assert np.array_equal(frames[0], img)


@settings(max_examples=40, deadline=None)
@given(img=_image(), top_down=st.booleans())
def test_bmp_roundtrip_property(img, top_down):
    h, w = img.shape
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    got, _, _ = bmp.decode_bmp(
        bmp.bmp_encode_rgb(rgb.tobytes(), w, h, top_down=top_down)
    )
    assert np.array_equal(got, rgb)


@settings(max_examples=25, deadline=None)
@given(img=_image(max_side=20), quality=st.integers(20, 100))
def test_jpeg_progressive_equals_sequential_property(img, quality):
    """The strongest JPEG oracle: both entropy layouts of the same
    quantized coefficients must reconstruct identical pixels."""
    h, w = img.shape
    seq = jpeg.decode_jpeg(
        jpeg.jpeg_encode_gray(img.tobytes(), w, h, quality=quality)
    )[0][0]
    prog = jpeg.decode_jpeg(
        jpeg.jpeg_encode_gray(
            img.tobytes(), w, h, quality=quality, progressive=True
        )
    )[0][0]
    assert np.array_equal(seq, prog)


@settings(max_examples=40, deadline=None)
@given(img=_image(), predictor=st.integers(1, 7))
def test_jpeg_lossless_roundtrip_property(img, predictor):
    h, w = img.shape
    got = jpeg.decode_jpeg(
        jpeg.jpeg_encode_gray_lossless(img.tobytes(), w, h, predictor=predictor)
    )[0][0]
    assert np.array_equal(got, img)


@settings(max_examples=25, deadline=None)
@given(img=_image(max_side=16), restart=st.integers(1, 5))
def test_jpeg_restart_interval_invariant_property(img, restart):
    h, w = img.shape
    base = jpeg.decode_jpeg(jpeg.jpeg_encode_gray(img.tobytes(), w, h))[0][0]
    rst = jpeg.decode_jpeg(
        jpeg.jpeg_encode_gray(img.tobytes(), w, h, restart_interval=restart)
    )[0][0]
    assert np.array_equal(base, rst)
