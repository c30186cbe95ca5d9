"""Corrupt-byte robustness for the stdlib JPEG and GIF decoders.

**Total taxonomy under garbage**: any byte-level mutation of a valid
stream must either decode or raise ValueError / NotImplementedError —
never hang, never escape with a raw IndexError/struct.error/KeyError,
never return a wrong-shaped result. These tests pin the direct decoder
surface.
"""

from __future__ import annotations

import numpy as np

from mlentory_etl_pipeline_spark.operators import gif, jpeg

# the exception classes the decoders are ALLOWED to raise on garbage
_TAXONOMY = (ValueError, NotImplementedError)


def _gray_image(w: int, h: int) -> np.ndarray:
    return np.array(
        [[(x * 7 + y * 13) % 256 for x in range(w)] for y in range(h)],
        dtype=np.uint8,
    )


def _assert_mutations_stay_in_taxonomy(valid: bytes, decode, n_trials: int):
    """Flip/zero/truncate bytes of a valid stream; decode must either
    succeed or raise within the taxonomy."""
    rng = np.random.default_rng(len(valid))
    for t in range(n_trials):
        buf = bytearray(valid)
        kind = t % 3
        if kind == 0:  # flip one byte
            i = int(rng.integers(0, len(buf)))
            buf[i] ^= int(rng.integers(1, 256))
        elif kind == 1:  # zero a window
            i = int(rng.integers(0, len(buf)))
            j = min(len(buf), i + int(rng.integers(1, 16)))
            buf[i:j] = bytes(j - i)
        else:  # truncate
            buf = buf[: int(rng.integers(1, len(buf)))]
        try:
            decode(bytes(buf))
        except _TAXONOMY:
            pass
        # any OTHER exception type propagates and fails the test


def test_jpeg_mutation_taxonomy():
    img = _gray_image(24, 16)
    seq = jpeg.jpeg_encode_gray(img.tobytes(), 24, 16, quality=80)
    prog = jpeg.jpeg_encode_gray(img.tobytes(), 24, 16, quality=80, progressive=True)
    jls = jpeg.jpeg_encode_gray_lossless(img.tobytes(), 24, 16, predictor=4)
    _assert_mutations_stay_in_taxonomy(seq, jpeg.decode_jpeg, 120)
    _assert_mutations_stay_in_taxonomy(prog, jpeg.decode_jpeg, 120)
    _assert_mutations_stay_in_taxonomy(jls, jpeg.decode_jpeg, 120)


def test_gif_mutation_taxonomy():
    rng = np.random.default_rng(23)
    img = rng.integers(0, 16, size=(16, 24)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    valid = gif.gif_encode([img], pal, 24, 16)
    _assert_mutations_stay_in_taxonomy(valid, gif.decode_gif, 150)
