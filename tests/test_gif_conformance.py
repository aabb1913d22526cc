"""Conformance of the pure-Python GIF codec vs the system giflib.

Our encoder's output (real LZW with variable code widths and 4096
reset, single images and multi-frame animations) must decode
bit-exact in giflib's DGifSlurp.  Together with the suite's
round-trip tests this transitively pins the decoder too: it inverts
an encoder that the reference implementation accepts byte-for-byte.
Skips when giflib is absent."""

import numpy as np
import pytest

from _refcodecs import load_libgif
from hquery_php_spark.operators.gif import encode_gif, encode_gif_animation

LIBGIF = load_libgif()

pytestmark = pytest.mark.skipif(LIBGIF is None, reason="system giflib not available")


def test_single_images_decode_bitexact_in_giflib():
    rng = np.random.default_rng(3)
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], np.uint8)
    cases = [
        pal[rng.integers(0, 4, (13, 17))],
        np.full((1, 1, 3), 200, np.uint8),
        pal[rng.integers(0, 4, (64, 3))],
        np.stack([rng.integers(0, 256, (40, 40), dtype=np.uint8)] * 3, axis=-1),
    ]
    for px in cases:
        data = encode_gif(px)
        r = LIBGIF.decode_frames_indexed(data)
        assert r is not None
        sw, sh, frames = r
        assert (sw, sh) == (px.shape[1], px.shape[0]) and len(frames) == 1
        left, top, raster, p = frames[0]
        assert (left, top) == (0, 0)
        assert np.array_equal(p[raster], px)


def test_many_color_image_exercises_lzw_width_growth():
    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (50, 61), dtype=np.uint8)
    px = np.stack([gray] * 3, axis=-1)  # up to 256 palette entries
    r = LIBGIF.decode_frames_indexed(encode_gif(px))
    assert r is not None
    _, _, frames = r
    left, top, raster, p = frames[0]
    assert np.array_equal(p[raster], px)


def test_animations_decode_bitexact_in_giflib():
    rng = np.random.default_rng(4)
    for nf in (2, 4, 6):
        frames = [rng.integers(0, 256, (7, 9), dtype=np.uint8) for _ in range(nf)]
        data = encode_gif_animation(frames, delays_cs=range(1, nf + 1))
        r = LIBGIF.decode_frames_indexed(data)
        assert r is not None
        sw, sh, got = r
        assert len(got) == nf
        for f, (left, top, raster, p) in zip(frames, got):
            assert np.array_equal(p[raster], np.stack([f] * 3, axis=-1))
