"""Conformance of the pure-Python PNG codec vs the system libpng.

Uses libpng 1.6's simplified (png_image) API through the dlopen-gated
ctypes shim: our encoder's output (plain AND Adam7-interlaced, every
row filter) must decode bit-exact in libpng, and libpng's encoder
output must decode bit-exact in our decoder.  Skips when libpng is
absent."""

import numpy as np
import pytest

from _refcodecs import load_libpng
from hquery_php_spark.operators.multimodal import decode_png, encode_png

LIBPNG = load_libpng()

pytestmark = pytest.mark.skipif(LIBPNG is None, reason="system libpng not available")


def _images():
    rng = np.random.default_rng(5)
    yy, xx = np.mgrid[0:40, 0:31]
    grad = np.stack([(yy * 6 % 256), (xx * 8 % 256), ((yy + xx) % 256),
                     np.full((40, 31), 255)], axis=-1).astype(np.uint8)
    return [
        ("noise", rng.integers(0, 256, (23, 31, 4), dtype=np.uint8)),
        ("grad", grad),
        ("one-px", np.array([[[9, 8, 7, 6]]], np.uint8)),
        ("wide", rng.integers(0, 256, (2, 300, 4), dtype=np.uint8)),
        ("tall", rng.integers(0, 256, (300, 2, 4), dtype=np.uint8)),
        ("flat", np.full((16, 16, 4), 77, np.uint8)),
    ]


@pytest.mark.parametrize("name,px", _images(), ids=[n for n, _ in _images()])
@pytest.mark.parametrize("interlace", [False, True], ids=["plain", "adam7"])
def test_our_encoder_decodes_bitexact_in_libpng(name, px, interlace):
    data = encode_png(px, interlace=interlace)
    ref = LIBPNG.decode_rgba(data)
    assert ref is not None
    assert np.array_equal(ref, px)


@pytest.mark.parametrize("rf", [0, 1, 2, 3, 4])
def test_every_row_filter_decodes_bitexact_in_libpng(rf):
    rng = np.random.default_rng(rf)
    px = rng.integers(0, 256, (21, 17, 4), dtype=np.uint8)
    data = encode_png(px, row_filter=lambda y: rf)
    ref = LIBPNG.decode_rgba(data)
    assert ref is not None and np.array_equal(ref, px)


@pytest.mark.parametrize("name,px", _images(), ids=[n for n, _ in _images()])
def test_our_decoder_matches_on_libpng_streams(name, px):
    data = LIBPNG.encode_rgba(px)
    r = decode_png(data)
    assert r is not None
    w, h, ch, out = r
    assert (h, w, ch) == (px.shape[0], px.shape[1], 4)
    assert np.array_equal(out, px)
