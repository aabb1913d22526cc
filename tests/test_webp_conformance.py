"""Conformance of the pure-Python WebP codec vs the system libwebp.

The container happens to ship libwebp; these tests dlopen it through
the struct-free simple API (tests/_refcodecs.py) and check

* our VP8L encoder's output is decoded bit-exact by libwebp, and
* our VP8L decoder is bit-exact with libwebp's decoder on streams
  produced by libwebp's own (much richer) encoder — predictor /
  cross-color / subtract-green transforms, color cache, meta-Huffman.

This is true conformance evidence, beyond the suite's own
encode→decode round-trips.  Skips cleanly when libwebp is absent.

Note: comparisons are decode-vs-decode.  libwebp's lossless encoder is
*non-exact* by default (it may rewrite RGB under alpha=0 pixels for
better compression), so comparing against the pre-encode input would
be wrong for transparent pixels.
"""

import numpy as np
import pytest

from _refcodecs import load_libwebp
from hquery_php_spark.operators.webp import decode_webp, encode_webp_lossless

LIBWEBP = load_libwebp()

pytestmark = pytest.mark.skipif(LIBWEBP is None, reason="system libwebp not available")


def _images():
    rng = np.random.default_rng(7)
    yy, xx = np.mgrid[0:48, 0:33]
    smooth = np.stack(
        [
            (yy * 5 % 256).astype(np.uint8),
            (xx * 7 % 256).astype(np.uint8),
            ((yy + xx) * 3 % 256).astype(np.uint8),
            np.full((48, 33), 255, np.uint8),
        ],
        axis=-1,
    )
    pal = np.array(
        [[255, 0, 0, 255], [0, 255, 0, 255], [0, 0, 255, 128], [10, 20, 30, 0]],
        np.uint8,
    )
    return [
        ("flat", np.full((16, 16, 4), 170, np.uint8)),
        ("one-px", np.array([[[1, 2, 3, 4]]], np.uint8)),
        ("smooth", smooth),
        ("palette", pal[rng.integers(0, 4, (40, 37))]),
        ("noise-opaque", np.dstack([rng.integers(0, 256, (37, 53, 3), dtype=np.uint8),
                                    np.full((37, 53, 1), 255, np.uint8)])),
        ("noise-alpha", rng.integers(0, 256, (29, 31, 4), dtype=np.uint8)),
        ("wide", rng.integers(0, 256, (3, 257, 4), dtype=np.uint8)),
        ("tall", rng.integers(0, 256, (257, 3, 4), dtype=np.uint8)),
    ]


@pytest.mark.parametrize("name,px", _images(), ids=[n for n, _ in _images()])
def test_our_lossless_encoder_decodes_bitexact_in_libwebp(name, px):
    data = encode_webp_lossless(px)
    ref = LIBWEBP.decode_rgba(data)
    assert ref is not None
    assert np.array_equal(ref, px)


@pytest.mark.parametrize("name,px", _images(), ids=[n for n, _ in _images()])
def test_our_decoder_matches_libwebp_on_libwebp_streams(name, px):
    data = LIBWEBP.encode_lossless_rgba(px)
    ours = decode_webp(data)
    ref = LIBWEBP.decode_rgba(data)
    assert ours is not None and ref is not None
    w, h, ch, out = ours
    assert (h, w, ch) == (ref.shape[0], ref.shape[1], 4)
    assert np.array_equal(out, ref)


def test_many_seeds_decode_vs_decode():
    rng = np.random.default_rng(1234)
    for _ in range(25):
        h = int(rng.integers(1, 70))
        w = int(rng.integers(1, 70))
        px = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        data = LIBWEBP.encode_lossless_rgba(px)
        ours = decode_webp(data)
        ref = LIBWEBP.decode_rgba(data)
        assert ours is not None
        assert np.array_equal(ours[3], ref)
