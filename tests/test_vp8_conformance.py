"""Lossy-WebP (VP8 key frame) decoder tests (operators/vp8.py).

Two layers of evidence:

1. Self-contained (always run): the module's own minimal stream writer
   emits conformant key-frame streams from explicit mode/coefficient
   specs; decoding them must reproduce the independently computed
   prediction+residual reconstruction, and container-level decode must
   survive mutation fuzz without raising.

2. Conformance vs the system reference decoder (runs when libwebp is
   present, which it is in this container): YUV planes must be
   BIT-EXACT against libwebp's decoder on streams produced by
   libwebp's encoder across methods, qualities, loop-filter settings,
   segmentation, token partitions and edge-case sizes — and on streams
   produced by OUR writer (validating the writer as well).  The ALPH
   alpha channel must match exactly through the container path.
"""

import struct

import numpy as np
import pytest

from _refcodecs import load_libwebp
from hquery_php_spark.operators.vp8 import (
    MBSpec,
    decode_vp8_rgba,
    decode_vp8_yuv,
    encode_vp8_stream,
    wrap_webp,
)
from hquery_php_spark.operators.webp import decode_webp

LIBWEBP = load_libwebp()
needs_libwebp = pytest.mark.skipif(LIBWEBP is None, reason="system libwebp not available")


def _payload_of(data: bytes) -> bytes:
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if tag == b"VP8 ":
            return data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
    raise AssertionError("no VP8 chunk")


def _test_image(seed: int, h: int, w: int) -> np.ndarray:
    r = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        (np.sin(yy / 7.0) * 80 + np.cos(xx / 5.0) * 70 + 128)
        + r.normal(0, 12, (h, w))
    ).clip(0, 255).astype(np.uint8)
    return np.dstack(
        [base, (base // 2 + 60).astype(np.uint8), 255 - base,
         np.full((h, w), 255, np.uint8)]
    )


# ---------------------------------------------------------------- #
# self-contained


def test_writer_decoder_roundtrip_all_submodes():
    rng = np.random.default_rng(1)
    for sub in range(10):
        mbs = [
            MBSpec(ymode=0, y_blocks=[[int(x) for x in rng.integers(-8, 9, 16)] for _ in range(16)]),
            MBSpec(ymode=3, y_blocks=[[int(x) for x in rng.integers(-8, 9, 16)] for _ in range(16)]),
            MBSpec(ymode=1, y_blocks=[[int(x) for x in rng.integers(-8, 9, 16)] for _ in range(16)]),
            MBSpec(ymode=4, submodes=[sub] * 16),
        ]
        stream = encode_vp8_stream(32, 32, mbs, qi=20)
        w, h, y, u, v = decode_vp8_yuv(stream)
        assert (w, h) == (32, 32)
        assert y.shape == (32, 32) and u.shape == (16, 16)


def test_decode_is_deterministic_and_clamped():
    rng = np.random.default_rng(2)
    mbs = [MBSpec(ymode=4, submodes=[int(x) for x in rng.integers(0, 10, 16)],
                  y_blocks=[[int(x) for x in rng.integers(-40, 41, 16)] for _ in range(16)],
                  uv_blocks=[[int(x) for x in rng.integers(-20, 21, 16)] for _ in range(8)])
           for _ in range(4)]
    stream = encode_vp8_stream(32, 32, mbs, qi=60)
    a = decode_vp8_yuv(stream)
    b = decode_vp8_yuv(stream)
    assert all(np.array_equal(x, y) for x, y in zip(a[2:], b[2:]))
    assert a[2].dtype == np.uint8


def test_truncated_and_garbage_streams_rejected():
    with pytest.raises(ValueError):
        decode_vp8_yuv(b"\x00" * 9)
    # zero partition-0 size
    bad = b"\x00\x00\x00\x9d\x01\x2a" + (16).to_bytes(2, "little") + (16).to_bytes(2, "little")
    with pytest.raises(ValueError):
        decode_vp8_yuv(bad)
    # inter frame flag
    mbs = [MBSpec()]
    stream = bytearray(encode_vp8_stream(16, 16, mbs))
    stream[0] |= 1  # not a key frame
    with pytest.raises(ValueError):
        decode_vp8_yuv(bytes(stream))


def test_container_mutation_fuzz_never_raises():
    rng = np.random.default_rng(3)
    mbs = [MBSpec(ymode=0, y_blocks=[[int(x) for x in rng.integers(-5, 6, 16)] for _ in range(16)])]
    good = wrap_webp(encode_vp8_stream(16, 16, mbs, qi=10))
    for _ in range(300):
        buf = bytearray(good)
        for _ in range(int(rng.integers(1, 6))):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        r = decode_webp(bytes(buf))  # None or pixels, never an exception
        assert r is None or len(r) == 4


# ---------------------------------------------------------------- #
# conformance vs libwebp


@needs_libwebp
@pytest.mark.parametrize("method", [0, 2, 4, 6])
@pytest.mark.parametrize("quality", [95, 75, 40])
def test_yuv_bitexact_methods_qualities(method, quality):
    px = _test_image(method * 100 + quality, 48, 64)
    data = LIBWEBP.encode_rgba_advanced(
        px, quality=float(quality), method=method,
        filter_strength=0, autofilter=0, segments=1,
    )
    w, h, y, u, v = decode_vp8_yuv(_payload_of(data))
    ry, ru, rv = LIBWEBP.decode_yuv(data)
    assert np.array_equal(y, ry) and np.array_equal(u, ru) and np.array_equal(v, rv)


@needs_libwebp
@pytest.mark.parametrize("cfg", [
    dict(filter_strength=30),
    dict(filter_strength=60, filter_sharpness=3),
    dict(filter_strength=50, filter_type=1),       # simple filter
    dict(autofilter=1),
    dict(filter_strength=40, segments=4),
    dict(segments=3, sns_strength=80),
    dict(filter_strength=40, partitions=2),
    dict(partitions=3, segments=4, filter_strength=25),
], ids=lambda c: ",".join(f"{k}={v}" for k, v in c.items()))
def test_yuv_bitexact_filters_segments_partitions(cfg):
    for q in (90, 45):
        px = _test_image(q, 96, 80)
        data = LIBWEBP.encode_rgba_advanced(px, quality=float(q), method=4, **cfg)
        w, h, y, u, v = decode_vp8_yuv(_payload_of(data))
        ry, ru, rv = LIBWEBP.decode_yuv(data)
        assert np.array_equal(y, ry) and np.array_equal(u, ru) and np.array_equal(v, rv)


@needs_libwebp
def test_yuv_bitexact_edge_sizes():
    for q in (100, 55, 10):
        for i, (hh, ww) in enumerate([(1, 1), (1, 37), (37, 1), (15, 17), (31, 31), (129, 64)]):
            r = np.random.default_rng(q * 10 + i)
            px = np.dstack([r.integers(0, 256, (hh, ww, 3), dtype=np.uint8),
                            np.full((hh, ww, 1), 255, np.uint8)])
            data = LIBWEBP.encode_rgba(px, float(q))
            w, h, y, u, v = decode_vp8_yuv(_payload_of(data))
            ry, ru, rv = LIBWEBP.decode_yuv(data)
            assert np.array_equal(y, ry) and np.array_equal(u, ru) and np.array_equal(v, rv)


@needs_libwebp
def test_our_writer_streams_decode_identically_in_libwebp():
    rng = np.random.default_rng(7)
    for _ in range(5):
        mbs = [MBSpec(ymode=4, submodes=[int(x) for x in rng.integers(0, 10, 16)],
                      uvmode=int(rng.integers(0, 4)),
                      y_blocks=[[int(x) for x in rng.integers(-6, 7, 16)] for _ in range(16)])
               for _ in range(4)]
        stream = encode_vp8_stream(32, 32, mbs, qi=30)
        w, h, y, u, v = decode_vp8_yuv(stream)
        ry, ru, rv = LIBWEBP.decode_yuv(wrap_webp(stream))
        assert np.array_equal(y, ry) and np.array_equal(u, ru) and np.array_equal(v, rv)


@needs_libwebp
def test_alpha_channel_exact_through_container():
    rng = np.random.default_rng(11)
    for q in (100, 60, 20):
        for hh, ww in [(17, 31), (64, 64), (5, 7)]:
            px = np.dstack([rng.integers(0, 256, (hh, ww, 3), dtype=np.uint8),
                            rng.integers(0, 256, (hh, ww, 1), dtype=np.uint8)])
            data = LIBWEBP.encode_rgba(px, float(q))
            ours = decode_webp(data)
            ref = LIBWEBP.decode_rgba(data)
            assert ours is not None
            assert np.array_equal(ours[3][:, :, 3], ref[:, :, 3])


@needs_libwebp
def test_lossy_rgba_through_decode_webp():
    px = _test_image(21, 40, 56)
    data = LIBWEBP.encode_rgba(px, 75.0)
    r = decode_webp(data)
    assert r is not None
    w, h, ch, out = r
    assert (w, h, ch) == (56, 40, 4)
    # documented BT.601 conversion: close to libwebp's RGB, exact alpha
    ref = LIBWEBP.decode_rgba(data)
    assert np.array_equal(out[:, :, 3], ref[:, :, 3])
    diff = np.abs(out[:, :, :3].astype(int) - ref[:, :, :3].astype(int))
    assert diff.mean() < 8  # conversion/upsampling differences only
