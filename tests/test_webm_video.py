"""WebM → VP8 frame decode: mux/demux round trips, lacing modes,
keyframe semantics, the Spark dispatch branch, and (lib-gated)
conformance against libwebp-encoded VP8 streams muxed into WebM.

The decoder under test is the composition of two already-pinned parts:
the Matroska/EBML walk (operators/mediameta.py) and the RFC 6386 VP8
key-frame decoder (operators/vp8.py, bit-exact vs libwebp) — these
tests pin the block plumbing between them.
"""

import struct

import numpy as np
import pytest

from hquery_php_spark.operators.mediameta import (
    _el,
    _eid,
    _vint,
    _CLUSTER,
    _CLUSTER_TS,
    _DOCTYPE,
    _EBML,
    _INFO,
    _SEGMENT,
    _SIMPLE_BLOCK,
    _BLOCK,
    _BLOCK_GROUP,
    _CODEC_ID,
    _PIXEL_H,
    _PIXEL_W,
    _TIMESTAMP_SCALE,
    _TRACKS,
    _TRACK_ENTRY,
    _TRACK_NUMBER,
    _TRACK_TYPE,
    _VIDEO,
    _uint_el,
    decode_webm_frames,
    encode_webm_vp8,
    webm_meta,
    webm_video_blocks,
)
from hquery_php_spark.operators.vp8 import (
    MBSpec,
    decode_vp8_rgba,
    encode_vp8_stream,
)


def _vp8_const(level: int, w: int = 20, h: int = 12, qi: int = 100) -> bytes:
    """Y2-DC-only constant frame (same shape as the driver oracle)."""
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    mbs = [MBSpec(y2_block=[level] + [0] * 15)] + [
        MBSpec() for _ in range(mbw * mbh - 1)
    ]
    return encode_vp8_stream(w, h, mbs, qi=qi)


def test_mux_demux_roundtrip_matches_direct_decode():
    streams = [_vp8_const(1 + 5 * f) for f in range(4)]
    webm = encode_webm_vp8(20, 12, streams)
    meta = webm_meta(webm)
    assert meta["doctype"] == "webm" and (meta["width"], meta["height"]) == (20, 12)
    blocks = webm_video_blocks(webm)
    assert [(n, k) for n, k, _ in blocks] == [(f, True) for f in range(4)]
    frames = decode_webm_frames(webm)
    assert [n for n, _ in frames] == [0, 1, 2, 3]
    for n, px in frames:
        want = decode_vp8_rgba(streams[n])[3][:, :, :3]
        assert np.array_equal(px, want)


def test_simpleblock_keyframe_flag_from_vp8_tag():
    kf = _vp8_const(3)
    webm = encode_webm_vp8(20, 12, [kf])
    # the muxer derived the 0x80 flag from the frame tag
    i = webm.index(kf)
    assert webm[i - 1] == 0x80


def test_interframe_consumes_frame_number_but_yields_no_pixels():
    kf = _vp8_const(2)
    inter = bytes([kf[0] | 0x01]) + kf[1:]  # frame tag says inter frame
    webm = encode_webm_vp8(20, 12, [kf, inter, kf])
    blocks = webm_video_blocks(webm)
    assert [(n, k) for n, k, _ in blocks] == [(0, True), (1, False), (2, True)]
    frames = decode_webm_frames(webm)
    assert [n for n, _ in frames] == [0, 2]  # source-frame semantics


def _mux_laced(streams, lacing: int) -> bytes:
    """Hand-mux one SimpleBlock holding all streams under the given
    lacing mode (1 = Xiph, 2 = fixed, 3 = EBML)."""
    body = _vint(1, 1) + struct.pack(">h", 0) + bytes([0x80 | (lacing << 1)])
    body += bytes([len(streams) - 1])
    if lacing == 1:  # Xiph 255-run sizes for all but the last
        for s in streams[:-1]:
            n = len(s)
            body += b"\xff" * (n // 255) + bytes([n % 255])
    elif lacing == 3:  # EBML: first absolute, then signed deltas
        body += _vint(len(streams[0]), 2)
        prev = len(streams[0])
        for s in streams[1:-1]:
            delta = len(s) - prev
            body += _vint(delta + (1 << 13) - 1, 2)  # 2-byte signed vint
            prev = len(s)
    body += b"".join(streams)
    track = _el(
        _TRACK_ENTRY,
        _uint_el(_TRACK_NUMBER, 1)
        + _uint_el(_TRACK_TYPE, 1)
        + _el(_CODEC_ID, b"V_VP8")
        + _el(_VIDEO, _uint_el(_PIXEL_W, 20) + _uint_el(_PIXEL_H, 12)),
    )
    cluster = _el(_CLUSTER, _uint_el(_CLUSTER_TS, 0) + _el(_SIMPLE_BLOCK, body))
    seg = _el(_SEGMENT, _el(_INFO, _uint_el(_TIMESTAMP_SCALE, 1000000))
              + _el(_TRACKS, track) + cluster)
    return _el(_EBML, _el(_DOCTYPE, b"webm")) + seg


@pytest.mark.parametrize("lacing", [1, 3])
def test_laced_blocks_variable_sizes(lacing):
    streams = [_vp8_const(1 + 7 * f) for f in range(3)]
    webm = _mux_laced(streams, lacing)
    frames = decode_webm_frames(webm)
    assert [n for n, _ in frames] == [0, 1, 2]
    for n, px in frames:
        want = decode_vp8_rgba(streams[n])[3][:, :, :3]
        assert np.array_equal(px, want)


def test_fixed_lacing_equal_sizes():
    s = _vp8_const(9)
    streams = [s, s, s]
    webm = _mux_laced(streams, 2)
    frames = decode_webm_frames(webm)
    assert len(frames) == 3
    want = decode_vp8_rgba(s)[3][:, :, :3]
    assert all(np.array_equal(px, want) for _, px in frames)


def test_blockgroup_block_path():
    s = _vp8_const(4)
    body = _vint(1, 1) + struct.pack(">h", 0) + b"\x00" + s
    track = _el(
        _TRACK_ENTRY,
        _uint_el(_TRACK_NUMBER, 1) + _uint_el(_TRACK_TYPE, 1)
        + _el(_CODEC_ID, b"V_VP8"),
    )
    cluster = _el(
        _CLUSTER,
        _uint_el(_CLUSTER_TS, 0) + _el(_BLOCK_GROUP, _el(_BLOCK, body)),
    )
    seg = _el(_SEGMENT, _el(_TRACKS, track) + cluster)
    webm = _el(_EBML, _el(_DOCTYPE, b"webm")) + seg
    frames = decode_webm_frames(webm)
    assert len(frames) == 1
    assert np.array_equal(frames[0][1], decode_vp8_rgba(s)[3][:, :, :3])


def test_other_tracks_ignored_and_no_vp8_track_is_empty():
    s = _vp8_const(5)
    webm = encode_webm_vp8(20, 12, [s])
    # a second, non-VP8 block (track 2) must be invisible to the walk
    body2 = _vint(2, 1) + struct.pack(">h", 0) + b"\x80" + b"junkjunk"
    blk2 = _el(_SIMPLE_BLOCK, body2)
    cl = webm.index(_eid(_CLUSTER))
    patched = webm[:cl] + webm[cl:] + blk2  # trailing garbage is clamped
    assert len(decode_webm_frames(patched)) == 1
    # V_VP9 codec id → no decodable track → []
    vp9 = encode_webm_vp8(20, 12, [s]).replace(b"V_VP8", b"V_VP9")
    assert webm_video_blocks(vp9) == []
    assert decode_webm_frames(vp9) == []


def test_max_frames_and_rejections():
    streams = [_vp8_const(1 + f) for f in range(5)]
    webm = encode_webm_vp8(20, 12, streams)
    assert len(decode_webm_frames(webm, max_frames=2)) == 2
    assert decode_webm_frames(None) is None
    assert decode_webm_frames(b"") is None
    assert decode_webm_frames(b"RIFF....AVI ") is None
    # corrupt ONE frame's VP8 start code: that frame is skipped, not fatal
    i = webm.index(streams[2])
    bad = bytearray(webm)
    bad[i + 3 : i + 6] = b"\x00\x00\x00"  # 9D 01 2A start code gone
    out = decode_webm_frames(bytes(bad))
    assert [n for n, _ in out] == [0, 1, 3, 4]


def test_never_raises_on_truncation_and_bitflips():
    webm = encode_webm_vp8(20, 12, [_vp8_const(6), _vp8_const(7)])
    for cut in range(0, len(webm), 7):
        decode_webm_frames(webm[:cut])  # must not raise
    rng = np.random.default_rng(7)
    for _ in range(60):
        b = bytearray(webm)
        for _ in range(3):
            b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
        decode_webm_frames(bytes(b))  # must not raise


def test_conformance_vs_libwebp_encoded_vp8():
    """Real-encoder streams: libwebp encodes RGBA → VP8; we pull the
    'VP8 ' chunk out of the RIFF container, mux it into WebM, and the
    WebM path must decode pixel-identically to the WebP path (which is
    itself pinned bit-exact against libwebp's decoder)."""
    from _refcodecs import load_libwebp
    from hquery_php_spark.operators.webp import decode_webp

    lw = load_libwebp()
    if lw is None:
        pytest.skip("libwebp not available")
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (24, 33, 4), dtype=np.uint8)
    px[:, :, 3] = 255
    data = lw.encode_rgba(px, quality=80.0)
    # RIFF walk: WEBP header, then chunks
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    pos, vp8 = 12, None
    while pos + 8 <= len(data):
        cc = data[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", data, pos + 4)
        if cc == b"VP8 ":
            vp8 = data[pos + 8 : pos + 8 + sz]
            break
        pos += 8 + sz + (sz & 1)
    assert vp8 is not None
    webm = encode_webm_vp8(33, 24, [vp8, vp8])
    frames = decode_webm_frames(webm)
    assert [n for n, _ in frames] == [0, 1]
    _w, _h, _ch, want = decode_webp(data)
    for _, got in frames:
        assert np.array_equal(got, want[:, :, :3])


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("hquery-webm-video-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_video_frame_sample_webm_branch(spark):
    from hquery_php_spark.operators.multimodal import (
        decode_png,
        video_frame_sample_df,
    )

    streams = [_vp8_const(1 + 4 * f, w=18, h=10) for f in range(5)]
    rows = [("wv1", bytearray(encode_webm_vp8(18, 10, streams)))]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = video_frame_sample_df(df, every_n=2, max_frames=8).collect()
    assert [r.frame_no for r in got] == [0, 2, 4]
    assert all(r.mime == "video/webm" for r in got)
    for r in got:
        w, h, _ch, px = decode_png(bytes(r.frame))
        assert (w, h) == (18, 10)
        want = decode_vp8_rgba(streams[r.frame_no])[3][:, :, :3]
        assert np.array_equal(px[:, :, :3], want)


def test_sampling_stride_pushed_into_the_walk(monkeypatch):
    """every_n must prevent the bit decoder from ever seeing dropped
    frames — decode-after-sample, the order that matters at scale."""
    import hquery_php_spark.operators.vp8 as vp8mod

    streams = [_vp8_const(1 + f) for f in range(6)]
    webm = encode_webm_vp8(20, 12, streams)
    calls = []
    orig = vp8mod.decode_vp8_rgba
    monkeypatch.setattr(vp8mod, "decode_vp8_rgba",
                        lambda d: calls.append(1) or orig(d))
    out = decode_webm_frames(webm, max_frames=8, every_n=3)
    assert [n for n, _ in out] == [0, 3]
    assert len(calls) == 2  # exactly the sampled frames were decoded


def test_matroska_doctype_same_walk():
    """MKV is the same EBML structure under a different DocType — the
    V_VP8 walk must not care, and the sniffer must label it mkv."""
    from hquery_php_spark.operators import mediameta as M
    from hquery_php_spark.operators.multimodal import sniff_media_type

    s = _vp8_const(5, w=12, h=8)
    webm = encode_webm_vp8(12, 8, [s])
    seg = webm.index(_eid(_SEGMENT))
    mkv = _el(_EBML, _el(_DOCTYPE, b"matroska")) + webm[seg:]
    assert sniff_media_type(mkv) == "video/x-matroska"
    frames = M.decode_webm_frames(mkv)
    assert len(frames) == 1
    assert np.array_equal(frames[0][1], decode_vp8_rgba(s)[3][:, :, :3])
