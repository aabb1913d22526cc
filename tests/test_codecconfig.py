"""Codec-configuration records (operators/codecconfig.py): bit-exact
round-trips for every writer/parser pair, hand-built golden bitstreams
re-derived longhand from the public specs, RFC 6381 string goldens
matching real-world values, and — for AV1 — conformance against REAL
libavif/libaom output (both the av1C property and the sequence-header
OBU in the coded bitstream)."""

import pytest

from hquery_php_spark.operators import codecconfig as cc
from _refcodecs import load_libavif
from hquery_php_spark.operators.mediameta import encode_mp4_stub, mp4_meta

LIBAVIF = load_libavif()


# ------------------------------------------------- bit I/O primitives


def test_exp_golomb_round_trip():
    w = cc.BitWriter()
    vals = [0, 1, 2, 3, 7, 8, 254, 255, 1023, 65535]
    for v in vals:
        w.ue(v)
    svals = [0, 1, -1, 2, -2, 127, -128, 30000]
    for v in svals:
        w.se(v)
    w.byte_align()
    r = cc.BitReader(w.bytes())
    assert [r.ue() for _ in vals] == vals
    assert [r.se() for _ in svals] == svals


def test_exp_golomb_golden_bits():
    # §9.1 table: 0->'1', 1->'010', 2->'011', 3->'00100'
    assert cc.BitWriter().ue(0).u(0, 7).bytes() == b"\x80"
    assert cc.BitWriter().ue(1).u(0, 5).bytes() == b"\x40"
    assert cc.BitWriter().ue(2).u(0, 5).bytes() == b"\x60"
    assert cc.BitWriter().ue(3).u(0, 3).bytes() == b"\x20"


def test_rbsp_escape_round_trip_adversarial():
    cases = [
        b"\x00\x00\x00",
        b"\x00\x00\x01",
        b"\x00\x00\x02",
        b"\x00\x00\x03",
        b"\x00\x00\x04",  # no escape needed
        b"\x00" * 8,
        b"\xff\x00\x00\x03\x00\x00\x00\x01\x02",
    ]
    for raw in cases:
        esc = cc.rbsp_escape(raw)
        assert b"\x00\x00\x00" not in esc[:-1] or esc == raw
        assert cc.rbsp_unescape(esc) == raw, raw.hex()


def test_leb128_round_trip():
    for v in (0, 1, 127, 128, 300, 2**21, 2**28 - 1):
        w = cc.BitWriter().leb128(v)
        assert cc.BitReader(w.bytes()).leb128() == v


# ------------------------------------------------- H.264 SPS / avcC


@pytest.mark.parametrize(
    "w,h,profile,level",
    [
        (320, 240, 66, 30),  # Baseline, mod-16 dims -> no cropping
        (1920, 1080, 100, 40),  # High, crop_bottom = 4
        (1280, 720, 77, 31),  # Main
        (854, 480, 66, 30),  # crop_right = 5
        (2, 2, 66, 10),  # degenerate
        (322, 242, 100, 51),  # crop on both axes, High chroma block
    ],
)
def test_avc_sps_round_trip(w, h, profile, level):
    sps = cc.build_avc_sps(w, h, profile_idc=profile, level_idc=level)
    m = cc.parse_avc_sps(sps)
    assert m is not None
    assert (m["width"], m["height"]) == (w, h)
    assert (m["profile_idc"], m["level_idc"]) == (profile, level)
    assert m["chroma_format_idc"] == 1 and m["bit_depth_luma"] == 8


def test_avc_sps_interlaced_round_trip():
    sps = cc.build_avc_sps(720, 480, frame_mbs_only=False)
    m = cc.parse_avc_sps(sps)
    assert (m["width"], m["height"]) == (720, 480)
    assert m["frame_mbs_only"] is False


def test_avc_sps_golden_bytes():
    """Baseline 64x48 SPS re-derived bit-by-bit from §7.3.2.1:
    profile 66, constraints 0, level 30, then ue(0) sps_id, ue(0)
    log2_max_frame_num, ue(0) poc_type, ue(0) log2_max_poc_lsb, ue(1)
    max_refs, 0 gaps, ue(3) width_mbs-1, ue(2) height_units-1, 1
    frame_mbs_only, 1 direct_8x8, 0 cropping, 0 vui, rbsp stop."""
    bits = (
        "1"  # ue(0) sps_id
        "1"  # ue(0) log2_max_frame_num_minus4
        "1"  # ue(0) pic_order_cnt_type=0
        "1"  # ue(0) log2_max_pic_order_cnt_lsb_minus4
        "010"  # ue(1) max_num_ref_frames
        "0"  # gaps_in_frame_num_value_allowed_flag
        "00100"  # ue(3) pic_width_in_mbs_minus1 (64/16-1)
        "011"  # ue(2) pic_height_in_map_units_minus1 (48/16-1)
        "1"  # frame_mbs_only_flag
        "1"  # direct_8x8_inference_flag
        "0"  # frame_cropping_flag
        "0"  # vui_parameters_present_flag
        "1"  # rbsp_stop_one_bit
    )
    bits += "0" * (-len(bits) % 8)
    body = bytes(
        int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
    )
    expect = b"\x67" + bytes((66, 0, 30)) + body
    assert cc.build_avc_sps(64, 48, profile_idc=66, level_idc=30) == expect


def test_avcc_record_and_string():
    sps = cc.build_avc_sps(1920, 1080, profile_idc=100, level_idc=40)
    rec = cc.parse_avcc(cc.build_avcc(sps))
    assert rec["profile_idc"] == 100 and rec["level_idc"] == 40
    assert (rec["width"], rec["height"]) == (1920, 1080)
    assert rec["nal_length_size"] == 4
    assert len(rec["sps"]) == 1 and len(rec["pps"]) == 1
    assert cc.codec_string("avc1", rec) == "avc1.640028"
    base = cc.parse_avcc(cc.build_avcc(cc.build_avc_sps(640, 480)))
    assert cc.codec_string("avc1", base) == "avc1.42001E"


def test_avc_sps_rejects_garbage():
    assert cc.parse_avc_sps(b"") is None
    assert cc.parse_avc_sps(b"\x68\x00") is None  # PPS, not SPS
    assert cc.parse_avc_sps(b"\x67\x42") is None  # truncated
    assert cc.parse_avcc(b"\x02\x00") is None  # bad version


# ------------------------------------------------- HEVC hvcC


def test_hvcc_round_trip_and_strings():
    main = cc.parse_hvcc(cc.build_hvcc())
    assert (main["profile_idc"], main["level_idc"], main["tier"]) == (1, 93, 0)
    assert main["bit_depth_luma"] == 8 and main["chroma_format_idc"] == 1
    assert cc.codec_string("hev1", main) == "hev1.1.6.L93.B0"
    m10 = cc.parse_hvcc(cc.build_hvcc(profile_idc=2, level_idc=120))
    assert cc.codec_string("hvc1", m10) == "hvc1.2.4.L120.B0"
    high = cc.parse_hvcc(cc.build_hvcc(profile_idc=1, tier=1, level_idc=153))
    assert cc.codec_string("hev1", high) == "hev1.1.6.H153.B0"
    assert cc.parse_hvcc(b"\x00" * 23) is None


# ------------------------------------------------- AV1


@pytest.mark.parametrize(
    "w,h,profile,level,hbd,mono",
    [
        (640, 360, 0, 8, False, False),
        (1, 1, 0, 0, False, False),
        (3840, 2160, 0, 12, True, False),
        (640, 360, 0, 8, False, True),
    ],
)
def test_av1_seq_header_round_trip(w, h, profile, level, hbd, mono):
    obu = cc.build_av1_seq_header_obu(
        w, h, seq_profile=profile, seq_level_idx=level,
        high_bitdepth=hbd, monochrome=mono,
    )
    m = cc.parse_av1_seq_header_obu(obu)
    assert m is not None
    assert (m["width"], m["height"]) == (w, h)
    assert m["seq_profile"] == profile and m["seq_level_idx"] == level
    assert m["high_bitdepth"] is hbd and m["monochrome"] is mono


def test_av1c_record_and_string():
    obu = cc.build_av1_seq_header_obu(640, 360)
    rec = cc.parse_av1c(cc.build_av1c(seq_level_idx=8, config_obus=obu))
    assert (rec["seq_profile"], rec["seq_level_idx"]) == (0, 8)
    assert (rec["width"], rec["height"]) == (640, 360)
    assert cc.codec_string("av01", rec) == "av01.0.08M.08"
    hbd = cc.parse_av1c(cc.build_av1c(seq_level_idx=13, high_bitdepth=True))
    assert cc.codec_string("av01", hbd) == "av01.0.13M.10"
    assert cc.parse_av1c(b"\x01\x00\x00\x00") is None  # marker missing


pin = pytest.mark.skipif(LIBAVIF is None, reason="system libavif not available")


@pin
@pytest.mark.parametrize("w,h", [(40, 24), (33, 17), (1, 1), (64, 2)])
def test_av1_seq_header_reads_real_libaom_streams(w, h):
    """parse_av1_seq_header_obu must read libaom's own sequence headers
    (full NON-reduced syntax: operating points, order-hint tools) and
    recover the exact coded dimensions."""
    data = LIBAVIF.encode(w, h)
    i = data.find(b"mdat")
    assert i > 0
    m = cc.parse_av1_seq_header_obu(data[i + 4 :])
    assert m is not None
    assert (m["width"], m["height"]) == (w, h)
    assert m["seq_profile"] == 0 and m["high_bitdepth"] is False


@pin
def test_av1c_reads_real_libavif_record():
    data = LIBAVIF.encode(40, 24, fmt=1)  # YUV444 -> profile 1
    i = data.find(b"av1C")
    assert i > 0
    m = cc.parse_av1c(data[i + 4 : i + 4 + 128])
    assert m is not None and m["seq_profile"] == 1
    assert m["chroma_subsampling_x"] == 0 and m["chroma_subsampling_y"] == 0


# ------------------------------------------------- VP9 / AAC / Opus


def test_vpcc_round_trip_and_string():
    m = cc.parse_vpcc(cc.build_vpcc(profile=2, level=30, bit_depth=10))
    assert (m["profile"], m["level"], m["bit_depth"]) == (2, 30, 10)
    assert cc.codec_string("vp09", m) == "vp09.02.30.10"
    assert cc.codec_string("vp09", cc.parse_vpcc(cc.build_vpcc())) == (
        "vp09.00.10.08"
    )
    assert cc.parse_vpcc(b"\x00" * 12) is None


@pytest.mark.parametrize("rate", cc.AAC_FREQ_TABLE)
def test_esds_aac_round_trip(rate):
    m = cc.parse_esds(cc.build_esds(sample_rate=rate, channels=1))
    assert m == {
        "object_type": 0x40, "aot": 2, "sample_rate": rate, "channels": 1,
    }


def test_esds_mp3_oti_and_string():
    m = cc.parse_esds(cc.build_esds(object_type=0x6B))
    assert m["object_type"] == 0x6B and m["aot"] is None
    assert cc.codec_string("mp4a", m) == "mp4a.6B"
    aac = cc.parse_esds(cc.build_esds())
    assert cc.codec_string("mp4a", aac) == "mp4a.40.2"
    assert cc.parse_esds(b"\x00\x00\x00\x00\x07\x01") is None


def test_dops_round_trip():
    m = cc.parse_dops(cc.build_dops(channels=6, pre_skip=100,
                                    input_sample_rate=24000))
    assert (m["channels"], m["pre_skip"], m["input_sample_rate"]) == (
        6, 100, 24000,
    )
    assert cc.parse_dops(b"\x01" + b"\x00" * 10) is None  # bad version


# ------------------------------------------------- MP4 integration


def test_mp4_stub_carries_real_codec_configs():
    p = encode_mp4_stub(
        5000, 1920, 1080, n_tracks=2,
        video_codec="avc1", video_params={"profile": 100, "level": 40},
        audio_codec="mp4a",
    )
    m = mp4_meta(p)
    assert m["codecs"] == "avc1,mp4a"
    assert m["codec_tags"] == "avc1.640028,mp4a.40.2"
    assert (m["coded_width"], m["coded_height"]) == (1920, 1080)


def test_mp4_stub_av01_opus_and_legacy_unchanged():
    p = encode_mp4_stub(
        5000, 640, 360, n_tracks=2,
        video_codec="av01", video_params={"level": 9, "high_bitdepth": True},
        audio_codec="Opus",
    )
    m = mp4_meta(p)
    assert m["codec_tags"] == "av01.0.09M.10,Opus"
    assert (m["coded_width"], m["coded_height"]) == (640, 360)
    # legacy bare-entry path: unchanged fourccs, tags mirror fourccs
    legacy = mp4_meta(encode_mp4_stub(5000, 640, 480, n_tracks=2))
    assert legacy["codecs"] == "avc1,mp4a"
    assert legacy["codec_tags"] == "avc1,mp4a"
    assert legacy["coded_width"] is None


def test_mp4_meta_fuzz_never_raises():
    import random

    rng = random.Random(1234)
    base = encode_mp4_stub(
        5000, 640, 480, n_tracks=2,
        video_codec="avc1", video_params={"profile": 66, "level": 30},
        audio_codec="mp4a",
    )
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        mp4_meta(bytes(b))  # any dict/None is fine; no exception
    for cut in range(0, len(base), 7):
        mp4_meta(base[:cut])


# ------------------------------------------------- WebM / Matroska


def test_opus_head_round_trip():
    m = cc.parse_opus_head(cc.build_opus_head(channels=6, pre_skip=100))
    assert (m["channels"], m["pre_skip"], m["input_sample_rate"]) == (
        6, 100, 48000,
    )
    assert cc.parse_opus_head(b"OpusTags" + b"\x00" * 16) is None
    assert cc.parse_opus_head(b"OpusHead\x02" + b"\x00" * 10) is None


def test_vp9_codec_private_round_trip():
    m = cc.parse_vp9_codec_private(
        cc.build_vp9_codec_private(profile=2, level=41, bit_depth=12)
    )
    assert (m["profile"], m["level"], m["bit_depth"]) == (2, 41, 12)
    assert cc.codec_string("vp09", m) == "vp09.02.41.12"
    # partial feature list: no full tag
    assert cc.codec_string("vp09", {"profile": 1}) == "vp09"
    assert cc.parse_vp9_codec_private(b"") is None
    assert cc.parse_vp9_codec_private(b"\x01\x05\x00") is None  # truncated


def test_webm_stub_codec_private_tags():
    from hquery_php_spark.operators.mediameta import (
        encode_webm_stub, webm_meta,
    )

    m = webm_meta(encode_webm_stub(100000, 640, 360, n_tracks=3))
    assert m["codec_tags"] == "vp8,opus,opus"
    assert m["coded_width"] is None
    m = webm_meta(
        encode_webm_stub(
            100000, 641, 361, n_tracks=2, video_codec=b"V_VP9",
            video_params={"profile": 2, "level": 30, "bit_depth": 10},
        )
    )
    assert m["codecs"] == "V_VP9,A_OPUS"
    assert m["codec_tags"] == "vp09.02.30.10,opus"
    m = webm_meta(
        encode_webm_stub(
            100000, 641, 361, video_codec=b"V_AV1",
            video_params={"level": 9, "high_bitdepth": True},
        )
    )
    # Matroska V_AV1 CodecPrivate IS the av1C record; the sequence
    # header inside it is authoritative for the coded dims (odd dims
    # are representable in AV1, unlike H.264 4:2:0)
    assert m["codec_tags"] == "av01.0.09M.10"
    assert (m["coded_width"], m["coded_height"]) == (641, 361)


def test_webm_codec_private_fuzz_never_raises():
    import random

    from hquery_php_spark.operators.mediameta import (
        encode_webm_stub, webm_meta,
    )

    rng = random.Random(77)
    base = encode_webm_stub(
        100000, 320, 240, n_tracks=2, video_codec=b"V_AV1",
        video_params={"level": 5},
    )
    for _ in range(300):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        webm_meta(bytes(b))
    for cut in range(0, len(base), 5):
        webm_meta(base[:cut])


# ------------------------------------------------- HEVC SPS bitstream


@pytest.mark.parametrize(
    "w,h,profile,level,bd",
    [
        (1920, 1080, 1, 93, 8),   # 1080 % 8 == 0: no conformance window
        (1280, 720, 2, 120, 10),  # Main 10
        (322, 242, 1, 93, 8),     # crop on both axes
        (2, 2, 1, 10, 8),         # degenerate
        (3838, 2158, 1, 153, 8),  # near-4K with crop
    ],
)
def test_hevc_sps_round_trip(w, h, profile, level, bd):
    sps = cc.build_hevc_sps(
        w, h, profile_idc=profile, level_idc=level, bit_depth=bd
    )
    m = cc.parse_hevc_sps(sps)
    assert m is not None
    assert (m["width"], m["height"]) == (w, h)
    assert (m["profile_idc"], m["level_idc"]) == (profile, level)
    assert m["bit_depth_luma"] == bd and m["chroma_format_idc"] == 1


def test_hevc_sps_rejects_garbage():
    assert cc.parse_hevc_sps(b"") is None
    assert cc.parse_hevc_sps(b"\x40\x01\x00") is None  # VPS, not SPS
    assert cc.parse_hevc_sps(b"\x42\x01") is None  # truncated
    sps = cc.build_hevc_sps(640, 480)
    for cut in range(len(sps)):
        cc.parse_hevc_sps(sps[:cut])  # never raises


def test_hvcc_embedded_sps_gives_coded_dims():
    sps = cc.build_hevc_sps(1918, 1078, profile_idc=2, level_idc=120)
    rec = cc.parse_hvcc(cc.build_hvcc(profile_idc=2, level_idc=120, sps=sps))
    assert (rec["width"], rec["height"]) == (1918, 1078)
    assert cc.codec_string("hev1", rec) == "hev1.2.4.L120.B0"
    # record without arrays still parses, no dims claimed
    bare = cc.parse_hvcc(cc.build_hvcc())
    assert "width" not in bare


def test_mp4_hev1_coded_dims():
    p = encode_mp4_stub(
        5000, 1918, 1078, video_codec="hev1",
        video_params={"profile": 1, "level": 93},
    )
    m = mp4_meta(p)
    assert m["codec_tags"] == "hev1.1.6.L93.B0"
    assert (m["coded_width"], m["coded_height"]) == (1918, 1078)


def test_matroska_avc_hevc_codec_private():
    from hquery_php_spark.operators.mediameta import (
        encode_webm_stub, webm_meta,
    )

    m = webm_meta(
        encode_webm_stub(
            100, 854, 480, doctype=b"matroska",
            video_codec=b"V_MPEG4/ISO/AVC",
            video_params={"profile": 100, "level": 40},
        )
    )
    assert m["codecs"] == "V_MPEG4/ISO/AVC"
    assert m["codec_tags"] == "avc1.640028"
    assert (m["coded_width"], m["coded_height"]) == (854, 480)
    m = webm_meta(
        encode_webm_stub(
            100, 854, 480, doctype=b"matroska",
            video_codec=b"V_MPEGH/ISO/HEVC",
            video_params={"profile": 2, "level": 120},
        )
    )
    assert m["codec_tags"] == "hev1.2.4.L120.B0"
    assert (m["coded_width"], m["coded_height"]) == (854, 480)
