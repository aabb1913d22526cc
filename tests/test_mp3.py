"""MP3 / MPEG Layer III frame-header walk tests (operators/mediameta.py):
version/bitrate/rate table coverage, per-frame size arithmetic with the
alternating padding bit, ID3v2 skip, Xing detection, truncation/garbage
boundaries, never-raise fuzz, and the audio_container_meta_df dispatch.
"""

import pytest
from hypothesis import given, settings, strategies as st

from hquery_php_spark.operators.mediameta import (
    _MP3_BITRATES_V1L3,
    _MP3_BITRATES_V2L3,
    _MP3_RATES,
    encode_mp3_stub,
    mp3_meta,
)
from hquery_php_spark.operators.multimodal import sniff_media_type


@pytest.mark.parametrize("rate", [44100, 48000, 32000])
@pytest.mark.parametrize("br", [32, 128, 320])
@pytest.mark.parametrize("channels", [1, 2])
def test_mpeg1_roundtrip(rate, br, channels):
    p = encode_mp3_stub(4, br, rate, channels)
    assert sniff_media_type(p) == "audio/mpeg"
    m = mp3_meta(p)
    assert m == {
        "version": "1", "bitrate_kbps": br, "sample_rate": rate,
        "channels": channels, "n_frames": 4, "total_samples": 4 * 1152,
        "duration_ms": 4 * 1152 * 1000 // rate,
        "has_id3v2": False, "has_xing": False,
        "title": None, "artist": None, "album": None,
        "xing_frames": None, "xing_bytes": None,
        "vbri_frames": None, "vbri_bytes": None,
        "declared_frames": None, "declared_total_samples": None,
        "declared_duration_ms": None,
    }


@pytest.mark.parametrize("rate,ver", [(22050, "2"), (24000, "2"), (16000, "2"),
                                      (11025, "2.5"), (12000, "2.5"), (8000, "2.5")])
def test_mpeg2_and_25_roundtrip(rate, ver):
    p = encode_mp3_stub(3, 64, rate, 1)
    m = mp3_meta(p)
    assert m["version"] == ver
    assert m["sample_rate"] == rate
    assert m["n_frames"] == 3
    assert m["total_samples"] == 3 * 576
    assert m["channels"] == 1


def test_every_table_bitrate_roundtrips():
    for br in _MP3_BITRATES_V1L3[1:]:
        assert mp3_meta(encode_mp3_stub(2, br, 44100))["bitrate_kbps"] == br
    for br in _MP3_BITRATES_V2L3[1:]:
        assert mp3_meta(encode_mp3_stub(2, br, 22050))["bitrate_kbps"] == br


def test_id3v2_text_frames():
    p = encode_mp3_stub(
        2, 128, 44100, 2, id3v2_tag_size=64,
        id3_frames={"TIT2": "My Song", "TPE1": "Some Artist", "TALB": "An Album"},
    )
    m = mp3_meta(p)
    assert (m["title"], m["artist"], m["album"]) == (
        "My Song", "Some Artist", "An Album"
    )
    assert m["n_frames"] == 2 and m["has_id3v2"]
    # junk-only tag (no frames): fields stay None, frames still counted
    j = mp3_meta(encode_mp3_stub(3, 64, 22050, 1, id3v2_tag_size=50))
    assert j["title"] is None and j["n_frames"] == 3


def test_id3v2_skip_and_xing():
    p = encode_mp3_stub(6, 128, 44100, 2, id3v2_tag_size=77, xing=True)
    assert p[:3] == b"ID3"
    assert sniff_media_type(p) == "audio/mpeg"  # via the ID3 magic
    m = mp3_meta(p)
    assert m["has_id3v2"] and m["has_xing"]
    assert m["n_frames"] == 6  # Xing frame counts, documented

    mono = mp3_meta(encode_mp3_stub(2, 64, 22050, 1, xing=True))
    assert mono["has_xing"]  # MPEG-2 mono side-info offset (9 bytes)


def test_padding_alternates_frame_sizes():
    # frame length differs by exactly 1 byte between pad=0 and pad=1
    one = len(encode_mp3_stub(1, 128, 44100))   # frame 0: pad 0
    two = len(encode_mp3_stub(2, 128, 44100))   # + frame 1: pad 1
    assert two - one == one + 1


def test_truncation_and_garbage_return_none():
    p = encode_mp3_stub(3, 128, 44100)
    # a quarter of the stream is shorter than one whole frame
    assert mp3_meta(p[: len(p) // 4]) is None
    assert mp3_meta(b"") is None
    assert mp3_meta(None) is None
    assert mp3_meta(b"\xff\xfb") is None          # header cut short
    assert mp3_meta(b"ID3\x03\x00\x00\x00\x00\x00\x05hello") is None  # tag only
    assert mp3_meta(b"garbage bytes here") is None


def test_walk_stops_at_corrupt_tail():
    p = encode_mp3_stub(4, 128, 44100)
    m_full = mp3_meta(p)
    # cut mid-3rd-frame: the walk keeps the 2 complete frames
    flen0 = 144000 * 128 // 44100      # pad 0
    flen1 = flen0 + 1                  # pad 1
    cut = p[: flen0 + flen1 + 10]
    m_cut = mp3_meta(cut)
    assert m_full["n_frames"] == 4 and m_cut["n_frames"] == 2
    assert m_cut["total_samples"] == 2 * 1152


def test_free_format_and_reserved_stop_walk():
    p = bytearray(encode_mp3_stub(2, 128, 44100))
    p[2] = p[2] & 0x0F          # bitrate idx 0 (free format) in frame 0
    assert mp3_meta(bytes(p)) is None
    q = bytearray(encode_mp3_stub(2, 128, 44100))
    q[1] = (q[1] & ~0x06) | 0x06  # layer I bits: not our walker's target
    assert mp3_meta(bytes(q)) is None


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=600))
def test_mp3_meta_never_raises(data):
    m = mp3_meta(data)
    assert m is None or m["n_frames"] >= 1


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 6),
    st.sampled_from([44100, 48000, 32000, 22050, 24000, 16000, 11025, 12000, 8000]),
    st.integers(0, 13),
    st.integers(1, 2),
)
def test_roundtrip_property(n_frames, rate, br_i, channels):
    table = _MP3_BITRATES_V1L3 if rate >= 32000 else _MP3_BITRATES_V2L3
    br = table[1 + br_i]
    m = mp3_meta(encode_mp3_stub(n_frames, br, rate, channels))
    assert (m["n_frames"], m["bitrate_kbps"], m["sample_rate"], m["channels"]) == (
        n_frames, br, rate, channels
    )


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("hquery-mp3-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_audio_container_meta_df_dispatch(spark):
    from hquery_php_spark.operators.multimodal import audio_container_meta_df

    rows = [
        ("a", bytearray(encode_mp3_stub(3, 128, 44100, 2, xing=True))),
        ("b", bytearray(encode_mp3_stub(2, 64, 22050, 1, id3v2_tag_size=20))),
        ("c", bytearray(b"not audio at all")),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r["media_id"]: r.asDict() for r in audio_container_meta_df(df).collect()}
    assert got["a"]["codec"] == "mp3" and got["a"]["n_pages"] == 3
    assert got["a"]["last_granule"] == 3 * 1152
    assert got["b"]["channels"] == 1 and got["b"]["sample_rate"] == 22050
    assert got["b"]["last_granule"] == 2 * 576
    assert got["c"]["codec"] is None


def test_id3v24_synchsafe_frames_and_utf8():
    """v2.4 frame sizes are SYNCHSAFE (7-bit groups) where v2.3 uses
    plain 32-bit — a >127-byte frame misparses under the wrong rule —
    and encoding byte 3 is UTF-8."""
    from hquery_php_spark.operators.mediameta import encode_mp3_stub, mp3_meta

    long_title = "Пример-" + "x" * 200  # frame body > 127 bytes
    p = encode_mp3_stub(
        4, 128, 44100,
        id3_frames={"TIT2": long_title, "TALB": "Альбом"},
        id3_version=4,
    )
    assert p[3] == 4
    m = mp3_meta(p)
    assert m["title"] == long_title and m["album"] == "Альбом"
    assert m["n_frames"] == 4 and m["has_id3v2"]
    # a v2.4 tag whose size bytes have the high bit set is corrupt:
    # the text walk stops, the audio walk is unaffected
    bad = bytearray(p)
    bad[14] |= 0x80  # first frame's size byte 0
    m2 = mp3_meta(bytes(bad))
    assert m2["title"] is None and m2["n_frames"] == 4


def test_id3v23_long_frame_still_plain_size():
    from hquery_php_spark.operators.mediameta import encode_mp3_stub, mp3_meta

    long_artist = "y" * 300
    m = mp3_meta(encode_mp3_stub(3, 64, 22050, id3_frames={"TPE1": long_artist}))
    assert m["artist"] == long_artist


def test_xing_frames_and_bytes_fields():
    from hquery_php_spark.operators.mediameta import encode_mp3_stub, mp3_meta

    p = encode_mp3_stub(5, 128, 44100, 2, xing=True)
    m = mp3_meta(p)
    assert m["xing_frames"] == 5
    assert m["xing_bytes"] == len(p)  # no ID3 prefix: whole stream
    assert m["declared_frames"] == 5
    assert m["declared_total_samples"] == 5 * 1152
    # declared == walked on a complete stream
    assert m["declared_duration_ms"] == m["duration_ms"]


def test_xing_vbr_duration_on_truncated_stream():
    """The head-only-fetch shape: only 3 frames fetched of a stream
    declaring 40 — duration must come from the Xing frames field, not
    the walk (the whole point of VBR headers at crawl scale)."""
    from hquery_php_spark.operators.mediameta import encode_mp3_stub, mp3_meta

    p = encode_mp3_stub(40, 128, 44100, 2, xing=True, truncate_frames=3)
    m = mp3_meta(p)
    assert m["n_frames"] == 3  # walked
    assert m["declared_frames"] == 40
    assert m["declared_total_samples"] == 40 * 1152
    assert m["declared_duration_ms"] == 40 * 1152 * 1000 // 44100
    assert m["duration_ms"] == 3 * 1152 * 1000 // 44100  # walked stays honest


def test_truncate_beyond_stream_keeps_whole_stream():
    from hquery_php_spark.operators.mediameta import encode_mp3_stub

    whole = encode_mp3_stub(5, 128, 44100)
    assert encode_mp3_stub(5, 128, 44100, truncate_frames=6) == whole


def test_vbri_header_parsed():
    from hquery_php_spark.operators.mediameta import encode_mp3_stub, mp3_meta

    # MPEG-1 and MPEG-2 (different side-info/spf) both carry VBRI at
    # the fixed 32-bytes-after-header offset
    p1 = encode_mp3_stub(7, 96, 32000, 1, vbri=True)
    m1 = mp3_meta(p1)
    assert m1["vbri_frames"] == 7 and m1["vbri_bytes"] == len(p1)
    assert m1["declared_frames"] == 7
    p2 = encode_mp3_stub(4, 96, 22050, 2, vbri=True, declared_frames=90)
    m2 = mp3_meta(p2)
    assert m2["vbri_frames"] == 90
    assert m2["declared_total_samples"] == 90 * 576
    # xing wins when both could exist; xing absent here
    assert m2["xing_frames"] is None


def test_vbr_stream_per_frame_sizes_walked():
    """vbr=True cycles the bitrate per frame: the walker must follow
    each header's own size arithmetic (CBR assumptions would desync)."""
    from hquery_php_spark.operators.mediameta import encode_mp3_stub, mp3_meta

    p = encode_mp3_stub(10, 64, 44100, 2, xing=True, vbr=True)
    m = mp3_meta(p)
    assert m["n_frames"] == 10
    assert m["xing_frames"] == 10
    assert m["xing_bytes"] == len(p)


def test_vbr_tag_too_small_frame_raises():
    import pytest as _pytest

    from hquery_php_spark.operators.mediameta import encode_mp3_stub

    # MPEG-2 8 kbps frame (24 B) cannot hold a VBRI block at offset 36
    with _pytest.raises(ValueError):
        encode_mp3_stub(3, 8, 24000, 1, vbri=True)
