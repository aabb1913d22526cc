"""HEIF-family (AVIF/HEIC) meta-walk tests (operators/heif.py): stub
round-trips, the ISO-BMFF fullbox quirks, fuzz never-raise, and — the
real evidence — conformance against files produced by the container's
system libavif/libaom encoder (test-side ctypes only; skips cleanly
when the library is absent).

Reference parity note: the reference engine (duzun/hQuery.php) sniffs
content types before parsing (hQuery.php:136-226) but has no media
codec — this is beyond-reference multimodal surface: metadata REAL,
AV1/HEVC pixel decode an honest NULL (no such decoder in this repo).
"""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from _refcodecs import load_libavif
from hquery_php_spark.operators.heif import encode_heif_stub, heif_meta
from hquery_php_spark.operators.multimodal import sniff_media_type

LIBAVIF = load_libavif()


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("hquery-heif-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_stub_roundtrip_avif_and_heic():
    p = encode_heif_stub(640, 480, total_bytes=300)
    assert len(p) == 300
    assert sniff_media_type(p) == "image/avif"
    assert heif_meta(p) == {
        "brand": "avif", "codec": "av01", "width": 640, "height": 480,
        "n_items": 1, "rotation": 0,
        # the stub's av1C carries profile 0 / 8-bit / color
        "profile": 0, "bit_depth": 8, "monochrome": False,
    }
    h = encode_heif_stub(100, 50, brand=b"heic", codec=b"hvc1", rotation=3)
    assert sniff_media_type(h) == "image/heif"
    m = heif_meta(h)
    assert (m["codec"], m["rotation"], m["brand"]) == ("hvc1", 3, "heic")


def test_rejections_and_edges():
    assert heif_meta(None) is None
    assert heif_meta(b"") is None
    assert heif_meta(b"\x00\x00\x00\x18ftypmp42mp42") is None  # not HEIF
    assert heif_meta(b"garbage bytes here!!") is None
    # truncated mid-meta: walk stops, returns what it saw or None
    p = encode_heif_stub(20, 10)
    heif_meta(p[: len(p) // 2])  # must not raise
    # total_bytes below the structural minimum is an error
    with pytest.raises(ValueError):
        encode_heif_stub(1, 1, total_bytes=10)


def test_image_meta_df_heif_branch(spark):
    from hquery_php_spark.operators.multimodal import image_meta_df

    rows = [
        ("a", bytearray(encode_heif_stub(77, 33, total_bytes=260))),
        ("h", bytearray(encode_heif_stub(8, 9, brand=b"heic", codec=b"hvc1"))),
        ("x", bytearray(b"\x00\x00\x00\x18ftypavifjunk")),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r["media_id"]: r for r in image_meta_df(df).collect()}
    assert got["a"]["mime"] == "image/avif"
    assert (got["a"]["width"], got["a"]["height"], got["a"]["n_bytes"]) == (77, 33, 260)
    assert got["h"]["mime"] == "image/heif"
    assert (got["h"]["width"], got["h"]["height"]) == (8, 9)
    # sniffs avif but carries no meta tree: honest NULL dims
    assert got["x"]["mime"] == "image/avif"
    assert got["x"]["width"] is None


def test_pixel_stats_stay_honest_null(spark):
    from hquery_php_spark.operators.multimodal import image_pixel_stats_df

    df = spark.createDataFrame(
        [("a", bytearray(encode_heif_stub(10, 10)))],
        "media_id string, payload binary",
    )
    r = image_pixel_stats_df(df).collect()[0]
    assert r["sum_r"] is None and r["n_px"] is None


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_truncations_and_bitflips_never_raise(data):
    w = data.draw(st.integers(1, 5000))
    h = data.draw(st.integers(1, 5000))
    rot = data.draw(st.integers(0, 3))
    p = encode_heif_stub(w, h, rotation=rot)
    m = heif_meta(p)
    assert (m["width"], m["height"], m["rotation"]) == (w, h, rot)
    cut = data.draw(st.integers(0, len(p)))
    heif_meta(p[:cut])
    mutated = bytearray(p)
    i = data.draw(st.integers(0, len(p) - 1))
    mutated[i] ^= data.draw(st.integers(1, 255))
    heif_meta(bytes(mutated))


@settings(max_examples=60, deadline=None)
@given(b=st.binary(max_size=400))
def test_soup_never_raises(b):
    heif_meta(b)
    heif_meta(b"\x00\x00\x00\x14ftypavif" + b)


# ------------------------------------------------- libavif conformance

pin = pytest.mark.skipif(LIBAVIF is None, reason="system libavif not available")


@pin
@pytest.mark.parametrize("w,h", [(40, 24), (33, 17), (1, 1), (64, 2)])
def test_walk_reads_real_libavif_files(w, h):
    """The pure-Python meta walk must read libavif/libaom's own output:
    true ispe dimensions, av01 item type, avif brand — including odd
    and degenerate sizes where chroma subsampling pads the planes."""
    data = LIBAVIF.encode(w, h)
    assert data is not None
    assert sniff_media_type(data) == "image/avif"
    m = heif_meta(data)
    assert m is not None
    assert (m["width"], m["height"]) == (w, h)
    assert m["codec"] == "av01" and m["brand"] == "avif"
    assert m["n_items"] >= 1 and m["rotation"] == 0
    # 8-bit YUV420 → seq_profile 0; 8-bit, color
    assert (m["profile"], m["bit_depth"], m["monochrome"]) == (0, 8, False)
    # a YUV444 encode flips the av1C record to seq_profile 1
    m444 = heif_meta(LIBAVIF.encode(w, h, fmt=1))
    assert (m444["profile"], m444["bit_depth"]) == (1, 8)
    assert (m444["width"], m444["height"]) == (w, h)


@pin
def test_real_file_through_spark_meta(spark):
    from hquery_php_spark.operators.multimodal import image_meta_df

    data = LIBAVIF.encode(20, 30)
    df = spark.createDataFrame(
        [("real", bytearray(data))], "media_id string, payload binary"
    )
    r = image_meta_df(df).collect()[0]
    assert (r["mime"], r["width"], r["height"]) == ("image/avif", 20, 30)
    assert r["n_bytes"] == len(data)


def test_image_meta_df_bmp_dims(spark):
    """BMP header dims (incl. top-down negative-height files) ride the
    same header-only meta path."""
    import numpy as np

    from hquery_php_spark.operators.multimodal import image_meta_df
    from test_gif import _make_bmp

    px = np.zeros((7, 9, 3), np.uint8)
    rows = [
        ("b", bytearray(_make_bmp(px, 24))),
        ("td", bytearray(_make_bmp(px, 24, top_down=True))),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r["media_id"]: r for r in image_meta_df(df).collect()}
    for k in ("b", "td"):
        assert got[k]["mime"] == "image/bmp"
        assert (got[k]["width"], got[k]["height"]) == (9, 7)
