"""Spark tests: multimodal plumbing, plan compilation, streaming wiring."""

import pytest

pyspark = pytest.importorskip("pyspark")

import struct
import zlib

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hquery_php_spark.operators.multimodal import (
    image_features_df,
    image_meta_df,
    sniff_media_type,
)
from hquery_php_spark.plans.compile import compile_selector, find_count_df
from hquery_php_spark.plans.explain import plan_facts
from hquery_php_spark.core.selector import SelectorError


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("hquery-extras-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _tiny_png(w=3, h=2):
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr_data = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    ihdr = (
        struct.pack(">I", len(ihdr_data))
        + b"IHDR"
        + ihdr_data
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_data))
    )
    return sig + ihdr


def test_sniff_media_type():
    assert sniff_media_type(_tiny_png()) == "image/png"
    assert sniff_media_type(b"\xff\xd8\xff\xe0junk") == "image/jpeg"
    assert sniff_media_type(b"RIFF....WAVE") == "audio/wav"
    assert sniff_media_type(b"RIFF....WEBP") == "image/webp"
    assert sniff_media_type(b"garbage") == "application/octet-stream"
    assert sniff_media_type(None) is None
    assert sniff_media_type(b"\x00\x00\x00\x18ftypisom....") == "video/mp4"
    assert sniff_media_type(b"\x00\x00\x00\x18ftypM4A ....") == "audio/mp4"
    assert sniff_media_type(b"\x00\x00\x00\x14ftypqt  ....") == "video/quicktime"
    assert sniff_media_type(b"RIFF....AVI LIST") == "video/x-msvideo"
    assert sniff_media_type(b"\x1a\x45\xdf\xa3...B\x82\x88webm...") == "video/webm"
    assert sniff_media_type(b"\x1a\x45\xdf\xa3...B\x82\x88matroska") == "video/x-matroska"
    assert sniff_media_type(b"fLaC\x00\x00") == "audio/flac"
    assert sniff_media_type(b"%PDF-1.4") == "application/pdf"


def test_image_meta_and_features(spark):
    rows = [("a", _tiny_png(7, 5)), ("b", b"\xff\xd8\xffrest"), ("c", None)]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    meta = {r["media_id"]: r for r in image_meta_df(df).collect()}
    assert meta["a"]["mime"] == "image/png"
    assert (meta["a"]["width"], meta["a"]["height"]) == (7, 5)
    assert meta["b"]["mime"] == "image/jpeg"
    assert meta["c"]["mime"] is None

    feats = {r["media_id"]: r["embedding"] for r in image_features_df(df, dim=16).collect()}
    assert len(feats["a"]) == 16
    # deterministic across runs
    feats2 = {r["media_id"]: r["embedding"] for r in image_features_df(df, dim=16).collect()}
    assert feats == feats2
    with pytest.raises(NotImplementedError):
        image_features_df(df, allow_stub=False)


def test_png_decode_rejects():
    import numpy as np

    from hquery_php_spark.operators.multimodal import decode_png, encode_png

    px = np.arange(4 * 3 * 4, dtype=np.uint8).reshape(3, 4, 4)
    good = encode_png(px)
    assert decode_png(good)[3].tolist() == px.tolist()
    # corrupt a CRC byte → reject (None), never garbage pixels
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # inside IEND CRC
    assert decode_png(bytes(bad)) is None
    # flip a bit inside IDAT data → CRC catches it
    idat_at = good.index(b"IDAT")
    bad2 = bytearray(good)
    bad2[idat_at + 6] ^= 0x01
    assert decode_png(bytes(bad2)) is None
    # truncation and non-PNG input
    assert decode_png(good[:20]) is None
    assert decode_png(b"not a png") is None
    assert decode_png(None) is None


def test_png_palette_decode():
    import struct as _s
    import zlib as _z

    import numpy as np

    from hquery_php_spark.operators.multimodal import decode_png

    # hand-built 2x2 paletted PNG: indices [[0,1],[1,0]]
    def chunk(t, d):
        return _s.pack(">I", len(d)) + t + d + _s.pack(">I", _z.crc32(t + d))

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 0, 255]))  # red, blue
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([1, 0])
    idat = chunk(b"IDAT", _z.compress(raw))
    png = sig + ihdr + plte + idat + chunk(b"IEND", b"")
    w, h, ch, px = decode_png(png)
    assert (w, h, ch) == (2, 2, 3)
    assert px.tolist() == [
        [[255, 0, 0], [0, 0, 255]],
        [[0, 0, 255], [255, 0, 0]],
    ]
    assert np.asarray(px).dtype == np.uint8


def test_image_pixel_stats_df(spark):
    import numpy as np

    from hquery_php_spark.operators.multimodal import (
        encode_png,
        image_pixel_stats_df,
    )

    rng = np.random.default_rng(7)
    px_a = rng.integers(0, 256, size=(9, 11, 4), dtype=np.uint8)
    px_b = rng.integers(0, 256, size=(5, 6, 1), dtype=np.uint8)  # grayscale
    rows = [
        ("a", encode_png(px_a, row_filter=lambda y: y % 5)),
        ("b", encode_png(px_b)),
        ("j", b"\xff\xd8\xffnot-a-png"),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    got = {r["media_id"]: r for r in image_pixel_stats_df(df).collect()}
    assert (got["a"]["width"], got["a"]["height"], got["a"]["n_px"]) == (11, 9, 99)
    assert got["a"]["sum_r"] == int(px_a[:, :, 0].sum())
    assert got["a"]["sum_g"] == int(px_a[:, :, 1].sum())
    assert got["a"]["sum_b"] == int(px_a[:, :, 2].sum())
    assert got["a"]["sum_a"] == int(px_a[:, :, 3].sum())
    # grayscale promotes to r=g=b, opaque alpha
    assert got["b"]["sum_r"] == got["b"]["sum_g"] == int(px_b.sum())
    assert got["b"]["sum_a"] == 255 * 30
    # undecodable payload: NULL stats under allow_stub, raises without
    assert got["j"]["width"] is None and got["j"]["sum_r"] is None
    with pytest.raises(Exception, match="codec"):
        image_pixel_stats_df(df, allow_stub=False).collect()


def test_compile_selector_fails_fast():
    with pytest.raises(SelectorError):
        compile_selector("div )p(")
    with pytest.raises(SelectorError):
        compile_selector(", div")
    c = compile_selector("a[href] > img")
    assert c.ir[0][1]["x"] == ">"


def test_find_count_df(spark):
    rows = [
        ("d1", "<div><a href='/x'>t</a><a>u</a></div>"),
        ("d2", "<p>only text</p>"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html"])
    out = find_count_df(df, ["a", "a[href]", "div a", "p"])
    got = {(r["doc_id"], r["selector"]): r["n_matches"] for r in out.collect()}
    assert got[("d1", "a")] == 2
    assert got[("d1", "a[href]")] == 1
    assert got[("d1", "div a")] == 2
    assert got[("d1", "p")] == 0
    assert got[("d2", "p")] == 1


def test_plan_facts_pushdown(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).withColumn("x", F.col("id") * 2).write.parquet(p)
    df = spark.read.parquet(p).where(F.col("id") > 50).select("x")
    facts = plan_facts(df)
    assert facts["pushed_filters"], facts["plan"]
    assert facts["wholestage_codegen"]


def test_streaming_extract(spark, tmp_path):
    from hquery_php_spark.streaming import streaming_extract_spans

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        ("s1", "<html><body><p>hello stream</p><a href='/l'>L</a></body></html>",
         "https://s.com/"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html", "base_url"])
    df.write.parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    out = streaming_extract_spans(stream)
    q = (
        out.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    res = spark.read.parquet(out_dir).collect()
    assert len(res) == 1
    spans = res[0]["spans"]
    assert [s["kind"] for s in spans] == ["text", "media"]
    assert spans[1]["media_ref"] == "https://s.com/l"

    # batch DataFrame is rejected
    with pytest.raises(ValueError):
        streaming_extract_spans(df)


def test_streaming_dedup_exact(spark, tmp_path):
    """First arrival of each content fingerprint passes, later copies
    are suppressed ACROSS micro-batches and restarts (state persists in
    the checkpointed state store)."""
    from hquery_php_spark.streaming import streaming_dedup_exact

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [("a1", "hello world"), ("b1", "unique text"), ("a2", "Hello   WORLD")],
        ["doc_id", "text"],
    )
    b1.write.parquet(src_dir)

    def run():
        stream = spark.readStream.schema(b1.schema).parquet(src_dir)
        q = (
            streaming_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got1 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    # normalization folds case+whitespace: a1 and a2 share a fingerprint
    assert got1 == {"a1", "b1"}

    # second batch: another copy of a1's content plus a new doc —
    # the restart must remember batch-1 fingerprints
    spark.createDataFrame(
        [("a3", "hello  world"), ("c1", "brand new content")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(src_dir)
    run()
    got2 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {"a1", "b1", "c1"}

    with pytest.raises(ValueError):
        streaming_dedup_exact(b1)


def test_streaming_incremental_dedup_vs_bucketed_ledger(spark, tmp_path):
    """Streamed docs anti-join the at-rest fingerprint ledger (bucketed
    table); ledger rows appended between micro-batches are honored by
    the NEXT batch without a stream restart (stream-static semantics)."""
    from hquery_php_spark.operators.incremental import (
        ledger_fingerprints,
        write_ledger_bucketed,
    )
    from hquery_php_spark.streaming import streaming_incremental_dedup

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = spark.createDataFrame(
        [("h1", "historic doc one"), ("h2", "historic doc two")],
        ["doc_id", "text"],
    )
    write_ledger_bucketed(
        ledger_fingerprints(corpus), "stream_fp_ledger", n_buckets=4,
        path=str(tmp_path / "ledger"),
    )
    try:
        b1 = spark.createDataFrame(
            [("n1", "fresh content"), ("d1", "Historic   DOC one")],
            ["doc_id", "text"],
        )
        b1.write.parquet(src_dir)

        def run():
            stream = spark.readStream.schema(b1.schema).parquet(src_dir)
            q = (
                streaming_incremental_dedup(
                    stream, spark.table("stream_fp_ledger")
                )
                .writeStream.format("parquet")
                .option("checkpointLocation", ckpt)
                .option("path", out_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run()
        got1 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
        assert got1 == {"n1"}  # d1 normalizes to the ledgered h1 fp

        # append n1's fp to the ledger (the batch appender's commit),
        # then stream a copy of n1 plus a new doc: the grown ledger must
        # suppress the copy in the NEXT micro-batch, no restart needed
        ledger_fingerprints(
            spark.createDataFrame([("n1", "fresh content")], ["doc_id", "text"])
        ).write.mode("append").insertInto("stream_fp_ledger")
        spark.createDataFrame(
            [("n2", "FRESH    content"), ("n3", "truly novel")],
            ["doc_id", "text"],
        ).write.mode("append").parquet(src_dir)
        run()
        got2 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
        assert got2 == {"n1", "n3"}
        with pytest.raises(ValueError):
            streaming_incremental_dedup(b1, spark.table("stream_fp_ledger"))
    finally:
        spark.sql("DROP TABLE IF EXISTS stream_fp_ledger")


def test_revenue_join_uses_broadcast(spark):
    """The 25-row nation dim must hash-broadcast, not sort-merge."""
    import __spark_entry__ as E

    df = E.q_revenue_by_nation(spark, "/root/testdata/sf0.001")
    facts = plan_facts(df)
    assert facts["broadcast_joins"] >= 1, facts["plan"]


def test_extract_scan_prunes_columns(spark):
    """Only the projected columns may reach the documents scan."""
    import __spark_entry__ as E

    df = E.q_token_count(spark, "/root/testdata/sf0.001")
    facts = plan_facts(df)
    # documents has 5 columns; token_count needs doc_id + text
    assert 0 < facts["read_schema_cols"] <= 2, facts["plan"]


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-closed sessions are
    emitted; idle sessions flush on event-time timeout."""
    import time as _time

    import pandas as pd

    from hquery_php_spark.streaming import streaming_sessionize

    src_dir = str(tmp_path / "ev_in")
    ckpt = str(tmp_path / "ev_ckpt")

    base = pd.Timestamp("2026-01-01 10:00:00")
    rows1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": [base, base + pd.Timedelta(minutes=5), base],
        }
    )
    import os

    os.makedirs(src_dir, exist_ok=True)
    spark.createDataFrame(rows1).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp").parquet(src_dir)
    )
    out = streaming_sessionize(stream, gap_minutes=30, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 1 returns after a 2-hour gap -> closes the first
        # session; its timestamp also advances the watermark past user 2's
        # timeout -> user 2's idle session flushes.
        rows2 = pd.DataFrame(
            {"user_id": [1], "ts": [base + pd.Timedelta(hours=2)]}
        )
        spark.createDataFrame(rows2).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        # one more empty-ish advance to let timeouts fire
        rows3 = pd.DataFrame(
            {"user_id": [3], "ts": [base + pd.Timedelta(hours=3)]}
        )
        spark.createDataFrame(rows3).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()
        got = spark.sql(
            "SELECT user_id, n_events FROM sessions_out ORDER BY user_id"
        ).collect()
        by_user = {}
        for r in got:
            by_user.setdefault(r.user_id, []).append(r.n_events)
        # user 1's first session (2 events) closed by the gap
        assert 2 in by_user.get(1, []), got
        # user 2's idle single-event session flushed by timeout
        assert by_user.get(2) == [1], got
    finally:
        q.stop()


def test_streaming_checkpoint_resume(spark, tmp_path):
    """Exactly-once resume: stop the stream, add input, restart with the
    same checkpoint — every doc appears exactly once in the sink."""
    from hquery_php_spark.streaming import streaming_extract_spans

    src_dir = str(tmp_path / "cin")
    out_dir = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    import os

    os.makedirs(src_dir, exist_ok=True)
    sch = "doc_id string, html string, base_url string"

    def write_batch(ids):
        rows = [(i, f"<p>doc {i}</p>", "https://x/") for i in ids]
        spark.createDataFrame(rows, sch.split(", ")[0] and sch).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    def start():
        src = spark.readStream.schema(sch).parquet(src_dir)
        return (
            streaming_extract_spans(src)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .start()
        )

    write_batch(["a", "b"])
    q = start()
    q.processAllAvailable()
    q.stop()

    write_batch(["c", "d"])
    q = start()  # resume from the same checkpoint
    q.processAllAvailable()
    q.stop()

    got = sorted(
        r.doc_id for r in spark.read.parquet(out_dir).select("doc_id").collect()
    )
    assert got == ["a", "b", "c", "d"], got


def test_pdf_layout_roundtrip(spark):
    """PDF layout parse: valid single-page PDFs (xref-correct, half
    Flate) → layout-ordered spans with coordinates."""
    import pandas as pd

    from hquery_php_spark.operators.pdf import (
        extract_pdf_spans,
        make_pdf,
        pdf_extract_df,
        sniff_pdf,
    )

    pdf = make_pdf([(50, 750, "T (x)"), (50, 700, "body"), (50, 50, "f")])
    assert sniff_pdf(pdf) == "1.4"
    n, spans = extract_pdf_spans(pdf)
    assert n == 1 and [s[2] for s in spans] == ["T (x)", "body", "f"]
    nz, sz = extract_pdf_spans(make_pdf([(1, 2, "zz")], compress=True))
    assert sz == [(1.0, 2.0, "zz")]

    rows = [("a", make_pdf([(10, 100, "hello")])), ("b", b"not a pdf")]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = pdf_extract_df(df).toPandas()
    assert list(got["doc_id"]) == ["a"]  # non-PDF skipped, not fatal
    assert got.iloc[0]["text"] == "hello"


def test_aqe_skew_join_splits_hot_partition(spark):
    """A pathologically skewed join key (one key = 90% of rows) is
    split by AQE's skew-join at runtime — the engine-level answer for
    hot keys that salting handles at the operator level.  Pinned via
    the final adaptive plan's SortMergeJoin(skew=true) marker."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        a = spark.range(0, 50_000).select(
            F.lit(0).alias("k"), F.rand(1).alias("x")
        ).unionAll(
            spark.range(0, 5_000).select(
                (F.pmod(F.col("id"), F.lit(99)) + 1).alias("k"),
                F.rand(2).alias("x"),
            )
        )
        b = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("d").alias("v"))
        j = a.join(b, "k")
        assert len(j.collect()) == 55_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Pre-bucketed tables on the join key sort-merge-join with NO
    exchange on either side — the co-located-join strategy for repeated
    big-big joins at scale."""
    import uuid

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(5000)
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(2000)
    t1 = f"li_b_{uuid.uuid4().hex[:8]}"
    t2 = f"o_b_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the bucketed layout is what
        # eliminates the exchange (at real scale both sides are too big
        # to broadcast anyway)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(t1)
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(t2)
        j = spark.table(t1).join(
            spark.table(t2), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_multimodal_resize_and_frame_sample(spark):
    """Resize target-dim math and per-frame fan-out plumbing."""
    import struct

    from hquery_php_spark.operators.multimodal import (
        image_resize_df,
        video_frame_sample_df,
    )

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 200, 100) + b"\x08\x06\x00\x00\x00"
    )
    rows = [("i1", png), ("i2", b"junk")]
    out = {
        r.media_id: (r.out_w, r.out_h)
        for r in image_resize_df(
            spark.createDataFrame(rows, "media_id string, payload binary"), target=64
        ).collect()
    }
    assert out["i1"] == (64, 32)  # aspect preserved, fit into 64
    assert out["i2"] == (0, 0)

    vid = [("v1", b"RIFFxxxxWEBP" + bytes(8000))]
    frames = video_frame_sample_df(
        spark.createDataFrame(vid, "media_id string, payload binary"),
        every_n=4, max_frames=3, frame_bytes=100,
    ).collect()
    assert [f.frame_no for f in frames] == [0, 1, 2]
    assert all(len(f.frame) == 100 for f in frames)
    assert frames[0].mime == "image/webp"


def test_streaming_sessionize_late_event(spark, tmp_path):
    """A late-but-within-watermark event joins the open session without
    dragging session_end backwards (regression: last_us was overwritten
    unconditionally, shrinking the session and mis-timing the flush)."""
    import os

    import pandas as pd

    from hquery_php_spark.streaming import streaming_sessionize

    src_dir = str(tmp_path / "late_in")
    ckpt = str(tmp_path / "late_ckpt")
    os.makedirs(src_dir, exist_ok=True)
    base = pd.Timestamp("2026-01-01 10:00:00")

    def push(ts_list):
        pdf = pd.DataFrame({"user_id": [1] * len(ts_list), "ts": ts_list})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src_dir)

    push([base, base + pd.Timedelta(minutes=5)])
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src_dir)
    out = streaming_sessionize(stream, gap_minutes=30, watermark="3 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("late_sessions")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # late event: 10 min BEFORE the session start, within the 3h watermark
        push([base - pd.Timedelta(minutes=10)])
        q.processAllAvailable()
        # big gap closes the session
        push([base + pd.Timedelta(hours=2)])
        q.processAllAvailable()
        got = spark.sql(
            "SELECT user_id, session_start, session_end, n_events "
            "FROM late_sessions"
        ).collect()
        assert len(got) == 1, got
        r = got[0]
        assert r.n_events == 3, got
        assert r.session_start == (base - pd.Timedelta(minutes=10)).to_pydatetime(), got
        assert r.session_end == (base + pd.Timedelta(minutes=5)).to_pydatetime(), got
    finally:
        q.stop()


def test_resolve_media_refs_join_strategy(spark):
    """The media metadata table is corpus-proportional, so the default
    must NOT force a broadcast (no ResolvedHint in the logical plan) —
    the planner/AQE still picks broadcast for a genuinely small dim.
    broadcast_meta=True pins the hint for known-bounded catalogs."""
    from hquery_php_spark.operators.pipeline import resolve_media_refs

    spans = spark.createDataFrame(
        [(f"d{i}", i, "media", f"https://cdn/x/{i}.png") for i in range(100)],
        ["doc_id", "ord", "kind", "media_ref"],
    )
    meta = spark.createDataFrame(
        [(str(i), 10 + i) for i in range(10)], ["media_id", "width"]
    )
    key = F.regexp_extract(F.col("media_ref"), r"/(\d+)\.png$", 1)
    out = resolve_media_refs(spans, meta, key_expr=key)
    logical = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical
    got = {r.doc_id: r.width for r in out.collect()}
    assert got["d3"] == 13 and got["d50"] is None
    # after execution, AQE's final plan broadcasts the 10-row dim at
    # runtime (RDD inputs have no static size estimate, so this is
    # exactly the AQE-decides contract the default relies on)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan and "BroadcastHashJoin" in plan, plan
    forced = resolve_media_refs(spans, meta, key_expr=key, broadcast_meta=True)
    assert "ResolvedHint" in forced._jdf.queryExecution().analyzed().toString()


def test_curate_corpus_end_to_end(spark):
    """The composed curation path: quality gate drops the stopword-free
    doc, exact dedup keeps the min-id copy, near-dup clustering keeps the
    cluster minimum, decontamination drops the benchmark-overlapping doc,
    PII is redacted in the surviving text, and global positions are dense
    0..n-1."""
    from hquery_php_spark.operators.curate import CurateOptions, curate_corpus

    base = (
        "the quick brown fox and the lazy dog jumps over with grace " * 3
    ).strip()
    rows = [
        (1, base + " uniqueone", "s0"),       # survives (cluster min)
        (2, base + " uniquetwo", "s0"),       # near-dup of 1 -> removed
        (3, base + " uniqueone", "s1"),       # exact dup of 1 -> removed
        (4, "zzz yyy xxx www vvv uuu", "s1"),  # no stopwords -> quality fail
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "with the others", "s2"),          # contaminated -> removed
        (6, "please do contact the team and share at bob@example.com "
            "with any question", "s2"),        # survives, email redacted
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    opts = CurateOptions(
        min_words=3,
        gopher_kwargs=dict(
            min_mean_word_len=1.0, max_mean_word_len=20.0,
            max_symbol_ratio=5.0,
        ),
        lsh_bands=8,
        jaccard_threshold=0.7,
        n_ranges=4,
    )
    out = {r.doc_id: r for r in curate_corpus(docs, benchmark=bench, opts=opts).collect()}
    assert set(out) == {1, 6}
    assert sorted(r.pos for r in out.values()) == [0, 1]
    assert out[6].n_email == 1 and "<EMAIL>" in out[6].text
    assert out[1].n_email == 0 and out[1].text.startswith("the quick")
    assert out[1].n_tokens > 0


def test_curate_corpus_at_job_operating_point_matches_duckdb(spark):
    """curate_corpus at the near-dup operating point the curate and
    pipeline jobs run (the CurateOptions() defaults: num_perm 32,
    shingle_k 5, 8 bands of 4 rows, Jaccard 0.8) equals
    curate_oracle_sql on sf0.001 (test_curate_plan.SF_DIR), row for row
    and value for value.  The
    gate relaxes one knob (min_stop_hits=1): at the default no sf0.001
    document passes it."""
    from dataclasses import replace

    import duckdb

    from hquery_php_spark.operators.curate import (
        CurateOptions,
        curate_corpus,
        curate_oracle_sql,
    )
    from test_curate_plan import SF_DIR as sf

    o = CurateOptions(gopher_kwargs=dict(min_stop_hits=1))
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    bench = docs.where(F.pmod("doc_id", F.lit(10)) == 0)
    train = docs.where(F.pmod("doc_id", F.lit(10)) != 0)
    got = curate_corpus(train, benchmark=bench, opts=o).toPandas()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(
        curate_oracle_sql(
            min_words=o.min_words,
            gopher_kwargs=o.gopher_kwargs,
            max_top_bigram_frac=o.max_top_bigram_frac,
            num_perm=o.num_perm,
            shingle_k=o.shingle_k,
            bands=o.lsh_bands,
            rows_per_band=o.num_perm // o.lsh_bands,
            threshold=o.jaccard_threshold,
            decontaminate_n=o.decontaminate_n,
        )
    ).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) > 0
    rows = lambda df: df[sorted(df.columns)].sort_values("pos").values.tolist()  # noqa: E731
    assert rows(got) == rows(want)
    # the near-dup stage removes documents at this operating point
    no_near = curate_corpus(train, benchmark=bench, opts=replace(o, near_dup=False))
    assert no_near.count() > len(got)


def test_tfidf_top_terms_exact(spark):
    """Hand-computed TF-IDF on a 3-doc corpus: idf = ln(N/df) over the
    tf-derived document frequencies, rank by rounded score with the term
    string as tie-break."""
    import math

    from hquery_php_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.id, r.rk): r
        for r in tfidf_top_terms(docs, top_k=2).collect()
    }
    ln3 = math.log(3.0)
    ln32 = math.log(3.0 / 2.0)
    # doc 1: apple tf=2 df=1 -> 2*ln3 ; banana tf=1 df=2 -> ln(3/2)
    assert out[(1, 1)].term == "apple"
    assert out[(1, 1)].tf == 2 and out[(1, 1)].doc_freq == 1
    assert out[(1, 1)].tfidf == round(2 * ln3, 6)
    assert out[(1, 2)].term == "banana"
    assert out[(1, 2)].tfidf == round(ln32, 6)
    # doc 3: cherry tf=3 df=2 -> 3*ln(3/2)=1.216... beats date ln3=1.0986
    assert out[(3, 1)].term == "cherry"
    assert out[(3, 1)].tfidf == round(3 * ln32, 6)
    assert out[(3, 2)].term == "date"


def test_tfidf_and_corpus_stats_match_duckdb(spark):
    """Value-oracle equality for the two rollup queries at sf0.001 —
    the same check the driver runs at sf0.01."""
    import duckdb

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    for name, q in (("tfidf_top", E.q_tfidf_top), ("corpus_stats", E.q_corpus_stats)):
        got = q(spark, sf).toPandas()
        want = con.execute(E.oracle_sql()[name]).fetchdf()
        got = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
        want = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
        assert list(got.columns) == list(want.columns), name
        assert len(got) == len(want), name
        for c in got.columns:
            a, b = got[c], want[c]
            if a.dtype == object or b.dtype == object:
                assert a.astype(str).tolist() == b.astype(str).tolist(), (name, c)
            else:
                import numpy as np

                assert np.allclose(
                    a.astype("float64"), b.astype("float64"), atol=1e-9
                ), (name, c)


def test_bm25_topk_exact(spark):
    """Hand-computed Okapi BM25, one query term over three docs."""
    import math

    from hquery_php_spark.functions.rank import bm25_topk

    docs = spark.createDataFrame(
        [(1, "x x y"), (2, "y z"), (3, "x z z z")], ["doc_id", "text"]
    )
    out = bm25_topk(docs, terms=["x"], k=10).collect()
    # df=2, N=3, avgdl=3, idf=ln(1 + 1.5/2.5)=ln(1.6)
    idf = math.log(1.6)
    want1 = round(idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 3.0)), 6)
    want3 = round(idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 4 / 3.0)), 6)
    assert [r.id for r in out] == [1, 3]  # doc 2 has score 0 -> dropped
    assert out[0].bm25 == want1 and out[0].tf_0 == 2 and out[0].dl == 3
    assert out[1].bm25 == want3


def test_pmi_collocations_exact(spark):
    """Hand-computed PMI: 'a b' is the only bigram above min_count."""
    import math

    from hquery_php_spark.functions.rank import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    out = pmi_collocations(docs, min_count=2, top_k=5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.w1, r.w2, r.n_xy, r.n_x, r.n_y, r.rk) == ("a", "b", 3, 3, 3, 1)
    # N_uni=7, N_bi=5: pmi = ln 3 + 2 ln 7 - ln 5 - ln 3 - ln 3
    want = round(
        math.log(3.0) + 2.0 * math.log(7.0) - math.log(5.0)
        - math.log(3.0) - math.log(3.0),
        6,
    )
    assert r.pmi == want


def test_bm25_pmi_match_duckdb(spark):
    """Value-oracle equality for the ranking queries at sf0.001."""
    import duckdb

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    for name, q in (
        ("bm25_search", E.q_bm25_search),
        ("pmi_collocations", E.q_pmi_collocations),
    ):
        got = q(spark, sf).toPandas()
        want = con.execute(E.oracle_sql()[name]).fetchdf()
        got = got[sorted(got.columns)].sort_values(sorted(got.columns)).reset_index(drop=True)
        want = want[sorted(want.columns)].sort_values(sorted(want.columns)).reset_index(drop=True)
        assert list(got.columns) == list(want.columns), name
        assert len(got) == len(want), name
        for c in got.columns:
            a, b = got[c], want[c]
            if a.dtype == object or b.dtype == object:
                assert a.astype(str).tolist() == b.astype(str).tolist(), (name, c)
            else:
                import numpy as np

                assert np.allclose(
                    a.astype("float64"), b.astype("float64"), atol=1e-9
                ), (name, c)


def test_canonical_url_rules(spark):
    """Each canonicalization rule, pinned case by case."""
    from hquery_php_spark.functions.url import canonical_url

    cases = [
        ("https://Example.COM/A/b", "https://example.com/A/b"),  # host only lowered
        ("http://example.com:80/x", "http://example.com/x"),
        ("https://example.com:443/x", "https://example.com/x"),
        ("https://example.com:8080/x", "https://example.com:8080/x"),
        ("https://example.com", "https://example.com/"),
        ("https://example.com/dir/", "https://example.com/dir"),
        ("https://example.com/", "https://example.com/"),
        ("https://example.com/x#frag", "https://example.com/x"),
        ("https://example.com/x?utm_source=a&q=1&gclid=z", "https://example.com/x?q=1"),
        ("https://example.com/x?b=2&a=1", "https://example.com/x?a=1&b=2"),
        ("https://example.com/x?utm_campaign=o", "https://example.com/x"),
        ("  https://example.com/x ", "https://example.com/x"),
        ("not a url", "not a url"),  # pass-through
        ("HTTPS://example.com:443/x", "https://example.com/x"),  # scheme lowered first
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], ["i", "u"])
    got = {r.i: r.c for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_canonical_url_twin_lockstep(spark):
    """Spark and DuckDB canonicalize an adversarial URL set identically."""
    import duckdb

    from hquery_php_spark.functions.url import canonical_url, canonical_url_sql

    urls = [
        "https://Example.COM/docs/1.html",
        "http://h:80/", "https://h:443", "http://h:443/x", "https://h:80/x",
        "ftp://H/Y", "https://h/p/?a=1", "https://h/p?", "https://h/p?#f",
        "https://h/p?ref=x&z=9&utm_x=1", "https://h/p?a=1&a=0",
        "https://h//double//slash/", "relative/path", "", "   ",
        "https://h/p?fbclid=1", "https://h:443/?b=&a=",
        "https://h/%7Euser/", "https://UPPER.host:443/Path/?C=3&b=2&a=1#frag",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["i", "u"])
    got = {r.i: r.c for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, u VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    want = {
        i: c
        for i, c in con.execute(
            f"SELECT i, {canonical_url_sql('u')} FROM t"
        ).fetchall()
    }
    assert got == want


def test_unigram_logprob_exact(spark):
    """Hand-computed unigram log-probabilities with fixed-point sums."""
    import math

    from hquery_php_spark.functions.rank import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], ["doc_id", "text"]
    )
    # corpus: a=2, b=2, c=1, N=5
    lp = {w: int(round((math.log(n) - math.log(5.0)) * 1e6)) for w, n in
          {"a": 2, "b": 2, "c": 1}.items()}
    out = {r.id: r for r in unigram_logprob(docs).collect()}
    want1 = 2 * lp["a"] + lp["b"]
    want2 = lp["b"] + lp["c"]
    assert out[1].n_toks == 3 and out[1].sum_lp_micro == want1
    assert out[2].n_toks == 2 and out[2].sum_lp_micro == want2
    assert out[1].avg_logprob == round(want1 / 1e6 / 3, 6)
    assert out[2].ppl_proxy == round(math.exp(-(want2 / 1e6 / 2)), 6)


# ---- semantic dedup (SemDeDup shape) ------------------------------------ #


def _blob_vectors():
    """Two well-separated 4-dim blobs + a planted near-duplicate pair in
    each: ids 0-3 near (+1,0,0,0), ids 10-13 near (0,+1,0,0); ids 3 and
    13 are tiny perturbations of ids 0 and 10."""
    return [
        (0, [1.00, 0.02, 0.01, 0.0]),
        (1, [0.90, -0.30, 0.05, 0.0]),   # same blob, not a near-dup
        (2, [0.95, 0.25, -0.05, 0.0]),   # same blob, not a near-dup
        (3, [1.00, 0.02, 0.02, 0.0]),    # near-dup of 0
        (10, [0.02, 1.00, 0.0, 0.01]),
        (11, [-0.30, 0.90, 0.0, 0.05]),
        (12, [0.25, 0.95, 0.0, -0.05]),
        (13, [0.02, 1.00, 0.0, 0.02]),   # near-dup of 10
    ]


def test_semantic_dedup_clusters_and_pairs(spark):
    """k-means separates the blobs; near-dup pairs surface only within
    clusters; exact integer decision matches the raw cosine."""
    from hquery_php_spark.operators.semantic import semantic_dedup

    df = spark.createDataFrame(
        _blob_vectors(), "vec_id long, embedding array<double>"
    )
    out = semantic_dedup(
        df, k=2, iters=2, thr_num=99, thr_den=100, persist_quantized=False
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert pairs == {(0, 3), (10, 13)}
    # pair cluster ids differ (the blobs landed in different clusters)
    by_pair = {(r.id_a, r.id_b): r.cluster for r in out}
    assert by_pair[(0, 3)] != by_pair[(10, 13)]
    for r in out:
        assert r.cos > 0.99


def test_semantic_dedup_cross_engine_lockstep(spark):
    """The full unrolled pipeline — quantize, seeds, assignments,
    integer floor-mean centroids, integer cosine decision — agrees
    row-for-row with the generated DuckDB CTE chain."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.semantic import (
        semantic_dedup,
        semantic_dedup_oracle_sql,
    )

    rows = _blob_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b, r.cluster, r.cos)
        for r in semantic_dedup(
            df, k=2, iters=2, thr_num=99, thr_den=100, persist_quantized=False
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
    )
    want = {
        (r[0], r[1], r[2], r[3])
        for r in con.execute(
            semantic_dedup_oracle_sql(
                k=2, iters=2, thr_num=99, thr_den=100, dim=4
            )
        ).fetchall()
    }
    assert got == want


def test_semantic_dedup_empty_cluster_keeps_centroid(spark):
    """A seed whose cluster empties out must keep its previous centroid
    on BOTH engines (the LEFT JOIN / dict-default code paths)."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.semantic import (
        semantic_dedup,
        semantic_dedup_oracle_sql,
    )

    # seed 1 (id=1) is strictly closer to seed 0's blob for every point,
    # so after the first update round one cluster can lose all members
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.98, 0.01]),
        (2, [0.99, 0.02]),
        (3, [1.0, 0.01]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b, r.cluster, r.cos)
        for r in semantic_dedup(
            df, k=2, iters=2, thr_num=9, thr_den=10, persist_quantized=False
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    want = {
        tuple(r)
        for r in con.execute(
            semantic_dedup_oracle_sql(k=2, iters=2, thr_num=9, thr_den=10, dim=2)
        ).fetchall()
    }
    assert got == want
    assert got, "expected near-dup pairs in the tight blob"


# ---- incremental (cross-batch) ledger dedup ------------------------------ #


def test_incremental_dedup_exact_contract(spark):
    """Ledgered texts drop; within-batch dupes merge keep-min-id; new
    texts survive."""
    from hquery_php_spark.operators.incremental import (
        incremental_dedup_exact,
        ledger_fingerprints,
    )

    corpus = spark.createDataFrame(
        [(1, "already ingested doc"), (2, "another old doc")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "Already   ingested DOC"),  # normalizes to a ledgered fp
            (11, "brand new doc"),
            (12, "brand NEW doc"),           # within-batch dup of 11
            (13, "unique doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.keep_id: r.n_dups
        for r in incremental_dedup_exact(
            batch, ledger_fingerprints(corpus)
        ).collect()
    }
    assert out == {11: 2, 13: 1}


def test_incremental_dedup_bucketed_ledger_no_ledger_shuffle(spark, tmp_path):
    """The at-rest ledger layout the module promises, made real: a
    bucketBy(fp) table lets every batch's anti-join stream the ledger
    straight from its buckets — under a forced SortMergeJoin the plan
    carries exactly ONE Exchange (the batch side, into the bucket
    count), and results equal the plain-DataFrame ledger path."""
    from hquery_php_spark.operators.incremental import (
        incremental_dedup_exact,
        ledger_fingerprints,
        write_ledger_bucketed,
    )
    from hquery_php_spark.plans import explain_str

    corpus = spark.createDataFrame(
        [(i, f"old doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"old doc number {i}") for i in range(10)]
        + [(200 + i, f"fresh doc {i}") for i in range(5)],
        "doc_id long, text string",
    )
    ledger = ledger_fingerprints(corpus)
    write_ledger_bucketed(
        ledger, "fp_ledger", n_buckets=8, path=str(tmp_path / "ledger")
    )
    try:
        out = incremental_dedup_exact(batch, spark.table("fp_ledger"))
        expected = {
            (r.keep_id, r.n_dups)
            for r in incremental_dedup_exact(batch, ledger).collect()
        }
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # shuffle partitions == bucket count: the batch agg's own shuffle
        # then already satisfies the join's bucket distribution, so the
        # WHOLE job carries exactly one Exchange — the ledger-join recipe
        # at scale (set shuffle partitions to the ledger's bucket count)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            out = incremental_dedup_exact(batch, spark.table("fp_ledger"))
            plan = explain_str(out, "formatted")
            got = {(r.keep_id, r.n_dups) for r in out.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        assert got == expected and len(got) == 5
        assert "SortMergeJoin" in plan, plan
        # formatted mode names each node twice (tree + detail); "(n) Exchange"
        # detail headers count physical Exchange nodes once each
        assert plan.count(") Exchange") == 1, plan
        assert "SelectedBucketsCount: 8 out of 8" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_ledger")


def test_incremental_dedup_near_lockstep(spark):
    """Spark near-dup ledger screening and the generated DuckDB twin
    agree on survivors (exact ledger copies always drop)."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.incremental import (
        incremental_dedup_near,
        incremental_dedup_near_oracle_sql,
        ledger_band_keys,
    )

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs every single day"),
    ]
    batch_rows = [
        (10, "the quick brown fox jumps over the lazy dog again and again"),
        (11, "a completely different document about spark shuffles"),
        (12, "pack my box with five dozen liquor jugs every single day"),
        (13, "yet another unrelated text with nothing in common"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    got = {
        r.id
        for r in incremental_dedup_near(
            batch, ledger_band_keys(corpus)
        ).collect()
    }
    con = duckdb.connect()
    con.register("corpus", pd.DataFrame(corpus_rows, columns=["doc_id", "text"]))
    con.register("batch", pd.DataFrame(batch_rows, columns=["doc_id", "text"]))
    want = {
        r[0]
        for r in con.execute(
            incremental_dedup_near_oracle_sql(
                batch_sql="SELECT doc_id, text FROM batch",
                ledger_sql="SELECT doc_id, text FROM corpus",
            )
        ).fetchall()
    }
    assert got == want
    assert 10 not in got and 12 not in got  # exact ledger copies drop
    assert 11 in got and 13 in got          # unrelated docs survive


# ---- portable sketches (Count-Min, HyperLogLog) -------------------------- #


def test_cms_one_sided_guarantee_and_lockstep(spark):
    """est ≥ exact for every probe (Count-Min one-sided error), and the
    DuckDB twin reproduces the sketch bit for bit."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.sketches import (
        cms_estimates,
        cms_estimates_oracle_sql,
    )

    rows = [
        (1, "spark spark shuffle table table table"),
        (2, "hash join hash join spill"),
        (3, "table scan spark SHUFFLE Shuffle"),
    ]
    probes = ["spark", "table", "shuffle", "hash", "absenttoken"]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.token, r.est, r.exact) for r in cms_estimates(df, probes).collect()
    )
    for _, est, exact in got:
        assert est >= exact
    by_tok = dict((t, x) for t, _, x in got)
    assert by_tok["table"] == 4 and by_tok["shuffle"] == 3
    assert by_tok["absenttoken"] == 0
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(
        tuple(r) for r in con.execute(cms_estimates_oracle_sql(probes)).fetchall()
    )
    assert got == want


def test_hll_register_math_lockstep(spark):
    """HLL estimates agree bit-exactly across engines (exact power-of-
    two harmonic sums) and land within the expected error of truth."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.sketches import (
        hll_distinct,
        hll_distinct_oracle_sql,
    )

    # two groups with known distinct-token counts (200 and 50)
    rows = [
        (i, " ".join(f"tok{j}" for j in range(i % 7, 200, 7)), f"g{0}")
        for i in range(7)
    ] + [
        (100 + i, " ".join(f"w{j}" for j in range(i % 5, 50, 5)), f"g{1}")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = sorted(
        (r.source, r.est, r.exact_distinct)
        for r in hll_distinct(df).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    want = sorted(
        tuple(r) for r in con.execute(hll_distinct_oracle_sql()).fetchall()
    )
    assert got == want
    for _, est, exact in got:
        assert abs(est - exact) / exact < 0.25  # p=8 → σ ≈ 6.5%


# ---- product quantization ANN -------------------------------------------- #


def test_pq_topk_finds_planted_neighbors(spark):
    """ADC top-k surfaces the planted near-copies of the query before
    unrelated vectors, and distances are monotone."""
    import random

    from hquery_php_spark.operators.pq import pq_topk

    rng = random.Random(7)
    base = [rng.uniform(-0.3, 0.3) for _ in range(16)]
    rows = []
    for i in range(3):  # planted: tiny perturbations of the query
        rows.append((i, [v + 0.01 * (i + 1) for v in base]))
    for i in range(3, 40):  # background
        rows.append((i, [rng.uniform(-0.3, 0.3) for _ in range(16)]))
    # 16 seed vectors must exist below any filter; query is row 100
    rows.append((100, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from pyspark.sql import functions as F

    out = pq_topk(
        df.where(F.col("vec_id") != 100),
        base,
        m=4,
        k=8,
        topk=5,
    ).collect()
    ids = [r.id for r in out]
    dists = [r.adc_dist for r in out]
    assert set(ids[:3]) == {0, 1, 2}
    assert dists == sorted(dists)


def test_pq_topk_cross_engine_lockstep(spark):
    """Codebooks, codes, ADC tables, and top-k order agree with the
    generated DuckDB twin bit for bit."""
    import duckdb
    import pandas as pd
    import random

    from hquery_php_spark.operators.pq import pq_topk, pq_topk_oracle_sql
    from pyspark.sql import functions as F

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(8)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qvec = rows[0][1]
    got = [
        (r.id, r.adc_dist)
        for r in pq_topk(
            df.where(F.col("vec_id") != 0), qvec, m=2, k=4, topk=6
        ).collect()
    ]
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    want = [
        tuple(r)
        for r in con.execute(
            pq_topk_oracle_sql(
                m=2,
                k=4,
                topk=6,
                dim=8,
                source_sql=(
                    "SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0"
                ),
                query_where="vec_id = 0",
            )
        ).fetchall()
    ]
    assert got == want


def test_bloom_screen_no_false_negatives_and_lockstep(spark):
    """Every ledgered text always drops (no false negatives by
    construction); survivors agree with the DuckDB twin; a tiny m
    forces false positives and both engines agree on those too."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.sketches import (
        bloom_build,
        bloom_screen,
        bloom_screen_oracle_sql,
    )

    corpus_rows = [(i, f"ledgered document number {i}") for i in range(20)]
    batch_rows = [(100 + i, f"ledgered document number {i}") for i in range(10)]
    batch_rows += [(200 + i, f"fresh text {i}") for i in range(10)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    for m_bits in (1 << 16, 64):  # roomy filter, then a saturated one
        got = {
            r.id
            for r in bloom_screen(
                batch, bloom_build(corpus, m_bits=m_bits), m_bits=m_bits
            ).collect()
        }
        assert not any(100 <= i < 110 for i in got)  # ledgered copies drop
        con = duckdb.connect()
        con.register(
            "corpus", pd.DataFrame(corpus_rows, columns=["doc_id", "text"])
        )
        con.register(
            "batch", pd.DataFrame(batch_rows, columns=["doc_id", "text"])
        )
        want = {
            r[0]
            for r in con.execute(
                bloom_screen_oracle_sql(
                    batch_sql="SELECT doc_id, text FROM batch",
                    ledger_sql="SELECT doc_id, text FROM corpus",
                    m_bits=m_bits,
                )
            ).fetchall()
        }
        assert got == want
    # the roomy filter keeps all fresh docs; assert on the last (m=64)
    # iteration only that the drop direction is one-sided
    assert got <= {200 + i for i in range(10)}


def test_ivf_pq_index_prunes_partitions_and_matches_oracle(spark, tmp_path):
    """The composed IVF-PQ index: PQ codes in a bucket-partitioned
    layout; the query's Hamming-ball filter shows up as planning-time
    PartitionFilters, and results match the composed DuckDB twin."""
    import duckdb
    import pandas as pd
    import random

    from hquery_php_spark.operators.pq import (
        ivf_pq_oracle_sql,
        ivf_pq_topk,
        write_ivf_pq_index,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(16)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpq")
    side = write_ivf_pq_index(df, path, n_planes=5, m=4, k=8)
    assert len(side["books"]) == 4 and len(side["books"][0]) == 8
    qvec = rows[0][1]
    out = ivf_pq_topk(spark, path, qvec, topk=5, hamming_radius=1, exclude_id=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    got = [(r.id, r.adc_dist) for r in out.collect()]
    con = duckdb.connect()
    con.register(
        "embeddings", pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    want = [
        tuple(r)
        for r in con.execute(
            ivf_pq_oracle_sql(
                n_planes=5, hamming_radius=1, m=4, k=8, topk=5, dim=16,
                query_id=0,
            )
        ).fetchall()
    ]
    assert got == want


def test_streaming_distinct_hll_matches_batch(spark, tmp_path):
    """A stream's final HLL estimate equals the BATCH operator's over
    the union of all micro-batches — register-merge across batches is
    lossless, and the register math is identical to sketches.hll_distinct
    (lambda-architecture-safe)."""
    from hquery_php_spark.operators.sketches import hll_distinct
    from hquery_php_spark.streaming import streaming_distinct_hll

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "g0"),
            (2, "beta epsilon zeta", "g0"),
            (3, "one two three", "g1"),
        ],
        "doc_id long, text string, source string",
    )
    b1.write.parquet(src_dir)

    def run():
        stream = spark.readStream.schema(b1.schema).parquet(src_dir)
        q = (
            streaming_distinct_hll(stream)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # second micro-batch adds overlap + new tokens; restart must merge
    spark.createDataFrame(
        [
            (4, "gamma eta theta", "g0"),
            (5, "three four five six", "g1"),
        ],
        "doc_id long, text string, source string",
    ).write.mode("append").parquet(src_dir)
    run()

    # last emitted row per group = the final register state
    import pandas as pd

    got_pdf = spark.read.parquet(out_dir).toPandas()
    final = {
        g: grp.sort_values("n_tokens_seen").iloc[-1]["est"]
        for g, grp in got_pdf.groupby("group")
    }
    batch = {
        r.source: r.est
        for r in hll_distinct(
            spark.read.parquet(src_dir)
        ).collect()
    }
    assert final == batch
    # sanity: the tiny vocabularies sit in the linear-counting regime,
    # estimates should be near truth (7 and 6 distinct tokens)
    assert abs(final["g0"] - 7) < 1.5 and abs(final["g1"] - 6) < 1.5


def test_dsir_selects_target_like_docs_and_lockstep(spark):
    """Documents drawn from the target vocabulary score positive, raw-
    only documents negative; values agree with the DuckDB twin."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.dsir import dsir_oracle_sql, dsir_weights

    target_rows = [
        (100 + i, "curated quality prose flows with care " * 3) for i in range(4)
    ]
    raw_rows = [
        (0, "curated quality prose flows with care and curated quality prose"),
        (1, "spam spam click here buy now spam click buy"),
        (2, "x"),  # <2 tokens: zero evidence
    ]
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    got = {
        r.id: (r.n_grams, r.w_micro, r.keep)
        for r in dsir_weights(raw, target, n_buckets=512).collect()
    }
    assert got[0][2] == 1 and got[0][1] > 0   # target-like: kept
    assert got[1][2] == 0 and got[1][1] < 0   # raw-only: dropped
    assert got[2] == (0, 0, 0)                # no evidence
    con = duckdb.connect()
    con.register("raw", pd.DataFrame(raw_rows, columns=["doc_id", "text"]))
    con.register(
        "target", pd.DataFrame(target_rows, columns=["doc_id", "text"])
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            dsir_oracle_sql(
                raw_sql="SELECT doc_id, text FROM raw",
                target_sql="SELECT doc_id, text FROM target",
                n_buckets=512,
            )
        ).fetchall()
    }
    assert got == want


def test_pq_arrow_and_expression_paths_identical(spark):
    """The numpy/Arrow fit+score path and the interpreted expression
    path produce bit-identical codebooks and top-k results (int64
    everywhere; argmin first-min == (dist, j) tie-break)."""
    import random

    from pyspark.sql import functions as F

    from hquery_php_spark.operators.pq import pq_topk

    rng = random.Random(17)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(16)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qvec = rows[0][1]
    data = df.where(F.col("vec_id") != 0)
    out = {}
    for arrow in (False, True):
        reg = []
        out[arrow] = [
            (r.id, r.adc_dist)
            for r in pq_topk(
                data, qvec, m=4, k=8, topk=7,
                persist_registry=reg, use_arrow=arrow,
            ).collect()
        ]
        for c in reg:
            c.unpersist()
    assert out[True] == out[False]


def test_pagerank_fixed_point_properties_and_lockstep(spark):
    """A hub receiving every edge outranks its spokes; integer rounds
    agree with the unrolled-CTE twin bit for bit."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.graph import (
        pagerank_fixed_point,
        pagerank_oracle_sql,
    )

    # star + back-edges: 1..6 -> 0, 0 -> 1 (hub 0 must dominate)
    edges = [(i, 0) for i in range(1, 7)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_micro for r in pagerank_fixed_point(df).collect()}
    assert got[0] == max(got.values())
    assert got[1] > got[2]  # 1 gets the hub's mass, 2..6 only the base
    assert got[2] == got[3] == got[4] == got[5] == got[6]
    con = duckdb.connect()
    con.register("edges", pd.DataFrame(edges, columns=["src", "dst"]))
    want = {
        r[0]: r[1]
        for r in con.execute(
            pagerank_oracle_sql("SELECT src, dst FROM edges")
        ).fetchall()
    }
    assert got == want


def test_binned_quantiles_exactness_and_lockstep(spark):
    """Quantile estimates hit the documented bin-edge convention and
    agree with the DuckDB twin; known distribution pins the math."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.sketches import (
        binned_quantiles,
        binned_quantiles_oracle_sql,
    )

    # 100 rows of g0 with n_chars = 0..990 by 10s: p50 → first bin whose
    # cum >= 50 (bin_width 100 ⇒ bins of 10 rows each ⇒ bin 4, edge 400)
    rows = [(i, "t", "g0", i * 10) for i in range(100)]
    rows += [(200 + i, "t", "g1", 5000) for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    got = {
        r.source: (r.p50, r.p90, r.p99)
        for r in binned_quantiles(df, "n_chars").collect()
    }
    assert got["g0"] == (400, 800, 900)
    assert got["g1"] == (5000, 5000, 5000)
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text", "source", "n_chars"]),
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(binned_quantiles_oracle_sql()).fetchall()
    }
    assert got == want


def test_chunk_documents_windows(spark):
    """Window bounds, overlap, tail handling, and text reconstruction."""
    from hquery_php_spark.operators.pipeline import chunk_documents

    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, max_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    # doc1: 150 tokens, stride 56 → chunks at 0, 56, 112 (112+64 ≥ 150)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.start_tok for r in c1] == [0, 56, 112]
    assert [r.n_tok for r in c1] == [64, 64, 38]
    assert c1[0].chunk_text.split(" ")[0] == "w0"
    assert c1[1].chunk_text.split(" ")[0] == "w56"
    assert c1[2].chunk_text.split(" ")[-1] == "w149"
    # overlap: chunk 1's first 8 tokens == chunk 0's last 8
    assert c1[0].chunk_text.split(" ")[-8:] == c1[1].chunk_text.split(" ")[:8]
    # short doc: one chunk, whole text; whitespace-only doc: dropped
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short doc"
    assert 3 not in by_doc


def test_bigram_logprob_conditional_probability_ordering(spark):
    """A deterministic context (its only continuation) scores a higher
    conditional logprob than an ambiguous context shared by many
    continuations, and the twin agrees bit for bit."""
    import duckdb
    import pandas as pd

    from hquery_php_spark.functions.rank import (
        bigram_logprob,
        bigram_logprob_oracle_sql,
    )

    # context "the" continues 10 different ways (ambiguous);
    # context "yes" always continues to "yes" (deterministic)
    rows = [(10 + i, f"the w{i}") for i in range(10)]
    rows += [(1, "yes yes yes yes"), (2, "the w0"), (4, "single")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: (r.n_bigrams, r.sum_lp_micro, r.avg_logprob, r.ppl_proxy)
           for r in bigram_logprob(df).collect()}
    assert 4 not in got              # no bigram evidence: omitted
    assert got[1][2] > got[2][2]     # deterministic > ambiguous context
    assert got[2][3] > got[1][3]     # ambiguous = higher perplexity
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {r[0]: tuple(r[1:])
            for r in con.execute(bigram_logprob_oracle_sql()).fetchall()}
    assert got == want


def test_lsh_tune_monotone_operating_points():
    """Higher thresholds demand longer bands (more rows per band);
    results divide num_perm exactly and are deterministic."""
    from hquery_php_spark.operators.dedup import lsh_tune

    points = {t: lsh_tune(t, 128) for t in (0.3, 0.5, 0.7, 0.9)}
    rows = [points[t][1] for t in (0.3, 0.5, 0.7, 0.9)]
    assert rows == sorted(rows)  # r grows with the threshold
    for b, r in points.values():
        assert b * r == 128
    assert points == {t: lsh_tune(t, 128) for t in (0.3, 0.5, 0.7, 0.9)}


def test_semantic_dedup_auto_k_scales_cluster_count(spark):
    """k=None sizes the cluster count from corpus size: expected
    per-cluster membership stays ~target_cluster_size, so the
    within-cluster pair join grows linearly (n·target), not n²/k
    with fixed k.  Pin the formula and that auto-k matches the same
    explicit-k run value-for-value."""
    from hquery_php_spark.operators.semantic import semantic_dedup

    # 32 vectors: the 8 blob vectors plus 3 jittered copies of each
    # (ids +100/+200/+300, last component nudged) — 4 natural groups
    base = _blob_vectors()
    rows = list(base)
    for rep in (100, 200, 300):
        rows += [
            (vid + rep, v[:3] + [v[3] + rep / 10000.0]) for vid, v in base
        ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n = df.count()
    assert n == 32
    # formula: k = max(8, ceil(n / target))
    for target, want_k in ((256, 8), (4, 8), (2, 16), (1, 32)):
        assert max(8, -(-n // target)) == want_k
    # value parity: auto-k with target=4 (resolves to 8) vs explicit k=8
    auto = {
        (r.id_a, r.id_b)
        for r in semantic_dedup(
            df, k=None, target_cluster_size=4, iters=2,
            thr_num=99, thr_den=100, persist_quantized=False,
        ).collect()
    }
    explicit = {
        (r.id_a, r.id_b)
        for r in semantic_dedup(
            df, k=8, iters=2, thr_num=99, thr_den=100,
            persist_quantized=False,
        ).collect()
    }
    assert auto == explicit
    # jittered copies are near-dups of their originals; at least the
    # tightest planted pairs must surface under auto-k
    assert auto, "auto-k produced no within-cluster near-dup pairs"


def test_minhash_lsh_hot_bucket_cap(spark):
    """A degenerate bucket (10k identical docs would be |bucket|²/2
    pairs) is dropped at max_bucket_size and REPORTED via
    dropped_registry; the normal corpus is unchanged by the cap."""
    from hquery_php_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    hot = [(i, "boilerplate template page body") for i in range(50)]
    cold = [(1000 + i, f"distinct page {i} with words {i*7} {i*13}") for i in range(6)]
    df = spark.createDataFrame(hot + cold, "doc_id long, text string")
    sigs = minhash_signatures(df, num_perm=16, shingle_k=8)
    reg: list = []
    capped = minhash_lsh_candidates(
        sigs, bands=2, rows_per_band=8,
        max_bucket_size=10, dropped_registry=reg,
    )
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    # every hot-bucket pair is gone: candidate count is bounded, not 50²/2
    assert all(a >= 1000 or b >= 1000 for a, b in capped_pairs)
    dropped = reg[0].collect()
    assert dropped and all(r.n == 50 for r in dropped)
    # the cap leaves a normal corpus untouched
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            sigs, bands=2, rows_per_band=8, max_bucket_size=None,
        ).collect()
    }
    hot_pairs = {(a, b) for a in range(50) for b in range(50) if a < b}
    assert uncapped - hot_pairs == capped_pairs


def test_streaming_sessionize_gap_before_start_splits(spark, tmp_path):
    """A late in-watermark event that precedes the open session's START
    by more than the gap becomes its own session — the batch split
    semantics — instead of being merged (regression: the old state
    only gap-tested against last_ts, so 11:00 merged into a 12:00
    session under a 30-minute gap)."""
    import os

    import pandas as pd

    from hquery_php_spark.streaming import streaming_sessionize

    src_dir = str(tmp_path / "gap_in")
    ckpt = str(tmp_path / "gap_ckpt")
    os.makedirs(src_dir, exist_ok=True)
    base = pd.Timestamp("2026-01-01 12:00:00")

    def push(ts_list):
        pdf = pd.DataFrame({"user_id": [1] * len(ts_list), "ts": ts_list})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src_dir)

    push([base])                                  # open session at 12:00
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src_dir)
    out = streaming_sessionize(stream, gap_minutes=30, watermark="3 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("gap_sessions")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # late event a full hour BEFORE the open session's start: the
        # 11:00→12:00 gap exceeds 30m, so it must close as its OWN
        # session immediately (batch semantics), 12:00 stays open
        push([base - pd.Timedelta(hours=1)])
        q.processAllAvailable()
        got = spark.sql(
            "SELECT session_start, session_end, n_events FROM gap_sessions"
        ).collect()
        assert len(got) == 1, got
        assert got[0].session_start == (base - pd.Timedelta(hours=1)).to_pydatetime()
        assert got[0].session_end == (base - pd.Timedelta(hours=1)).to_pydatetime()
        assert got[0].n_events == 1
        # and the 12:00 session is still open: a nearby event extends it,
        # a later gap closes it with both events
        push([base + pd.Timedelta(minutes=10), base + pd.Timedelta(hours=2)])
        q.processAllAvailable()
        got2 = spark.sql(
            "SELECT session_start, session_end, n_events FROM gap_sessions "
            "ORDER BY session_start"
        ).collect()
        assert len(got2) == 2, got2
        assert got2[1].session_start == base.to_pydatetime()
        assert got2[1].session_end == (base + pd.Timedelta(minutes=10)).to_pydatetime()
        assert got2[1].n_events == 2
    finally:
        q.stop()
