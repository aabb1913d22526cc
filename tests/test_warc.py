"""WARC crawl-archive ingestion: framing roundtrip (plain + gzip
members), HTTP envelope split, charset handoff, and the Spark
binaryFile → records → extract_spans pipeline."""

import gzip
import os

import pytest

from hquery_php_spark.sources.warc import (
    gunzip_members,
    make_warc,
    parse_warc,
)

RESPONSES = [
    ("https://a.example/x", 200, "text/html; charset=UTF-8", b"<p>hello</p>"),
    (
        "https://b.example/y",
        200,
        "text/html; charset=ISO-8859-2",
        "<p>priv\xe9t</p>".encode("latin-1"),
    ),
    ("https://c.example/z", 404, "text/plain", b"not found"),
]


@pytest.mark.parametrize("gz", [False, True])
def test_warc_roundtrip(gz):
    data = make_warc(RESPONSES, gzip_members=gz)
    recs = parse_warc(data)
    assert [r.warc_type for r in recs] == ["warcinfo"] + ["response"] * 3
    resp = [r for r in recs if r.warc_type == "response"]
    assert [r.target_uri for r in resp] == [u for u, _, _, _ in RESPONSES]
    assert [r.http_status for r in resp] == [200, 200, 404]
    assert [r.payload for r in resp] == [b for _, _, _, b in RESPONSES]
    assert resp[0].http_content_type == "text/html; charset=UTF-8"


def test_gunzip_members_multi():
    members = b"".join(gzip.compress(p) for p in (b"aa", b"bb", b"cc"))
    assert gunzip_members(members) == b"aabbcc"
    assert gunzip_members(b"plain") == b"plain"


def test_warc_truncated_and_garbage():
    data = make_warc(RESPONSES)
    # truncating mid-record keeps the complete prefix records
    cut = parse_warc(data[: len(data) - 20])
    assert len(cut) >= 2
    # garbage after a record boundary stops cleanly
    assert parse_warc(b"not a warc") == []


def test_chunked_transfer_encoding_dechunked():
    """Crawl archives store the raw on-the-wire message: chunk-size
    framing must not leak into the HTML engine as text."""
    body = b"5\r\n<p>he\r\n9\r\nllo</p>!!\r\n0\r\n\r\n"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + body
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.example/\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(http)}\r\n\r\n".encode()
        + http
        + b"\r\n\r\n"
    )
    recs = parse_warc(rec)
    assert len(recs) == 1
    assert recs[0].payload == b"<p>hello</p>!!"


def test_dechunk_fault_tolerance():
    from hquery_php_spark.sources.warc import _dechunk

    # not chunked framing at all → unchanged
    assert _dechunk(b"<p>plain</p>") == b"<p>plain</p>"
    # chunk extensions are dropped; truncated tail keeps decoded prefix
    assert _dechunk(b"4;ext=1\r\nabcd\r\n0\r\n\r\n") == b"abcd"
    assert _dechunk(b"4\r\nabcd\r\nZZZ") == b"abcd"


def test_folded_continuation_headers():
    """obs-fold continuation lines join onto the previous header."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html;\r\n charset=ISO-8859-2\r\n"
        b"Content-Length: 3\r\n\r\nabc"
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://f.example/\r\n"
        + f"Content-Length: {len(http)}\r\n\r\n".encode()
        + http
        + b"\r\n\r\n"
    )
    recs = parse_warc(rec)
    assert recs[0].http_content_type == "text/html; charset=ISO-8859-2"
    assert recs[0].payload == b"abc"


def test_make_warc_chunked_and_obs_fold_options():
    """The builder's per-response options emit real on-the-wire shapes
    that the parser round-trips: chunked TE framing and obs-fold
    Content-Type — the families the warc_envelope driver oracle uses."""
    from hquery_php_spark.sources.warc import make_warc

    a = make_warc(
        [
            (
                "https://x/1",
                200,
                "text/plain; charset=utf-8",
                b"hello world chunked",
                {"chunked": True},
            ),
            (
                "https://x/2",
                200,
                "text/html; charset=ISO-8859-1",
                b"\xe9 folded",
                {"obs_fold": True},
            ),
            ("https://x/3", 200, "text/html; charset=UTF-8", b"plain"),
        ],
        gzip_members=True,
    )
    recs = [r for r in parse_warc(a) if r.warc_type == "response"]
    assert [r.payload for r in recs] == [
        b"hello world chunked",
        b"\xe9 folded",
        b"plain",
    ]
    # chunked member's raw block really was TE-framed (no Content-Length)
    from hquery_php_spark.sources.warc import gunzip_members

    raw = gunzip_members(a)
    assert b"Transfer-Encoding: chunked" in raw
    # the folded header re-joins to the original value
    assert recs[1].http_content_type == "text/html; charset=ISO-8859-1"
    # single-chunk edge: 1-byte body still frames/parses
    b1 = make_warc([("https://x/4", 200, "text/plain", b"x", {"chunked": True})])
    assert [r.payload for r in parse_warc(b1) if r.warc_type == "response"] == [b"x"]


def test_read_warc_files_spark(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hquery_php_spark.operators.pipeline import extract_spans_df
    from hquery_php_spark.sources.warc import read_warc_files

    d = tmp_path / "crawl"
    os.makedirs(d)
    (d / "a.warc").write_bytes(make_warc(RESPONSES[:2]))
    (d / "b.warc.gz").write_bytes(make_warc(RESPONSES[2:], gzip_members=True))

    recs = read_warc_files(spark, str(d) + "/*")
    rows = {r.url: r for r in recs.collect()}
    assert set(rows) == {u for u, _, _, _ in RESPONSES}
    # charset flows from the HTTP envelope into the engine's detector
    assert rows["https://b.example/y"].charset == "ISO-8859-2"
    assert rows["https://c.example/z"].http_status == 404

    # records → extraction: the full crawl-archive-to-spans pipeline
    from pyspark.sql import functions as F

    html_docs = recs.where(
        (F.col("http_status") == 200)
        & F.col("content_type").startswith("text/html")
    ).select(
        F.col("url").alias("doc_id"),
        F.col("payload").alias("html"),
        F.col("url").alias("base_url"),
        F.concat(F.lit("Content-Type: "), F.col("content_type")).alias("headers"),
    )
    spans = {
        r.doc_id: r
        for r in extract_spans_df(html_docs, headers_col="headers").collect()
    }
    assert len(spans) == 2
    # ISO-8859-2 bytes decoded via the HTTP envelope's charset — the
    # payload itself carries no meta tag
    assert spans["https://b.example/y"].charset == "ISO-8859-2"
    texts = [s["text"] for s in spans["https://b.example/y"].spans]
    assert "privét" in " ".join(texts)


def test_gzip_member_spans_streaming(tmp_path):
    """Offset index finds every member boundary without holding the
    archive (or its decompressed form) in memory."""
    import gzip

    from hquery_php_spark.sources.warc import _gzip_member_spans

    parts = [gzip.compress(bytes([i]) * (100 + i * 37)) for i in range(9)]
    data = b"".join(parts)
    p = tmp_path / "m.gz"
    p.write_bytes(data)
    with open(p, "rb") as f:
        spans = list(_gzip_member_spans(f, chunk_size=64))  # tiny chunks
    # spans tile the file exactly, in order
    assert spans[0][0] == 0
    assert sum(ln for _, ln in spans) == len(data)
    assert [ln for _, ln in spans] == [len(x) for x in parts]
    # every span decompresses standalone to the right payload
    for i, (off, ln) in enumerate(spans):
        assert gzip.decompress(data[off : off + ln]) == bytes([i]) * (100 + i * 37)
    # truncated final member is dropped, clean prefix kept
    p2 = tmp_path / "t.gz"
    p2.write_bytes(data[:-10])  # cuts into the last member only
    with open(p2, "rb") as f:
        assert len(list(_gzip_member_spans(f, chunk_size=64))) == len(parts) - 1


@pytest.mark.parametrize("gz", [False, True])
def test_index_warc_slices_boundaries(tmp_path, gz):
    from hquery_php_spark.sources.warc import index_warc_slices

    many = [
        (f"https://s.example/{i}", 200, "text/html", f"<p>doc {i}</p>".encode() * 20)
        for i in range(40)
    ]
    p = tmp_path / ("x.warc.gz" if gz else "x.warc")
    p.write_bytes(make_warc(many, gzip_members=gz))
    slices = index_warc_slices(str(p), target_slice_bytes=600)
    assert len(slices) > 1  # actually split
    # slices are contiguous and tile the indexable region
    for (o1, l1, _), (o2, _, _) in zip(slices, slices[1:]):
        assert o1 + l1 == o2
    # each slice parses standalone; union of records == whole-archive parse
    data = p.read_bytes()
    got = []
    for off, ln, n in slices:
        recs = parse_warc(data[off : off + ln])
        assert len(recs) == n
        got.extend(r.target_uri for r in recs if r.warc_type == "response")
    assert got == [u for u, _, _, _ in many]


def test_read_warc_files_split_spark(tmp_path):
    """One multi-record .warc.gz parsed across >1 partition with
    records identical to the whole-file reader."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hquery_php_spark.sources.warc import (
        read_warc_files,
        read_warc_files_split,
    )

    many = [
        (f"https://s.example/{i}", 200, "text/html", f"<p>doc {i}</p>".encode() * 30)
        for i in range(60)
    ]
    d = tmp_path / "crawl"
    os.makedirs(d)
    (d / "big.warc.gz").write_bytes(make_warc(many, gzip_members=True))

    split = read_warc_files_split(
        spark, str(d) + "/*.warc.gz", target_slice_bytes=1000
    ).withColumn("pid", F.spark_partition_id())
    rows = split.collect()
    n_parts_used = len({r.pid for r in rows})
    assert n_parts_used > 1, "single archive must fan out across partitions"

    whole = read_warc_files(spark, str(d) + "/*").collect()
    key = lambda r: (r.url, r.http_status, bytes(r.payload))  # noqa: E731
    assert sorted(key(r) for r in rows) == sorted(key(r) for r in whole)
    assert len(rows) == len(many)


@pytest.mark.parametrize("slice_bytes", [0, 400])
def test_extract_job_warc_input(tmp_path, monkeypatch, slice_bytes):
    """jobs/extract_job.py --input-format warc: crawl archives straight
    to the span table through the packaged job (in-process main()),
    with and without range-splitting."""
    pytest.importorskip("pyspark")
    import sys

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = tmp_path / "crawl"
    os.makedirs(d)
    suffix = ".warc.gz" if slice_bytes else ".warc"
    (d / f"a{suffix}").write_bytes(
        make_warc(RESPONSES, gzip_members=bool(slice_bytes))
    )
    out = str(tmp_path / "spans")

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import extract_job

    # the job calls spark.stop() — keep the shared test session alive
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "extract_job.py",
            "--input", str(d) + "/*",
            "--input-format", "warc",
            "--warc-slice-bytes", str(slice_bytes),
            "--output", out,
            "--partitions", "2",
        ],
    )
    extract_job.main()

    from hquery_php_spark.sources.snaptable import SnapTable

    got = {r.doc_id: r for r in SnapTable(out).read(spark).collect()}
    # only the two 200 text/html responses become documents
    assert set(got) == {"https://a.example/x", "https://b.example/y"}
    assert got["https://b.example/y"].charset == "ISO-8859-2"


def test_extract_job_warc_max_batches_resume(tmp_path, monkeypatch, capsys):
    """WARC input resumes by manifest set difference like parquet: a
    --max-batches 1 run over 4 archives commits one batch, the re-run
    completes the rest, and a third run commits nothing.  Every 200
    text/html URL lands exactly once, with its HTTP-header charset."""
    pytest.importorskip("pyspark")
    import sys

    from pyspark.sql import SparkSession

    from hquery_php_spark.sources.snaptable import SnapTable

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = tmp_path / "crawl"
    os.makedirs(d)
    want = set()
    for k in range(4):
        recs = [
            (f"https://s{k}.example/{i}", 200, "text/html; charset=ISO-8859-2",
             f"<p>archive {k} page {i} priv\xe9t</p>".encode("latin-1"))
            for i in range(5)
        ] + [(f"https://s{k}.example/gone", 404, "text/html", b"<p>no</p>"),
             (f"https://s{k}.example/img", 200, "image/png", b"\x89PNG")]
        want |= {u for u, st, ct, _ in recs if st == 200 and ct.startswith("text/html")}
        (d / f"a{k}.warc").write_bytes(make_warc(recs))
    out = str(tmp_path / "spans")

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    import extract_job

    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def run(*extra):
        monkeypatch.setattr(sys, "argv", [
            "extract_job.py", "--input", str(d), "--input-format", "warc",
            "--output", out, "--partitions", "2", "--batches", "3", *extra,
        ])
        extract_job.main()
        return capsys.readouterr().out

    assert "ran 1, skipped 0 committed, of 3" in run("--max-batches", "1")
    assert "ran 2, skipped 1 committed, of 3" in run()
    assert "ran 0, skipped 3 committed, of 3" in run()

    rows = SnapTable(out).read(spark).select("doc_id", "charset").collect()
    assert sorted(r.doc_id for r in rows) == sorted(want)  # each exactly once
    assert {r.charset for r in rows} == {"ISO-8859-2"}


def test_write_warc_files_roundtrip(tmp_path):
    """Sink → reader round trip: a DataFrame of responses written with
    write_warc_files re-reads byte-identically through BOTH readers,
    the output re-splits at gzip-member boundaries, and the manifest
    accounts for every record."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hquery_php_spark.sources.warc import (
        index_warc_slices,
        read_warc_files,
        read_warc_files_split,
        write_warc_files,
    )

    rows = [
        (f"https://w.example/{i}", 200, "text/html; charset=utf-8",
         bytearray(f"<html><body><p>doc {i} body</p></body></html>".encode()))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "url string, http_status int, content_type string, payload binary"
    ).repartition(3)
    out = str(tmp_path / "sink")
    manifest = {r.path: r for r in write_warc_files(df, out).collect()}
    assert sum(r.n_records for r in manifest.values()) == 20
    assert all(os.path.getsize(p) == manifest[p].n_bytes for p in manifest)
    assert all(p.endswith(".warc.gz") for p in manifest)

    back = {r.url: r for r in read_warc_files(spark, out + "/*").collect()}
    assert set(back) == {u for u, _, _, _ in rows}
    assert all(bytes(back[u].payload) == bytes(b) for u, _, _, b in rows)
    assert all(back[u].http_status == 200 for u in back)

    # the one-member-per-record layout re-splits: tiny target → every
    # file yields multiple slices, and the split reader sees all rows
    import glob as _glob

    n_slices = sum(
        len(index_warc_slices(p, target_slice_bytes=1))
        for p in _glob.glob(out + "/*.warc.gz")
    )
    assert n_slices > len(manifest)
    split_back = read_warc_files_split(spark, out + "/*", target_slice_bytes=1)
    assert split_back.count() == 20


# ------------------------------------------------------------------ #
# .warc.zst (RFC 8878 frames, Common Crawl's newer distribution layout)


def test_zstd_warc_roundtrip_and_parse():
    from hquery_php_spark.sources.warc import unzstd_frames

    zst = make_warc(RESPONSES, zstd_frames=True)
    recs = parse_warc(zst)
    plain = parse_warc(make_warc(RESPONSES))
    assert [(r.target_uri, r.http_status, r.payload) for r in recs] == [
        (r.target_uri, r.http_status, r.payload) for r in plain
    ]
    # pass-through for non-zstd input
    assert unzstd_frames(b"WARC/1.0\r\n") == b"WARC/1.0\r\n"


def test_zstd_frame_spans_metadata_only():
    """The index walk never decompresses: spans tile the file exactly,
    each span parses independently, skippable frames fold into the
    following span, truncation drops only the final frame."""
    import io
    import struct

    from hquery_php_spark.sources.warc import _zstd_frame_spans

    many = [
        (f"https://z.example/{i}", 200, "text/html", f"<p>{i}</p>".encode() * 20)
        for i in range(40)
    ]
    zst = make_warc(many, zstd_frames=True)
    spans = list(_zstd_frame_spans(io.BytesIO(zst)))
    assert len(spans) == len(many) + 1  # + warcinfo
    assert spans[0][0] == 0
    assert sum(ln for _, ln in spans) == len(zst)
    for off, ln in spans:
        assert parse_warc(zst[off : off + ln])
    # skippable frame before the first data frame (dictionary slot)
    skip = struct.pack("<I", 0x184D2A5D) + struct.pack("<I", 6) + b"dict!!"
    spans2 = list(_zstd_frame_spans(io.BytesIO(skip + zst)))
    assert len(spans2) == len(spans) and spans2[0] == (0, spans[0][1] + 14)
    assert parse_warc((skip + zst)[: spans2[0][1]])
    # truncated final frame dropped; garbage tail stops cleanly
    assert len(list(_zstd_frame_spans(io.BytesIO(zst[:-2])))) == len(spans) - 1
    assert len(list(_zstd_frame_spans(io.BytesIO(zst + b"garbage")))) == len(spans)


def test_zstd_dictionary_frame_is_honest_boundary():
    """A data frame declaring a dictionary ID must raise, not emit
    garbage (no dictionary API in the in-container codec)."""
    import io

    from hquery_php_spark.sources.warc import _zstd_frame_spans

    zst = bytearray(make_warc(RESPONSES, zstd_frames=True))
    assert zst[4] & 3 == 0
    zst[4] |= 1  # forge Dictionary_ID_Flag = 1
    with pytest.raises(NotImplementedError):
        list(_zstd_frame_spans(io.BytesIO(bytes(zst))))


def test_read_warc_files_split_spark_zstd(tmp_path):
    """One multi-record .warc.zst fans out across >1 partition with
    records identical to the whole-file reader — same contract as the
    gzip path, but the index pass is pure seeks (no decompression)."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hquery_php_spark.sources.warc import (
        read_warc_files,
        read_warc_files_split,
    )

    many = [
        (f"https://zs.example/{i}", 200, "text/html", f"<p>doc {i}</p>".encode() * 30)
        for i in range(60)
    ]
    d = tmp_path / "crawlz"
    os.makedirs(d)
    (d / "big.warc.zst").write_bytes(make_warc(many, zstd_frames=True))

    split = read_warc_files_split(
        spark, str(d) + "/*.warc.zst", target_slice_bytes=1000
    ).withColumn("pid", F.spark_partition_id())
    rows = split.collect()
    assert len({r.pid for r in rows}) > 1, "single archive must fan out"

    whole = read_warc_files(spark, str(d) + "/*").collect()
    key = lambda r: (r.url, r.http_status, bytes(r.payload))  # noqa: E731
    assert sorted(key(r) for r in rows) == sorted(key(r) for r in whole)
    assert len(rows) == len(many)
