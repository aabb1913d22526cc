"""WARC crawl-archive ingestion — the batch-native replacement for the
reference's live HTTP client (`hQuery::fromURL` / `sendRequest`,
/root/reference/src/hQuery.php:136-291): a 100 TB extraction engine
reads pre-crawled WARC archives, so the "HTTP" surface this engine
needs is the response envelope already on disk.

Pure-python WARC/1.x parsing (no warcio in this container):

* record framing via ``Content-Length`` (exact per the spec: header
  block, CRLF CRLF, Content-Length payload bytes, CRLF CRLF);
* ``response`` records additionally split the embedded HTTP/1.x message
  into status + headers + body — the headers feed the engine's
  charset detection (`core/charset.py`), exactly where the reference's
  HTTP client handed its response headers to hQuery;
* multi-member gzip (.warc.gz stores one gzip member per record) is
  handled by a ``zlib`` loop over ``unused_data``.

Spark surface: ``read_warc_files`` = binaryFile scan → one
``mapInPandas`` crossing that explodes each archive into records
(parallelism = one task per archive); ``read_warc_files_split`` =
streaming offset-index pass over gzip-member / record boundaries →
(archive, offset, length) slice table → distributed range fetch+parse,
so a single giant archive fans out instead of serializing to one task.
"""

from __future__ import annotations

import zlib
from typing import Iterator, List, NamedTuple, Optional, Tuple

__all__ = [
    "WarcRecord",
    "gunzip_members",
    "parse_warc",
    "read_warc_files",
    "index_warc_slices",
    "read_warc_files_split",
    "write_warc_files",
]

_CRLF = b"\r\n"


class WarcRecord(NamedTuple):
    warc_type: str
    record_id: Optional[str]
    target_uri: Optional[str]
    warc_date: Optional[str]
    content_type: Optional[str]  # WARC block content type
    http_status: Optional[int]  # response records only
    http_content_type: Optional[str]  # from the embedded HTTP headers
    payload: bytes  # HTTP body for response records, else the block


_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"  # RFC 8878 frame magic (little-endian)


def _is_zstd(data: bytes) -> bool:
    """Data frame magic, or a skippable frame (0x184D2A50..5F LE) that
    can legally precede the first data frame (.warc.zst convention
    stores a dictionary there)."""
    if len(data) < 4:
        return False
    if data[:4] == _ZSTD_MAGIC:
        return True
    return data[1:4] == b"\x2a\x4d\x18" and 0x50 <= data[0] <= 0x5F


def unzstd_frames(data: bytes) -> bytes:
    """Decompress concatenated zstd frames (the .warc.zst layout) via
    the in-container libzstd (pyarrow); skippable frames are skipped by
    the streaming decoder.  Pass-through when the input is not zstd."""
    if not _is_zstd(data):
        return data
    import io

    import pyarrow as pa

    return bytes(pa.input_stream(io.BytesIO(data), compression="zstd").read())


def gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the .warc.gz layout) —
    plain ``gzip.decompress`` stops after the first member in some
    implementations; loop on ``unused_data`` to take them all.
    Pass-through when the input is not gzip."""
    if len(data) < 2 or data[:2] != b"\x1f\x8b":
        return data
    out: List[bytes] = []
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(rest))
        out.append(d.flush())
        if not d.unused_data or d.unused_data is rest:
            break
        rest = d.unused_data
    return b"".join(out)


def _parse_headers(block: bytes) -> Tuple[dict, int]:
    """Parse a CRLF header block; returns ({lower-name: value}, end)
    where end is the offset just past the blank line.  Folded
    continuation lines (obs-fold: leading SP/HT, RFC 7230 §3.2.4) are
    joined onto the previous header's value — real crawl archives store
    the raw on-the-wire message, folds included."""
    hdrs: dict = {}
    last_key: Optional[str] = None
    pos = 0
    n = len(block)
    while pos < n:
        eol = block.find(_CRLF, pos)
        if eol < 0:
            eol = n
        line = block[pos:eol]
        pos = eol + 2
        if not line:
            break
        if line[:1] in (b" ", b"\t"):
            if last_key is not None:
                cont = line.strip().decode("latin-1", "replace")
                hdrs[last_key] = (hdrs[last_key] + " " + cont).strip()
            continue
        if b":" in line:
            k, v = line.split(b":", 1)
            last_key = k.strip().lower().decode("latin-1")
            hdrs[last_key] = v.strip().decode("latin-1", "replace")
    return hdrs, pos


def _dechunk(body: bytes) -> bytes:
    """Decode a chunked Transfer-Encoding body (chunk-size lines in hex,
    optional ;extensions, trailers ignored) — the reference's raw-socket
    client does this too (hQuery.php http_wr).  Fault-tolerant: malformed
    framing returns the chunks decoded so far plus nothing else; a body
    that never parses as chunked at all is returned unchanged."""
    out: List[bytes] = []
    pos = 0
    n = len(body)
    first = True
    while pos < n:
        eol = body.find(_CRLF, pos)
        if eol < 0:
            break
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            if first:
                return body  # not actually chunked framing
            break
        first = False
        if size == 0:
            break  # last-chunk; trailers (if any) are dropped
        start = eol + 2
        out.append(body[start : start + size])
        pos = start + size + 2  # skip chunk-data CRLF
    if first:
        return body
    return b"".join(out)


def parse_warc(data: bytes) -> List[WarcRecord]:
    """All records of a WARC archive (gzip members and zstd frames
    handled)."""
    data = gunzip_members(data)
    data = unzstd_frames(data)
    records: List[WarcRecord] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            break  # not a record boundary — stop rather than misparse
        ver_end = data.find(_CRLF, pos)
        if ver_end < 0:
            break
        hdrs, hdr_len = _parse_headers(data[ver_end + 2 :])
        body_start = ver_end + 2 + hdr_len
        try:
            length = int(hdrs.get("content-length", ""))
        except ValueError:
            break
        block = data[body_start : body_start + length]
        pos = body_start + length

        wtype = hdrs.get("warc-type", "")
        status: Optional[int] = None
        http_ct: Optional[str] = None
        payload = block
        ctype = hdrs.get("content-type")
        if wtype == "response" and block.startswith(b"HTTP/"):
            line_end = block.find(_CRLF)
            try:
                status = int(block[:line_end].split(b" ", 2)[1])
            except (IndexError, ValueError):
                status = None
            http_hdrs, http_len = _parse_headers(block[line_end + 2 :])
            http_ct = http_hdrs.get("content-type")
            payload = block[line_end + 2 + http_len :]
            if "chunked" in http_hdrs.get("transfer-encoding", "").lower():
                payload = _dechunk(payload)
        records.append(
            WarcRecord(
                warc_type=wtype,
                record_id=hdrs.get("warc-record-id"),
                target_uri=hdrs.get("warc-target-uri"),
                warc_date=hdrs.get("warc-date"),
                content_type=ctype,
                http_status=status,
                http_content_type=http_ct,
                payload=payload,
            )
        )
    return records


def make_warc(
    responses: List[Tuple[str, int, str, bytes]],
    gzip_members: bool = False,
    zstd_frames: bool = False,
) -> bytes:
    """Deterministic WARC builder for tests: (url, status, content_type,
    body) → response records (plus a warcinfo header record).
    ``gzip_members`` emits the standard one-gzip-member-per-record
    layout; ``zstd_frames`` the one-zstd-frame-per-record .warc.zst
    layout (via the in-container libzstd).

    A response tuple may carry a fifth element — an options dict — to
    shape the embedded HTTP message the way real crawls see it:

    * ``{"chunked": True}``  — body framed with ``Transfer-Encoding:
      chunked`` (split into two chunks; no HTTP Content-Length), the
      framing the reference's raw-socket client decodes
      (hQuery.php http_wr)
    * ``{"obs_fold": True}`` — the Content-Type header folded across
      two lines at its first ``;`` (obs-fold, RFC 7230 §3.2.4) — real
      archives store the raw on-the-wire message, folds included
    """
    import gzip as _gzip

    def rec(warc_headers: List[Tuple[str, str]], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n"
        hs = warc_headers + [("Content-Length", str(len(block)))]
        head += b"".join(
            f"{k}: {v}".encode("latin-1") + _CRLF for k, v in hs
        )
        return head + _CRLF + block + _CRLF + _CRLF

    out: List[bytes] = []
    info = b"software: hquery-php-spark-tests\r\n"
    out.append(
        rec(
            [("WARC-Type", "warcinfo"), ("Content-Type", "application/warc-fields")],
            info,
        )
    )
    for i, resp in enumerate(responses):
        url, status, ctype, body = resp[:4]
        opts = resp[4] if len(resp) > 4 else {}
        if opts.get("obs_fold") and ";" in ctype:
            main, rest = ctype.split(";", 1)
            ct_line = f"Content-Type: {main};\r\n {rest.strip()}"
        else:
            ct_line = f"Content-Type: {ctype}"
        if opts.get("chunked"):
            half = max(1, len(body) // 2)
            chunks = [c for c in (body[:half], body[half:]) if c]
            framed = (
                b"".join(
                    b"%x" % len(c) + _CRLF + c + _CRLF for c in chunks
                )
                + b"0" + _CRLF + _CRLF
            )
            http = (
                f"HTTP/1.1 {status} OK\r\n{ct_line}\r\n"
                f"Transfer-Encoding: chunked\r\n\r\n"
            ).encode("latin-1") + framed
        else:
            http = (
                f"HTTP/1.1 {status} OK\r\n{ct_line}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("latin-1") + body
        out.append(
            rec(
                [
                    ("WARC-Type", "response"),
                    ("WARC-Record-ID", f"<urn:test:{i}>"),
                    ("WARC-Target-URI", url),
                    ("WARC-Date", "2026-01-01T00:00:00Z"),
                    ("Content-Type", "application/http; msgtype=response"),
                ],
                http,
            )
        )
    if gzip_members and zstd_frames:
        raise ValueError("pick one compression layout")
    if gzip_members:
        return b"".join(_gzip.compress(r) for r in out)
    if zstd_frames:
        import pyarrow as pa

        codec = pa.Codec("zstd")
        return b"".join(bytes(codec.compress(r)) for r in out)
    return b"".join(out)


# ------------------------------------------------------------------ #
# Range-splitting: one giant .warc.gz must not serialize to one task.
# The standard one-gzip-member-per-record layout exists precisely so
# archives can be split at member boundaries; an offset-index pass
# (streaming, O(chunk) memory) emits (archive, offset, length) slices,
# and the expensive parse/extract work then distributes per slice.


def _gzip_member_spans(f, chunk_size: int = 1 << 20) -> Iterator[Tuple[int, int]]:
    """Stream a .warc.gz file object and yield (offset, length) of each
    gzip member — bounded memory: decompressed output is produced in
    64 KiB bites and discarded; only boundary arithmetic is kept.
    A truncated final member is dropped (resumable-crawl semantics)."""
    abs_off = 0
    pending = b""
    while True:
        if not pending:
            pending = f.read(chunk_size)
            if not pending:
                return
        if pending[:2] != b"\x1f\x8b":
            return  # trailing garbage — stop at the last clean boundary
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        fed = 0
        truncated = False
        while not d.eof:
            if not pending:
                pending = f.read(chunk_size)
                if not pending:
                    truncated = True
                    break
            buf = pending
            pending = b""
            fed += len(buf)
            d.decompress(buf, 1 << 16)
            while d.unconsumed_tail and not d.eof:
                d.decompress(d.unconsumed_tail, 1 << 16)
        if truncated:
            return
        fed -= len(d.unused_data)
        pending = d.unused_data
        yield (abs_off, fed)
        abs_off += fed


def _zstd_frame_spans(f) -> Iterator[Tuple[int, int]]:
    """Frame-boundary spans of a .warc.zst — METADATA-ONLY: zstd block
    headers carry their compressed size (RFC 8878 §3.1.1.2), so frame
    ends are found by seeking block-to-block with zero decompression
    (contrast `_gzip_member_spans`, which must inflate every byte to
    find member ends — at 100 TB the index pass here is pure seeks).

    Skippable frames (§3.1.2) fold into the FOLLOWING data frame's
    span — libzstd's streaming decoder skips them during the fetch.  A
    frame declaring a dictionary ID raises NotImplementedError: the
    in-container codec has no dictionary API, and silently emitting
    garbage is worse than the honest boundary.  A truncated final
    frame is dropped (resumable-crawl semantics, same as gzip)."""
    size = f.seek(0, 2)
    f.seek(0)
    span_start = None
    while True:
        start = f.tell()
        hdr = f.read(4)
        if len(hdr) < 4:
            return
        magic = int.from_bytes(hdr, "little")
        if 0x184D2A50 <= magic <= 0x184D2A5F:  # skippable frame
            szb = f.read(4)
            if len(szb) < 4:
                return
            if f.tell() + int.from_bytes(szb, "little") > size:
                return  # truncated
            f.seek(int.from_bytes(szb, "little"), 1)
            if span_start is None:
                span_start = start
            continue
        if magic != 0xFD2FB528:
            return  # trailing garbage — stop at the last clean boundary
        if span_start is None:
            span_start = start
        fhd_b = f.read(1)
        if not fhd_b:
            return
        fhd = fhd_b[0]
        dict_flag = fhd & 3
        if dict_flag:
            raise NotImplementedError(
                "dictionary-compressed zstd WARC (frame declares a "
                "dictionary ID; no dictionary API in the available codec)"
            )
        single = (fhd >> 5) & 1
        has_checksum = (fhd >> 2) & 1
        fcs_flag = fhd >> 6
        hdr_rest = (0 if single else 1) + {0: (1 if single else 0), 1: 2,
                                           2: 4, 3: 8}[fcs_flag]
        f.seek(hdr_rest, 1)
        while True:  # block walk: 3-byte headers, seek over payloads
            bh = f.read(3)
            if len(bh) < 3 or f.tell() > size:
                return
            v = bh[0] | (bh[1] << 8) | (bh[2] << 16)
            btype = (v >> 1) & 3
            if btype == 3:
                return  # reserved block type — corrupt
            f.seek(1 if btype == 1 else v >> 3, 1)
            if v & 1:  # last block
                break
        if has_checksum:
            f.seek(4, 1)
        end = f.tell()
        if end > size:
            return  # truncated final frame
        yield (span_start, end - span_start)
        span_start = None


def _plain_record_spans(f) -> Iterator[Tuple[int, int]]:
    """Record-boundary spans of an UNcompressed WARC: walk the header
    blocks (readline) and seek over each Content-Length payload —
    no payload bytes are ever materialized."""
    while True:
        start = f.tell()
        line = f.readline()
        while line in (b"\r\n", b"\n"):
            start = f.tell()
            line = f.readline()
        if not line or not line.startswith(b"WARC/"):
            return
        clen = None
        while True:
            hl = f.readline()
            if not hl or hl in (b"\r\n", b"\n"):
                break
            if hl.lower().startswith(b"content-length:"):
                try:
                    clen = int(hl.split(b":", 1)[1])
                except ValueError:
                    return
        if clen is None:
            return
        f.seek(clen, 1)
        # consume the record-terminating CRLFs (spec: two)
        while True:
            probe = f.read(2)
            if probe != _CRLF:
                f.seek(-len(probe), 1)
                break
        yield (start, f.tell() - start)


def _local_path(path: str) -> str:
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
    return path


def index_warc_slices(path: str, target_slice_bytes: int = 4 << 20) -> List[Tuple[int, int, int]]:
    """(offset, length, n_members) slices of one archive: consecutive
    record/member spans greedily packed up to ``target_slice_bytes``.
    Every slice starts on a record boundary by construction, so slices
    parse independently.  Degrades gracefully: an archive gzipped as a
    single member yields one whole-file slice."""
    slices: List[Tuple[int, int, int]] = []
    with open(_local_path(path), "rb") as f:
        head = f.read(4)
        f.seek(0)
        if head[:2] == b"\x1f\x8b":
            spans = _gzip_member_spans(f)
        elif _is_zstd(head):
            spans = _zstd_frame_spans(f)
        else:
            spans = _plain_record_spans(f)
        cur_off = cur_len = cur_n = 0
        for off, ln in spans:
            if cur_n and cur_len + ln > target_slice_bytes:
                slices.append((cur_off, cur_len, cur_n))
                cur_off, cur_len, cur_n = off, 0, 0
            if cur_n == 0:
                cur_off = off
            cur_len += ln
            cur_n += 1
        if cur_n:
            slices.append((cur_off, cur_len, cur_n))
    return slices


def _response_rows(path: str, data: bytes, detect_charset):
    """Shared record→row conversion for both WARC readers."""
    for r in parse_warc(data):
        if r.warc_type != "response":
            continue
        headers = (
            {"content-type": r.http_content_type} if r.http_content_type else None
        )
        yield (
            path,
            r.target_uri,
            r.warc_date,
            r.http_status,
            r.http_content_type,
            r.payload,
            detect_charset(r.payload, headers),
        )


def _record_schema():
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("archive", StringType()),
            StructField("url", StringType()),
            StructField("warc_date", StringType()),
            StructField("http_status", IntegerType()),
            StructField("content_type", StringType()),
            StructField("payload", BinaryType()),
            StructField("charset", StringType()),
        ]
    )


def read_warc_files_split(
    spark,
    paths,
    target_slice_bytes: int = 4 << 20,
):
    """Range-split WARC reader: index pass (cheap, streaming, one task
    per archive) → explode to (archive, offset, length) slices →
    repartition → fetch+parse per slice.  One 1 GB archive becomes
    ~256 independent 4 MB parse tasks instead of a single straggler;
    the heavy work (record parse, charset detection, downstream HTML
    extraction) is what distributes.

    ``paths``: a glob string or explicit list of archive paths (local /
    file: URIs in this sandbox; swap ``open`` for the object-store
    client range-GET on a real cluster — the slice schema is the same).
    """
    import glob as _glob

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..batch import map_rows
    from ..core.charset import detect_charset

    if isinstance(paths, str):
        paths = sorted(_glob.glob(_local_path(paths)))
    pdf_paths = spark.createDataFrame([(p,) for p in paths], "path string")

    idx_schema = StructType(
        [
            StructField("archive", StringType()),
            StructField("offset", LongType()),
            StructField("length", LongType()),
            StructField("n_members", IntegerType()),
        ]
    )

    n_parts = spark.sparkContext.defaultParallelism
    slices = map_rows(
        pdf_paths.repartition(min(n_parts, max(1, len(paths)))),
        idx_schema,
        lambda p: [(p, *s) for s in index_warc_slices(p, target_slice_bytes)],
    ).repartition(n_parts)

    def fetch(p, off, ln, _n_members):
        with open(_local_path(p), "rb") as f:
            f.seek(int(off))
            data = f.read(int(ln))
        return _response_rows(p, data, detect_charset)

    return map_rows(slices, _record_schema(), fetch)


def read_warc_files(spark, glob_path: str):
    """binaryFile scan of WARC archives → one row per response record:
    (archive, url, warc_date, http_status, content_type, payload,
    charset) — charset sniffed from the HTTP headers + payload bytes by
    the engine's own detector, the same handoff the reference makes from
    its HTTP client into hQuery (hQuery.php:190-205).

    Parallelizes per archive file (whole-file tasks); for archives big
    enough that one file = one straggler, use ``read_warc_files_split``,
    which range-splits at record/member boundaries."""
    from pyspark.sql import functions as F

    from ..batch import map_rows
    from ..core.charset import detect_charset

    raw = (
        spark.read.format("binaryFile")
        .load(glob_path)
        .select(F.col("path").alias("archive"), F.col("content"))
    )
    return map_rows(
        raw,
        _record_schema(),
        lambda path, content: _response_rows(path, bytes(content), detect_charset),
    )


# ------------------------------------------------------------------ #
# WARC sink: the write half of the archive round trip.  A curation
# pipeline that filters/redacts crawl data re-archives the survivors;
# writing one gzip member per record keeps the OUTPUT re-splittable by
# the same index_warc_slices pass that ingests it.


def write_warc_files(
    df,
    out_dir: str,
    url_col: str = "url",
    status_col: str = "http_status",
    ctype_col: str = "content_type",
    payload_col: str = "payload",
):
    """Distributed WARC sink: one ``part-<pid>.warc.gz`` per input
    partition (one gzip member per record — the standard re-splittable
    layout), written atomically (``.tmp`` + rename) so a re-run never
    exposes a torn archive.  Returns the manifest DataFrame
    (path, n_records, n_bytes) — the lineage sidecar, one row per
    written file; materializing it IS the write.

    ``out_dir`` must be a filesystem visible to the executors (local
    dir in local mode; a mounted/NFS path on a cluster — for object
    stores, write to the executor-local staging dir and promote).
    Partition sizing bounds memory: each task buffers one partition's
    records before the single compress+write."""
    import os

    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    manifest_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("n_records", LongType()),
            StructField("n_bytes", LongType()),
        ]
    )
    narrow = df.select(
        F.col(url_col).cast("string").alias("u"),
        F.col(status_col).cast("int").alias("s"),
        F.col(ctype_col).cast("string").alias("c"),
        F.col(payload_col).alias("p"),
    )

    def run(batches):
        recs = []
        for pdf in batches:
            for u, s, c, p in zip(
                pdf["u"].tolist(), pdf["s"].tolist(),
                pdf["c"].tolist(), pdf["p"].tolist(),
            ):
                body = bytes(p) if p is not None else b""
                recs.append((u, int(s), c or "application/octet-stream", body))
        if not recs:
            return
        pid = TaskContext.get().partitionId()
        data = make_warc(recs, gzip_members=True)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        yield pd.DataFrame(
            {"path": [path], "n_records": [len(recs)], "n_bytes": [len(data)]}
        )

    return narrow.mapInPandas(run, manifest_schema)
