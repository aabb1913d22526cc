"""PDF layout parse — the north rule's second extraction leg.

The heavy lifting lives in :mod:`.pdfparse` (real object model, xref
tables + xref streams + object streams, filter chains with predictors,
page-tree walk, content-stream text interpreter with full text-matrix
semantics, ToUnicode CMaps) and :mod:`.pdfwrite` (the deterministic
multi-mode writer used for differential validation and as the driver's
fixture generator).  This module keeps the DataFrame-facing operators:

* :func:`pdf_extract_df` — ``(doc_id, payload)`` → layout-ordered
  ``(page, x, y, text)`` spans per document, ``mapInPandas`` over
  Arrow batches like the HTML leg (one Python loop per *document*,
  never per row of output).
* :func:`extract_pdf_spans` / :func:`make_pdf` — the round-2 API,
  kept for the existing tests and the hypothesis roundtrip fuzz.

Fault tolerance mirrors the HTML engine (reference: hQuery's
bad-input recovery, src/hQuery/HTML_Parser.php): broken xref falls
back to an object rescue scan, bad stream /Length re-anchors on
``endstream``, undecodable filters skip the stream, non-PDF payloads
skip the document — nothing raises on byte soup.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..batch import map_rows
from .pdfparse import PdfDocument, PdfError, extract_text_spans
from .pdfwrite import build_pdf

__all__ = [
    "make_pdf",
    "build_pdf",
    "sniff_pdf",
    "parse_pdf_pages",
    "extract_pdf_spans",
    "pdf_info",
    "pdf_extract_df",
    "PDF_SPANS_SCHEMA",
]


def make_pdf(
    blocks: Sequence[Tuple[float, float, str]],
    compress: bool = False,
) -> bytes:
    """A real single-page PDF showing ``(x, y, text)`` blocks (the
    round-2 entry point; :func:`.pdfwrite.build_pdf` is the full
    multi-page / multi-mode writer)."""
    return build_pdf([list(blocks)], filters=("FlateDecode",) if compress else ())


def sniff_pdf(data: Optional[bytes]) -> Optional[str]:
    """PDF version from the header magic, or None."""
    if not data or not data.startswith(b"%PDF-"):
        return None
    return data[5:8].decode("latin-1", "replace")


def parse_pdf_pages(
    data: bytes, password: bytes = b""
) -> Tuple[Optional[str], List[List[Tuple[float, float, str]]]]:
    """→ (version, per-page ``(x, y, text)`` span lists in stream
    order) via the real structural parse; ([], …) on unparseable.
    ``password`` opens password-protected files (tried as user then
    owner; a wrong password degrades to decode-to-nothing)."""
    version = sniff_pdf(data)
    if version is None:
        return None, []
    try:
        doc = PdfDocument(data, password)
        return version, [extract_text_spans(doc, p) for p in doc.pages()]
    except (PdfError, RecursionError, MemoryError):
        return version, []


def extract_pdf_spans(
    data: bytes, password: bytes = b""
) -> Tuple[int, List[Tuple[float, float, str]]]:
    """(page_count, [(x, y, text)...]) layout-ordered (top-down,
    left-right within each page, pages in document order)."""
    _, pages = parse_pdf_pages(data, password)
    spans: List[Tuple[float, float, str]] = []
    for page in pages:
        spans.extend(sorted(page, key=lambda t: (-t[1], t[0])))
    return len(pages), spans


def pdf_info(data: bytes) -> dict:
    """Document /Info metadata (Title, Author, ...) — text-string
    decoded (UTF-16BE BOM honored)."""
    try:
        return PdfDocument(data).info()
    except (PdfError, RecursionError):
        return {}


PDF_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("version", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("page", IntegerType()),
        StructField("ord", IntegerType()),
        StructField("x", FloatType()),
        StructField("y", FloatType()),
        StructField("text", StringType()),
    ]
)


def pdf_extract_df(
    df: DataFrame, payload_col: str = "payload", password: bytes = b""
) -> DataFrame:
    """(doc_id, payload: binary) → layout-ordered text spans per doc.

    ``ord`` numbers spans across the whole document in layout order
    (page, then top-down / left-right); non-PDF payloads are skipped,
    not fatal.  ``password`` (one corpus-wide secret, e.g. an archive
    that shipped with a known password) opens protected files; wrong
    passwords degrade per-document to decode-to-nothing."""
    narrow = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col(payload_col).alias("p"),
    )

    def row(doc_id, p):
        data = bytes(p) if p is not None else b""
        ver, pages = parse_pdf_pages(data, password)
        if ver is None:
            return  # fault tolerance: not a PDF, skip
        i = 0
        for pg, page in enumerate(pages):
            for x, y, txt in sorted(page, key=lambda t: (-t[1], t[0])):
                yield (doc_id, ver, len(pages), pg, i, x, y, txt)
                i += 1

    return map_rows(narrow, PDF_SPANS_SCHEMA, row)
