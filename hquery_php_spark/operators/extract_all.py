"""Single-parse multi-surface extraction: parse once, emit everything.

At 10^12 documents the tokenize+index pass dominates extraction cost,
and a pipeline that runs spans, Markdown, outline, tables, and head
metadata as five operators parses every document five times.  This
operator builds ONE ``HDoc`` per document and derives every surface
from the same index — the production-shaped "extract everything" stage:

* ``spans``      — the north-rule (kind, text, media_ref, offset)
                   sequence (``core.extract.extract_spans``)
* ``main_text``  — whitespace-joined text spans (the boilerplate-
                   stripped view)
* ``markdown``   — the full Markdown render (operators/markdown.py,
                   ``link_style`` plumbed)
* ``sections``   — outline count + first heading path
                   (operators/sections.py)
* ``tables``     — grid cell count (operators/tables.py)
* ``title`` / ``canonical`` / ``n_meta`` — head metadata
                   (operators/pagemeta.py)

Cost: the index build is shared, and so is the merged markup mask
(``DocIndex.markup_mask()``, the sorted ranges whose complement is the
text): it is built once per document and every walk bisects into it.
Each additional surface pays only its own walk, near-linear in the
document (``tests/test_complexity.py``).  Measured on bench-sized docs:
all six surfaces cost ~3.3x a spans-only pass (the walks are real
work, Markdown the priciest), while running the five operators
separately costs a further ~1.45x on top — the shared parse and mask
save ~30% of the whole stage.  One Arrow ``mapInPandas``, zero
shuffles, same salted/spread partitioning contract as every extract
leg.
"""

from __future__ import annotations

from typing import Optional

__all__ = ["extract_all", "extract_all_df"]


def extract_all(html, url: Optional[str] = None, link_style: str = "inline"):
    """One parse -> dict of every extraction surface."""
    from ..core.doc import HDoc
    from ..core.extract import DEFAULT_OPTIONS, extract_spans
    from .markdown import _Renderer
    from .pagemeta import page_meta
    from .sections import section_rows
    from .tables import html_tables

    if html is None:
        return None
    if isinstance(html, (str, bytes, bytearray)):
        raw = html.encode("utf-8") if isinstance(html, str) else bytes(html)
        doc = HDoc(raw, url)
    else:
        doc = html
    spans = extract_spans(doc, DEFAULT_OPTIONS)
    md = "\n\n".join(_Renderer(doc, link_style).blocks(None))
    secs = section_rows(doc)
    cells = html_tables(doc)
    meta = page_meta(doc)
    return {
        "spans": spans,
        "main_text": " ".join(s.text for s in spans if s.kind == "text"),
        "markdown": md,
        "n_sections": len(secs),
        "sec1_path": secs[0].path if secs else None,
        "n_cells": len(cells),
        "title": meta["title"],
        "canonical": meta["canonical"],
        "n_meta": meta["n_meta"],
    }


def extract_all_df(
    df,
    html_col: str = "html",
    id_col: str = "doc_id",
    url_col: Optional[str] = None,
    link_style: str = "inline",
):
    """(id, html[, url]) -> one row per doc with every surface:
    (id, spans array<struct>, main_text, markdown, n_sections,
    sec1_path, n_cells, title, canonical, n_meta)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..batch import map_rows
    from .pipeline import SPAN_STRUCT

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("spans", ArrayType(SPAN_STRUCT)),
            StructField("main_text", StringType()),
            StructField("markdown", StringType()),
            StructField("n_sections", IntegerType()),
            StructField("sec1_path", StringType()),
            StructField("n_cells", IntegerType()),
            StructField("title", StringType()),
            StructField("canonical", StringType()),
            StructField("n_meta", IntegerType()),
        ]
    )
    surfaces = schema.fieldNames()[2:]

    def row(i, h, u=None):
        r = extract_all(h, u, link_style)
        if r is None:  # NULL html: empty row, like every sibling op
            return [(i, [], None, None, 0, None, 0, None, None, 0)]
        spans = [tuple(s) for s in r["spans"]]
        return [(i, spans, *(r[k] for k in surfaces))]

    cols = [id_col, html_col] + ([url_col] if url_col is not None else [])
    return map_rows(df.select(*cols), schema, row)
