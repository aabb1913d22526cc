"""Document outline + structure-aware chunking.

Fixed-window chunking (``pipeline.chunk_documents``) cuts mid-thought;
the chunker a training / retrieval pipeline actually wants respects the
document's own structure: split at headings, keep a section's text
together, merge small sections, split only oversized ones.  Two layers:

* ``section_rows(html)`` — the outline, from the same tag-index walk as
  the Markdown renderer: one row per section ``(section_no, level,
  title, path, text, offset)``.  A section runs from its heading to the
  next heading of ANY level; text before the first heading is section 0
  with an empty title.  ``path`` is the breadcrumb of ancestor-level
  headings (" > "-joined), maintained with the classic outline stack:
  an h3 under an h2 under an h1 gets "h1title > h2title > h3title" —
  the context string RAG pipelines prepend to a chunk.  Heading text is
  inline-collapsed; section text is the entity-decoded, whitespace-
  collapsed text of everything under the section except the headings
  themselves (script/style/head excluded, same masking as extraction).

* ``chunk_sections_df(sections_df, max_tokens)`` — greedy document-
  order packing of whole sections into chunks of at most ``max_tokens``
  whitespace tokens: consecutive sections accumulate until the budget
  would overflow, then a new chunk starts; a single section larger than
  the budget becomes its own chunk (flagged oversize — feed those to
  the fixed-window chunker).  The cut computation is a zero-shuffle
  expression fold (``aggregate`` over the per-doc section array, the
  ``pack_sequences`` recurrence), not Python.

Scale: section extraction is per-document ``mapInPandas`` (parse cost,
same as every engine leg); chunk assignment is expression-only.
"""

from __future__ import annotations

import html as _htmlmod
from typing import List, NamedTuple, Optional

from ..core.doc import HDoc
from ..core.extract import _strip_markup_text
from ..core.index import merge_ranges

__all__ = ["Section", "section_rows", "section_rows_df", "chunk_sections_df"]

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
# elements whose whole content is masked out of section bodies
_BODY_SKIP = frozenset(("head", "script", "style", "template", "noscript", *_HEADINGS))


class Section(NamedTuple):
    section_no: int
    level: int  # 0 for the pre-heading preamble
    title: str
    path: str
    text: str
    offset: int


def _clean(s: str) -> str:
    if "&" in s:
        s = _htmlmod.unescape(s)
    return " ".join(s.split())


def section_rows(html, url: Optional[str] = None) -> List[Section]:
    """HTML (str/bytes or HDoc) -> ordered outline sections."""
    if html is None:
        return []
    if isinstance(html, (str, bytes, bytearray)):
        raw = html.encode("utf-8") if isinstance(html, str) else bytes(html)
        doc = HDoc(raw, url)
    else:
        doc = html
    idx = doc.index
    ids, tags = idx.ids, idx.tags
    n = len(idx.html)

    # body mask = markup + skip containers + ALL heading extents (heading
    # text belongs to the title, not the section body)
    mask, starts = idx.markup_mask()
    merged = merge_ranges(
        [*mask, *((b, e) for b, e in ids.items() if tags.get(b) in _BODY_SKIP)]
    )
    mask_starts = [m[0] for m in merged]

    heads = sorted(
        (b for b, t in ((b, tags.get(b)) for b in ids) if t in _HEADINGS)
    )
    bounds = heads + [n]

    def seg_text(lo: int, hi: int) -> str:
        return _clean(_strip_markup_text(idx.html, lo, hi, merged, mask_starts))

    out: List[Section] = []
    pre = seg_text(-1, bounds[0] if heads else n)
    no = 0
    if pre or not heads:
        out.append(Section(0, 0, "", "", pre, 0))
        no = 1
    stack: List[tuple] = []  # (level, title)
    for i, hb in enumerate(heads):
        lvl = _HEADINGS[tags[hb]]
        title = _clean(
            _strip_markup_text(idx.html, hb, max(ids[hb], hb), mask, starts)
        )
        while stack and stack[-1][0] >= lvl:
            stack.pop()
        stack.append((lvl, title))
        path = " > ".join(t for _, t in stack)
        body = seg_text(max(ids[hb], hb), bounds[i + 1])
        out.append(Section(no, lvl, title, path, body, hb))
        no += 1
    return out


def section_rows_df(df, html_col: str = "html", id_col: str = "doc_id"):
    """(id, html) -> one row per section."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..batch import map_rows

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("section_no", IntegerType()),
            StructField("level", IntegerType()),
            StructField("title", StringType()),
            StructField("path", StringType()),
            StructField("text", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
    return map_rows(
        df.select(id_col, html_col),
        schema,
        lambda i, h: [(i, *s) for s in section_rows(h)],
    )


def chunk_sections_df(
    sections_df,
    max_tokens: int = 512,
    id_col: str = "doc_id",
):
    """Section rows -> per-section ``chunk_no`` (+ ``n_tokens``,
    ``oversize``) via a zero-shuffle-beyond-the-collect_list fold:
    sections_df is grouped per doc (one shuffle), the greedy cut
    recurrence runs as an ``aggregate`` expression over the ordered
    section array, then the assignments explode back out.

    Greedy rule: a section joins the current chunk iff the running
    token total stays <= max_tokens; otherwise it opens a new chunk.
    A section alone exceeding the budget owns its chunk, oversize=true
    (hand those to the fixed-window chunker downstream)."""
    from pyspark.sql import functions as F
    from ..functions.text import token_count

    s = sections_df.withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    g = s.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("section_no", "n_tokens"))
        ).alias("secs")
    )
    # fold: state = array of struct(section_no, chunk_no, run_tokens)
    init = F.array().cast(
        "array<struct<section_no:int,chunk_no:int,n_tokens:bigint,run:bigint>>"
    )

    def step(acc, x):
        last = F.try_element_at(acc, F.lit(-1))
        fits = F.when(
            F.size(acc) == 0, F.lit(False)
        ).otherwise(last["run"] + x["n_tokens"] <= F.lit(max_tokens))
        nxt = F.when(
            fits,
            F.struct(
                x["section_no"].alias("section_no"),
                last["chunk_no"].alias("chunk_no"),
                x["n_tokens"].alias("n_tokens"),
                (last["run"] + x["n_tokens"]).alias("run"),
            ),
        ).otherwise(
            F.struct(
                x["section_no"].alias("section_no"),
                F.coalesce(last["chunk_no"] + 1, F.lit(0)).alias("chunk_no"),
                x["n_tokens"].alias("n_tokens"),
                x["n_tokens"].alias("run"),
            )
        )
        return F.concat(acc, F.array(nxt))

    assigned = g.select(
        id_col, F.explode(F.aggregate("secs", init, step)).alias("a")
    ).select(
        id_col,
        F.col("a.section_no").alias("section_no"),
        F.col("a.chunk_no").alias("chunk_no"),
        (F.col("a.n_tokens") > F.lit(max_tokens)).alias("oversize"),
    )
    return s.join(assigned, [id_col, "section_no"])
