"""HTML -> Markdown rendering: the main-content serialization operator.

The standard last step of an LLM-corpus extraction pipeline is not raw
text but *Markdown* — it preserves the document structure (headings,
lists, tables, emphasis, links) that boilerplate-stripped plain text
throws away, at a fraction of HTML's token cost.  This renderer walks
the repo's own hquery tag index (``ids``/``tags``/``extents`` — the
reference's index-array model, HTML_Index.php:571-700) in document
order, so it inherits the engine's fault tolerance: mis-nested tags,
byte soup, and unclosed elements render to *something* instead of
raising.

Deterministic rendering rules (pinned by fixtures; documented here so
the SQL twins can invert them):

* ``h1``-``h6``      -> ``#``*n + space + inline content
* ``p``              -> paragraph block
* container tags (``div``/``section``/``article``/... ) are transparent
  block containers; bare text inside them becomes its own paragraph
* ``ul``/``ol``      -> ``- `` bullets / ``1.`` numbers, nested lists
  indented two spaces per level
* ``blockquote``     -> every line of the inner render prefixed ``> ``
* ``pre``            -> fenced ``` block, content NOT whitespace-collapsed
  (an only-child ``<code>`` wrapper is unwrapped)
* ``table``          -> GitHub pipe table (first row = header row; ``|``
  in cells escaped as ``\\|``); rendered row-major, col spans ignored
  (cells emit in document order — the grid resolver lives in
  operators/tables.py)
* ``a[href]``        -> ``[text](abs_url)`` (URL absolutized against
  ``<base href>``/doc URL exactly like the engine's media refs);
  an ``a`` without href renders its text transparently
* ``img``            -> ``![alt](abs_src)``
* ``strong``/``b``   -> ``**...**``  (empty inner -> nothing)
* ``em``/``i``       -> ``*...*``
* ``code`` (inline)  -> `` `...` ``
* ``br``             -> hard line break inside the block
* ``hr``             -> ``---`` block
* ``script``/``style``/``head``/``title``/``noscript``/``template``/
  ``svg``/``iframe`` are skipped wholesale
* every other tag is transparent (inline pass-through)
* text: entities decoded, whitespace collapsed (inline); blocks joined
  with one blank line; no Markdown metacharacter escaping in prose
  (byte-faithful text wins over re-parseability — documented choice)

Scale: the operator is per-document and embarrassingly parallel — the
Spark surface (``markdown_df``) is one ``mapInPandas`` over the same
salted/spread partitioning every other extract leg uses; zero shuffles,
no driver state.
"""

from __future__ import annotations

import html as _htmlmod
from typing import Dict, List, Optional, Tuple

from ..core.doc import HDoc
from ..core.extract import _strip_markup_text

__all__ = ["render_markdown", "markdown_df"]

_SKIP = frozenset(
    ("script", "style", "head", "title", "noscript", "template", "svg", "iframe")
)
_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_BLOCK_CONTAINERS = frozenset(
    (
        "html",
        "body",
        "div",
        "section",
        "article",
        "main",
        "aside",
        "header",
        "footer",
        "nav",
        "figure",
        "center",
        "form",
        "fieldset",
    )
)
_BR = "\x00br\x00"  # hard-break placeholder surviving whitespace collapse


def _collapse_inline(s: str) -> str:
    """Whitespace-collapse preserving ``_BR`` hard breaks."""
    parts = [" ".join(p.split()) for p in s.split(_BR)]
    return "\n".join(parts).strip()


class _Renderer:
    def __init__(self, doc: HDoc, link_style: str = "inline") -> None:
        # 'inline' = [text](url) / ![alt](src); 'text' = link text and
        # image alt only, URLs dropped — the training-corpus option
        # (URL strings are memorization-prone and token-expensive)
        self.link_style = link_style
        idx = doc.index
        self.idx = idx
        self.html: bytes = idx.html
        self.ids: Dict[int, int] = idx.ids
        self.tags: Dict[int, str] = idx.tags
        # merged markup mask (tags + comments + specials + script bodies)
        self.masked, self.mask_starts = idx.markup_mask()
        # footprints: open-tag extent ends at b+1; close-tag extent starts
        # at the content end e (position of '<' of the close tag)
        self.ext_by_stop = {e: s for s, e in idx.extents}
        self.ext_by_start = {s: e for s, e in idx.extents}
        # children in document order (parent_begin handles mis-nesting the
        # same way the reference's merge sweep does)
        pb = idx.parent_begin()
        kids: Dict[Optional[int], List[int]] = {}
        for b in self.ids:
            kids.setdefault(pb.get(b), []).append(b)
        self.kids = kids

    # -- primitive: text content of [lo, hi) excluding ALL markup ------ #
    def _text(self, lo: int, hi: int) -> str:
        txt = _strip_markup_text(self.html, lo - 1, hi, self.masked, self.mask_starts)
        if "&" in txt:
            txt = _htmlmod.unescape(txt)
        return txt

    def _footprint(self, b: int) -> Tuple[int, int]:
        e = self.ids[b]
        fs = self.ext_by_stop.get(b + 1, b + 1)
        fe = b + 1 if e <= b else self.ext_by_start.get(e, e)
        return fs, max(fe, b + 1)

    # -- parts of a content range: text segments + child elements ------ #
    def _parts(self, b: Optional[int]):
        if b is None:
            lo, hi = 0, len(self.html)
        else:
            lo, hi = b + 1, max(self.ids[b], b + 1)
        parts: List[Tuple[str, object]] = []
        for c in self.kids.get(b, ()):
            fs, fe = self._footprint(c)
            if fs > lo:
                parts.append(("text", (lo, min(fs, hi))))
            parts.append(("el", c))
            lo = max(lo, fe)
        if lo < hi:
            parts.append(("text", (lo, hi)))
        return parts

    # -- inline rendering ---------------------------------------------- #
    def _inline(self, b: Optional[int]) -> str:
        out: List[str] = []
        for kind, v in self._parts(b):
            if kind == "text":
                out.append(self._text(*v))
            else:
                out.append(self._inline_el(v))
        return "".join(out)

    def _inline_el(self, b: int) -> str:
        tag = self.tags[b]
        if tag in _SKIP:
            return ""
        if tag == "br":
            return _BR
        if tag == "img":
            alt = self.idx.get_attr_by_id(b, "alt") or ""
            if self.link_style == "text":
                return alt
            src = self.idx.get_attr_by_id(b, "src")
            src = self.idx.url2abs(src) if src else ""
            return f"![{alt}]({src})"
        inner = self._inline(b)
        if tag == "a":
            href = self.idx.get_attr_by_id(b, "href")
            if href and self.link_style != "text":
                return f"[{' '.join(inner.split())}]({self.idx.url2abs(href)})"
            return inner
        if tag in ("strong", "b", "em", "i", "code"):
            t = inner.strip()
            if not t:
                # whitespace-only emphasis still separates words
                return " " if inner else ""
            mark = {"strong": "**", "b": "**", "em": "*", "i": "*"}.get(tag)
            return f"{mark}{t}{mark}" if mark else f"`{t}`"
        return inner  # transparent

    # -- block rendering ------------------------------------------------ #
    def blocks(self, b: Optional[int]) -> List[str]:
        out: List[str] = []
        buf: List[str] = []  # pending inline run -> one paragraph

        def flush() -> None:
            if buf:
                t = _collapse_inline("".join(buf))
                if t:
                    out.append(t)
                buf.clear()

        for kind, v in self._parts(b):
            if kind == "text":
                buf.append(self._text(*v))
                continue
            c = v
            tag = self.tags[c]
            if tag in _SKIP:
                continue
            if tag in _HEADINGS:
                flush()
                t = _collapse_inline(self._inline(c))
                out.append("#" * _HEADINGS[tag] + " " + t if t else "#" * _HEADINGS[tag])
            elif tag == "p":
                flush()
                t = _collapse_inline(self._inline(c))
                if t:
                    out.append(t)
            elif tag in _BLOCK_CONTAINERS:
                flush()
                out.extend(self.blocks(c))
            elif tag in ("ul", "ol"):
                flush()
                lst = self._list(c, 0)
                if lst:
                    out.append(lst)
            elif tag == "blockquote":
                flush()
                inner = "\n\n".join(self.blocks(c))
                if inner:
                    out.append(
                        "\n".join("> " + ln if ln else ">" for ln in inner.split("\n"))
                    )
            elif tag == "pre":
                flush()
                out.append(self._pre(c))
            elif tag == "hr":
                flush()
                out.append("---")
            elif tag == "table":
                flush()
                t = self._table(c)
                if t:
                    out.append(t)
            else:
                buf.append(self._inline_el(c))
        flush()
        return out

    def _list(self, b: int, depth: int) -> str:
        # Positional sweep tolerant of unclosed <li> (legal HTML5 and
        # ubiquitous): an li with an empty content interval (ids[v] <= v,
        # i.e. the LIFO repair found no close tag before the list end /
        # next li) owns the following sibling run — text and inline
        # elements up to the next <li> belong to that item, the same
        # next-marker bound operators/tables.py uses for unclosed cells.
        ordered = self.tags[b] == "ol"
        items: List[Tuple[List[str], List[str]]] = []  # (inline buf, nested)
        accrue = False  # current item is an unclosed li still collecting
        for kind, v in self._parts(b):
            if kind == "el" and self.tags[v] == "li":
                buf: List[str] = []
                nested: List[str] = []
                items.append((buf, nested))
                accrue = self.ids[v] <= v  # empty interval => unclosed
                for k2, v2 in self._parts(v):  # closed li: own subtree
                    if k2 == "el" and self.tags[v2] in ("ul", "ol"):
                        nested.append(self._list(v2, depth + 1))
                    elif k2 == "text":
                        buf.append(self._text(*v2))
                    else:
                        buf.append(self._inline_el(v2))
            elif accrue and items:
                buf, nested = items[-1]
                if kind == "text":
                    buf.append(self._text(*v))
                elif self.tags[v] in ("ul", "ol"):
                    nested.append(self._list(v, depth + 1))
                else:
                    buf.append(self._inline_el(v))
        lines: List[str] = []
        pad = "  " * depth
        for n, (buf, nested) in enumerate(items, 1):
            marker = f"{n}. " if ordered else "- "
            lines.append(pad + marker + _collapse_inline("".join(buf)))
            lines.extend(x for x in nested if x)
        return "\n".join(lines)

    def _pre(self, b: int) -> str:
        # unwrap a lone <code> child
        parts = self._parts(b)
        els = [v for k, v in parts if k == "el"]
        if (
            len(els) == 1
            and self.tags[els[0]] == "code"
            and all(
                k == "el" or not self._text(*v).strip() for k, v in parts
            )
        ):
            body = self._text(els[0] + 1, max(self.ids[els[0]], els[0] + 1))
        else:
            body = self._text(b + 1, max(self.ids[b], b + 1))
        body = body.strip("\n")
        return f"```\n{body}\n```"

    def _table(self, b: int) -> str:
        rows: List[List[str]] = []
        self._table_rows(b, rows)
        if not rows:
            return ""
        ncol = max(len(r) for r in rows)
        lines = []
        for i, r in enumerate(rows):
            cells = r + [""] * (ncol - len(r))
            lines.append("| " + " | ".join(cells) + " |")
            if i == 0:
                lines.append("|" + "|".join(" --- " for _ in range(ncol)) + "|")
        return "\n".join(lines)

    def _table_rows(self, b: int, rows: List[List[str]]) -> None:
        # Positional sweep tolerant of unclosed <tr>/<td>/<th> (legal
        # HTML5): an element with an empty content interval owns the
        # following sibling run up to the next same-level marker — the
        # same association operators/tables.py's grid resolver performs.
        pend_row: Optional[List[str]] = None  # accruing row (unclosed tr)
        pend_cell: Optional[List[str]] = None  # accruing cell fragments

        def close_cell() -> None:
            nonlocal pend_cell
            if pend_cell is not None and pend_row is not None:
                t = _collapse_inline("".join(pend_cell)).replace("|", "\\|")
                pend_row.append(t.replace("\n", " "))
            pend_cell = None

        def close_row() -> None:
            nonlocal pend_row
            close_cell()
            if pend_row is not None:
                rows.append(pend_row)
            pend_row = None

        def sweep(owner: int) -> None:
            nonlocal pend_row, pend_cell
            for kind, v in self._parts(owner):
                if kind == "text":
                    if pend_cell is not None:
                        pend_cell.append(self._text(*v))
                    continue
                tag = self.tags[v]
                if tag in ("thead", "tbody", "tfoot"):
                    close_row()
                    sweep(v)
                    close_row()
                elif tag == "tr":
                    close_row()
                    pend_row = []
                    if self.ids[v] > v:  # closed: cells live in the subtree
                        sweep(v)
                        close_row()
                    # else unclosed: keep accruing following siblings
                elif tag in ("td", "th"):
                    close_cell()
                    if pend_row is None:
                        pend_row = []  # bare cell without a <tr> (soup)
                    if self.ids[v] > v:
                        t = _collapse_inline(self._inline(v)).replace("|", "\\|")
                        pend_row.append(t.replace("\n", " "))
                    else:  # unclosed cell: text follows as siblings
                        pend_cell = []
                elif pend_cell is not None:
                    pend_cell.append(self._inline_el(v))

        sweep(b)
        close_row()


def render_markdown(
    html, url: Optional[str] = None, link_style: str = "inline"
) -> str:
    """HTML (str/bytes or HDoc) -> GitHub-flavored Markdown string.
    ``link_style='text'`` drops URLs (link text / image alt survive) —
    the training-corpus variant."""
    if html is None:
        return ""
    if isinstance(html, (str, bytes, bytearray)):
        raw = html.encode("utf-8") if isinstance(html, str) else bytes(html)
        doc = HDoc(raw, url)
    else:
        doc = html
    return "\n\n".join(_Renderer(doc, link_style).blocks(None))


def markdown_df(
    df,
    html_col: str = "html",
    id_col: str = "doc_id",
    url_col: Optional[str] = None,
    link_style: str = "inline",
):
    """(id, html[, url]) -> (id, markdown, n_blocks, n_chars) via one
    Arrow-batched ``mapInPandas`` — per-document work, zero shuffles."""
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
            StructField("markdown", StringType()),
            StructField("n_blocks", IntegerType()),
            StructField("n_chars", IntegerType()),
        ]
    )

    def row(i, h, u=None):
        md = render_markdown(h, u, link_style)
        return [(i, md, md.count("\n\n") + 1 if md else 0, len(md))]

    cols = [id_col, html_col] + ([url_col] if url_col is not None else [])
    return map_rows(df.select(*cols), schema, row)
