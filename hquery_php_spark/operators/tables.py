"""HTML table extraction: ``<table>`` -> structured (row, col, text) grid.

Tables are where the web keeps its *data* — specs, prices, standings,
infoboxes — and "turn the page's tables into rows" is a core extraction
ask alongside main-content text.  This operator walks the hquery tag
index (same index-array model as every other extraction leg) and
resolves each table to a dense grid:

* row structure from ``tr`` under the table (``thead``/``tbody``/
  ``tfoot`` transparent), cells from ``td``/``th`` in document order;
* ``rowspan``/``colspan`` resolved with the HTML-table occupancy
  algorithm: each cell lands at the first free column of its row, and
  spans mark the covered cells occupied for subsequent rows — the
  emitted (row, col) coordinates are the *visual* grid coordinates;
* ``is_header`` = the cell is a ``th``;
* cell text: markup-stripped, entity-decoded, whitespace-collapsed
  (nested tables contribute their text to the outer cell AND are
  emitted as their own table — document order numbers them);
* fault tolerance inherited from the engine: unclosed ``tr``/``td``
  (legal HTML5, ubiquitous in the wild) associate *positionally* — a
  cell belongs to the innermost table interval containing it and to
  the last ``tr`` of that table that begins before it — because the
  reference's index gives unclosed tags empty content intervals
  (per-name LIFO repair fires only on explicit close tags); spans
  clamped to >= 1, non-numeric span attributes read as 1.

Scale: per-document, embarrassingly parallel; ``html_tables_df`` is one
Arrow-batched ``mapInPandas``, zero shuffles.
"""

from __future__ import annotations

import html as _htmlmod
from bisect import bisect_left, bisect_right
from typing import Dict, List, NamedTuple, Optional, Tuple

from ..core.doc import HDoc
from ..core.extract import _strip_markup_text  # shared primitive

__all__ = ["TableCell", "html_tables", "html_tables_df"]


class TableCell(NamedTuple):
    table_no: int
    row_no: int
    col_no: int
    rowspan: int
    colspan: int
    is_header: bool
    text: str


def _spans(idx, b: int) -> Tuple[int, int]:
    """(rowspan, colspan) of cell ``b`` from one attribute-map lookup."""
    aid = idx.attrs.get(b)
    if aid is None:
        return 1, 1
    a = idx.attribs[aid]
    return _span(a.get("rowspan")), _span(a.get("colspan"))


def _span(v) -> int:
    if v is None:  # absent: skip the int("None") failure below
        return 1
    try:
        n = int(str(v).strip())
    except (TypeError, ValueError):
        return 1
    return n if n >= 1 else 1


def html_tables(html, url: Optional[str] = None) -> List[TableCell]:
    """HTML (str/bytes or HDoc) -> flat list of TableCell in
    (table_no, row_no, col_no) order."""
    if html is None:
        return []
    if isinstance(html, (str, bytes, bytearray)):
        raw = html.encode("utf-8") if isinstance(html, str) else bytes(html)
        doc = HDoc(raw, url)
    else:
        doc = html
    idx = doc.index
    ids, tags = idx.ids, idx.tags

    # positional association sweep: walk tr/td/th/table begins in document
    # order with a stack of open table intervals — the innermost table
    # whose (b, e] contains a tr/td begin owns it; a cell belongs to the
    # last tr of its table that begins before it.  This is robust to
    # unclosed tr/td (empty intervals in the reference's index model).
    tables: List[int] = []
    table_no: Dict[int, int] = {}
    rows_of: Dict[int, List[int]] = {}
    cells_of: Dict[int, List[int]] = {}
    tstack: List[int] = []  # begins of open tables
    last_tr: Dict[int, int] = {}  # table begin -> current tr begin
    bounds_of: Dict[int, List[int]] = {}  # table -> marker begins (for
    # effective text ends of unclosed cells)
    for b in ids:
        t = tags.get(b)
        if t not in ("table", "tr", "td", "th"):
            continue
        while tstack and b > ids[tstack[-1]]:
            tstack.pop()
        if tstack:
            bounds_of.setdefault(tstack[-1], []).append(b)
        if t == "table":
            table_no[b] = len(tables)
            tables.append(b)
            rows_of[b] = []
            if ids[b] > b:  # only non-empty tables can own rows
                tstack.append(b)
            continue
        if not tstack:
            continue  # tr/td outside any table: ignored
        owner = tstack[-1]
        if t == "tr":
            rows_of[owner].append(b)
            last_tr[owner] = b
        else:
            r = last_tr.get(owner)
            if r is not None:
                cells_of.setdefault(r, []).append(b)

    def eff_end(tb: int, cb: int) -> int:
        """Content end of cell cb in table tb: its own interval when the
        cell was explicitly closed, else the begin of the next marker
        (tr/td/th/nested-table) of the table, else the table's end."""
        if ids[cb] > cb:
            return ids[cb]
        bl = bounds_of.get(tb, ())
        i = bisect_right(bl, cb)
        return bl[i] if i < len(bl) else max(ids[tb], cb)

    merged, mask_starts = idx.markup_mask()

    def cell_text(tb: int, b: int) -> str:
        t = _strip_markup_text(idx.html, b, max(eff_end(tb, b), b), merged, mask_starts)
        if "&" in t:
            t = _htmlmod.unescape(t)
        return " ".join(t.split())

    out: List[TableCell] = []
    for tb in tables:
        tno = table_no[tb]
        rows = rows_of[tb]
        # per row: occupied columns as disjoint, non-touching [start, end)
        # intervals (parallel sorted lists), so a span costs one interval
        # per existing row it covers, whatever its rowspan × colspan
        occupied = [([], []) for _ in rows]
        for rno, rb in enumerate(rows):
            col = 0
            starts, ends = occupied[rno]
            for cb in cells_of.get(rb, ()):
                k = bisect_right(starts, col) - 1
                if k >= 0 and ends[k] > col:
                    col = ends[k]  # merged intervals: the end is free
                rs, cs = _spans(idx, cb)
                out.append(
                    TableCell(
                        tno, rno, col, rs, cs, tags[cb] == "th", cell_text(tb, cb)
                    )
                )
                # mark the rows below only (this row's cursor never moves
                # back over the columns the cell covers), and only rows
                # that exist — nothing reads past the table's last row
                for r in range(rno + 1, min(rno + rs, len(rows))):
                    _occupy(*occupied[r], col, col + cs)
                col += cs
    return out


def _occupy(starts: List[int], ends: List[int], a: int, b: int) -> None:
    """Add [a, b) to the disjoint, non-touching sorted intervals
    (starts, ends), merging every interval it overlaps or touches."""
    i = bisect_left(ends, a)  # first interval ending at or after a
    j = bisect_right(starts, b)  # past the last one starting at or before b
    if i < j:
        a = min(a, starts[i])
        b = max(b, ends[j - 1])
    starts[i:j] = [a]
    ends[i:j] = [b]


def html_tables_df(df, html_col: str = "html", id_col: str = "doc_id"):
    """(id, html) -> one row per table cell:
    (id, table_no, row_no, col_no, rowspan, colspan, is_header, text)."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..batch import map_rows

    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("table_no", IntegerType()),
            StructField("row_no", IntegerType()),
            StructField("col_no", IntegerType()),
            StructField("rowspan", IntegerType()),
            StructField("colspan", IntegerType()),
            StructField("is_header", BooleanType()),
            StructField("text", StringType()),
        ]
    )
    return map_rows(
        df.select(id_col, html_col),
        schema,
        lambda i, h: [(i, *c) for c in html_tables(h)],
    )
