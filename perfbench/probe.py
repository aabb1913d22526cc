"""Driver-side layer probe: times the engine's public functions, one
process, on a seeded sample of a workload's own documents.

``core_layers`` splits one document's extraction into charset →
tokenizer → index → span extraction (the index's self time is the
``HDoc`` build minus the parse and charset calls it makes) and times a
fixed selector set through ``HDoc.find``.  ``surface_layers`` times the
four surface walks and their growth on a page doubled in size
(``x2_ratio`` = time on the doubled page ÷ time on the original; a
linear walk gives ~2).
"""

from __future__ import annotations

import time
from typing import Callable, Dict, List, Sequence

from hquery_php_spark.core.charset import convert_to_utf8
from hquery_php_spark.core.doc import HDoc
from hquery_php_spark.core.extract import extract_spans
from hquery_php_spark.core.parser import parse_html
from hquery_php_spark.operators.markdown import render_markdown
from hquery_php_spark.operators.pagemeta import page_meta
from hquery_php_spark.operators.sections import section_rows
from hquery_php_spark.operators.tables import html_tables

# tag / .class / #id / [attr] / descendant / child / sibling / :eq
SELECTORS = ("p", ".main", "#top", "img[src]", "div a", "ul > li", "h2:next", "li:eq(1)")

SURFACES: Dict[str, Callable] = {
    "markdown": render_markdown,
    "sections": section_rows,
    "tables": html_tables,
    "pagemeta": page_meta,
}


def _us(t0: int) -> float:
    return (time.perf_counter_ns() - t0) / 1000.0


def core_layers(pages: Sequence) -> Dict[str, List[float]]:
    """Per-document samples (µs, or counts) for the ``core.*`` rows."""
    out: Dict[str, List[float]] = {k: [] for k in (
        "charset_us", "parse_us", "index_us", "extract_us", "find_us",
        "tags_per_doc", "spans_per_doc")}
    for p in pages:
        t = time.perf_counter_ns()
        utf8, _, _ = convert_to_utf8(p.html)
        charset = _us(t)
        t = time.perf_counter_ns()
        parse_html(utf8)
        parse = _us(t)
        t = time.perf_counter_ns()
        doc = HDoc(p.html, p.base_url)
        total = _us(t)
        t = time.perf_counter_ns()
        spans = extract_spans(doc)
        out["extract_us"].append(_us(t))
        t = time.perf_counter_ns()
        for sel in SELECTORS:
            doc.find(sel)
        out["find_us"].append(_us(t))
        out["charset_us"].append(charset)
        out["parse_us"].append(parse)
        out["index_us"].append(max(0.0, total - parse - charset))
        out["tags_per_doc"].append(float(len(doc)))
        out["spans_per_doc"].append(float(len(spans)))
    return out


def doubled(html: bytes) -> bytes:
    """The page with its body content repeated once (same head)."""
    lo = html.index(b"<body")
    lo = html.index(b">", lo) + 1
    hi = html.rindex(b"</body>")
    return html[:hi] + html[lo:hi] + html[hi:]


def _surface_ms(html: bytes, url: str, reps: int) -> Dict[str, float]:
    doc = HDoc(html, url)
    out = {}
    for name, fn in SURFACES.items():
        best = None
        for _ in range(reps):
            t = time.perf_counter_ns()
            fn(doc)
            ms = (time.perf_counter_ns() - t) / 1e6
            best = ms if best is None else min(best, ms)
        out[name] = best
    return out


def surface_layers(pages: Sequence, x2_page) -> Dict[str, List[float]]:
    """Per-document surface times (ms) on ``pages`` plus each surface's
    ``x2_ratio`` on ``x2_page`` (best of 2 on each size)."""
    out: Dict[str, List[float]] = {k + "_ms": [] for k in SURFACES}
    for p in pages:
        for name, ms in _surface_ms(p.html, p.base_url, 1).items():
            out[name + "_ms"].append(ms)
    base = _surface_ms(x2_page.html, x2_page.base_url, 2)
    big = _surface_ms(doubled(x2_page.html), x2_page.base_url, 2)
    for name in SURFACES:
        out[name + ".x2_ratio"] = [big[name] / base[name]]
    return out
