"""The merged markup mask: one copy per document, one merge loop.

``DocIndex.markup_mask()`` is the single place that turns the parser's
markup extents into sorted, disjoint ranges; every surface walk
(spans, Markdown, tables, sections, ``:empty``) reads that one cached
copy.  Pinned here: the mask's shape, that its complement is exactly
the text the raw extents leave, and (grep-style, like
``test_batch_contract``) that no module re-sorts or re-merges the
extents by hand."""

import ast
import pathlib

import pytest

from hquery_php_spark.core.doc import HDoc
from hquery_php_spark.core.extract import _strip_markup_text

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "hquery_php_spark"
# the one module allowed to merge extents: DocIndex and its merge_ranges
OWNER = "hquery_php_spark/core/index.py"

PAGES = [
    b"",
    b"plain text, no markup",
    b"<p>a<b>b</b>c</p>",
    b"<html><head><title>t</title><script>var a = '<p>';</script></head>"
    b"<body><!-- c --><p>x &amp; y</p><style></style><br/>tail</body></html>",
    # comments and specials inside a script body: the raw extents come
    # out of start order and overlap the script-body extent
    b"<div><script><!-- a --> x <!-- b --></script><p>after</p></div>",
    b"<script></script><script><!--</script>-->rest</script>z",
    # unclosed script: the rest of the document is one opaque extent
    b"<p>keep</p><script>var x = 1; <b>lost</b>",
    b"<<>><a href=x>t</a></ <p/ ><?pi x?><![CDATA[c]]>\xc3\xa9 end<",
]


def _covered(idx) -> bytearray:
    covered = bytearray(len(idx.html))
    for s, e in idx.extents:
        covered[s:e] = b"\x01" * (e - s)
    return covered


def _unmerged_complement(idx, lo: int = 0, hi=None) -> bytes:
    covered = _covered(idx)
    return bytes(
        c for c, m in zip(idx.html[lo:hi], covered[lo:hi]) if not m
    )


@pytest.mark.parametrize("html", PAGES)
def test_markup_mask_is_sorted_disjoint_and_complements_the_text(html):
    idx = HDoc(html).index
    merged, starts = idx.markup_mask()
    assert list(starts) == [s for s, _ in merged]
    assert all(s < e for s, e in merged)  # non-empty
    assert all(a[1] < b[0] for a, b in zip(merged, merged[1:]))  # disjoint
    text, pos = [], 0
    for s, e in merged:
        text.append(idx.html[pos:s])
        pos = e
    text.append(idx.html[pos:])
    assert b"".join(text) == _unmerged_complement(idx)
    assert idx.markup_mask() is idx.markup_mask()  # built once, cached


@pytest.mark.parametrize("html", PAGES)
def test_strip_markup_text_keeps_only_unmasked_bytes(html):
    # every element's content interval, plus every (b, e) window of the
    # page: the bisect walk over the merged mask must cut exactly the
    # bytes the raw extents cover
    idx = HDoc(html).index
    merged, starts = idx.markup_mask()
    n = len(idx.html)
    windows = list(idx.ids.items()) + [
        (b, e) for b in range(-1, n + 1) for e in range(b - 1, n + 2)
    ]
    for b, e in windows:
        want = _unmerged_complement(idx, max(b + 1, 0), max(e, 0))
        got = _strip_markup_text(idx.html, b, e, merged, starts)
        assert got == want.decode("utf-8", "replace"), (b, e)


def _mask_rebuilds():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        if rel == OWNER:
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            # sorted(<x>.extents ...): re-sorting the raw extents
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "sorted"
                and any(
                    isinstance(n, ast.Attribute) and n.attr == "extents"
                    for a in node.args
                    for n in ast.walk(a)
                )
            ):
                yield f"{rel}:{node.lineno} sorted(...extents)"
            # out[-1][1]: the running end of a hand-written range merge
            if (
                isinstance(node, ast.Subscript)
                and isinstance(node.value, ast.Subscript)
                and ast.unparse(node.slice) == "1"
                and ast.unparse(node.value.slice) == "-1"
            ):
                yield f"{rel}:{node.lineno} {ast.unparse(node)}"


def test_extents_merge_only_in_doc_index():
    stray = list(_mask_rebuilds())
    assert not stray, (
        "use DocIndex.markup_mask() (or core.index.merge_ranges for "
        f"extra ranges) instead of re-merging the extents: {stray}"
    )
