"""Doubling tests: every surface walk runs in near-linear time.

Each walk runs on a synthetic page at size n and at size 4n.  A linear
walk takes ~4x as long on the bigger page, a quadratic one ~16x; the
bound of 8 sits between them with room for timer noise.  Every timing is
the best of a few repeats, each on a freshly parsed document, so cached
per-document state (the merged markup mask) is rebuilt inside the
timing, not amortised away."""

import gc
import time

import pytest

from hquery_php_spark.core.doc import HDoc
from hquery_php_spark.core.extract import extract_spans
from hquery_php_spark.operators.markdown import render_markdown
from hquery_php_spark.operators.sections import section_rows
from hquery_php_spark.operators.tables import html_tables

N = 400
RATIO_MAX = 8.0
REPEATS = 3
URL = "https://example.com/"


def _page(n: int) -> bytes:
    """n outline sections (heading, paragraph, empty elements), one
    table of 4n rows and one list of n items, so both the heading count
    and the sibling-list lengths grow with n."""
    parts = ["<html><head><title>t</title></head><body>"]
    for i in range(n):
        parts.append(
            f"<h{2 + i % 4}>Head <i>{i}</i></h{2 + i % 4}>"
            f"<p>Some <b>bold</b> text &amp; more {i}<span></span></p>"
            "<div><!-- note --></div><p> </p>"
        )
    parts.append("<table><tbody>")
    for i in range(4 * n):
        parts.append(f'<tr><td colspan="1">r{i}</td><td></td></tr>')
    parts.append("</tbody></table><ul>")
    for i in range(n):
        parts.append(f"<li>item {i}</li>")
    parts.append("</ul></body></html>")
    return "".join(parts).encode()


def _timed(fn, *args) -> float:
    gc.collect()
    gc.disable()  # a collector pause is not the walk's cost
    try:
        t = time.perf_counter()
        fn(*args)
        return time.perf_counter() - t
    finally:
        gc.enable()


def _best(html: bytes, fn) -> float:
    return min(_timed(fn, HDoc(html, URL)) for _ in range(REPEATS))


WALKS = {
    "section_rows": section_rows,
    "html_tables": html_tables,
    "render_markdown": render_markdown,
    "extract_spans": extract_spans,
    ":empty": lambda d: d.find(":empty", extensions=True),
    "tr:nth-child(2n)": lambda d: d.find("tr:nth-child(2n)", extensions=True),
}


@pytest.mark.parametrize("name", list(WALKS))
def test_walk_is_near_linear(name):
    fn = WALKS[name]
    small, big = _page(N), _page(4 * N)
    assert fn(HDoc(big, URL))  # the walk has work to do
    ratio = _best(big, fn) / _best(small, fn)
    assert ratio <= RATIO_MAX, f"{name}: 4x input took {ratio:.1f}x the time"


def test_tokenize_and_index_is_near_linear():
    """HDoc construction: charset sniff, tokenizer and tag index."""
    small, big = _page(N), _page(4 * N)
    assert len(HDoc(big, URL)) > 3 * len(HDoc(small, URL))

    def best(html: bytes) -> float:
        return min(_timed(HDoc, html, URL) for _ in range(REPEATS))

    ratio = best(big) / best(small)
    assert ratio <= RATIO_MAX, f"4x input took {ratio:.1f}x the time"


def _sitemap(n: int) -> bytes:
    """A urlset of n entries, each with an image and a video."""
    parts = ['<?xml version="1.0"?><urlset>']
    for i in range(n):
        parts.append(
            f"<url><loc>https://example.com/p{i}</loc>"
            f"<image:image><image:loc>https://example.com/i{i}.jpg</image:loc>"
            f"<image:title>Image &amp; {i}</image:title></image:image>"
            f"<video:video><video:content_loc>https://example.com/v{i}.mp4"
            f"</video:content_loc><video:title>V{i}</video:title></video:video>"
            "</url>"
        )
    parts.append("</urlset>")
    return "".join(parts).encode()


def test_parse_sitemap_media_is_near_linear():
    """The timing includes the parse, which is linear on its own."""
    from hquery_php_spark.operators.feeds import parse_sitemap_media

    def best(xml: bytes) -> float:
        return min(_timed(parse_sitemap_media, xml) for _ in range(REPEATS))

    small, big = _sitemap(N), _sitemap(4 * N)
    assert len(parse_sitemap_media(big)) == 2 * 4 * N
    ratio = best(big) / best(small)
    assert ratio <= RATIO_MAX, f"4x input took {ratio:.1f}x the time"


def _claimed_spans(n: int) -> bytes:
    """Eight table rows whose first cell claims rowspan and colspan n:
    the occupancy work must follow the rows that exist, not the claimed
    n × n area."""
    rows = "".join(
        f'<tr><td rowspan="{n}" colspan="{n}">r{i}</td><td>a</td><td>b</td></tr>'
        for i in range(8)
    )
    return f"<html><body><table>{rows}</table></body></html>".encode()


def test_html_tables_ignores_claimed_span_area():
    small, big = _claimed_spans(N), _claimed_spans(4 * N)
    cells = html_tables(HDoc(big, URL))
    # each row's wide cell lands right of the ones claimed above it
    assert [c.col_no for c in cells[-3:]] == [7 * 4 * N, 8 * 4 * N, 8 * 4 * N + 1]
    ratio = _best(big, html_tables) / _best(small, html_tables)
    assert ratio <= RATIO_MAX, f"4x span values took {ratio:.1f}x the time"
