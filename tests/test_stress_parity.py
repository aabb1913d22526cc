"""Layer-3 parity: the reference's stress sweep on its real 3.1MB page.

Ports tests/hQueryStress.Test.php: the 28-selector sweep with the
context-invariance assertion count(doc.find(s)) == count(body.find(s))
(reference :159), the >10k-tags/<5s big-synthetic gate (:224-238), and
the committed benchmark-log golden counts (tests/README.md:21-33).
"""

import gzip
import os
import time

import pytest

import hquery_php_spark as hq

GRANITO = "/root/reference/tests/data/big_granito_1.html.gz"
ATTR_HTML = os.path.join(os.path.dirname(GRANITO), "attr.html.gz")

# the page is the reference's own fixture, not held in this repo: the
# tests that read it run wherever it is present and skip elsewhere
needs_granito = pytest.mark.skipif(
    not os.path.exists(GRANITO), reason=f"reference stress page {GRANITO} absent"
)

# the reference's stress sweep list (tests/hQueryStress.Test.php:102-130)
SELECTORS = [
    "span", "span.glyphicon", "div", "p", "form", "td", "tr", "table",
    "table tr", "table>tr", "tr td", "tr>td", ".ch-title", ".even",
    ".row", "a", "a[href]", "img", "img[src]", "a img", "a>img",
    "a>img:parent", "a[href]>img[src]:parent", ".first", ".first:parent",
    ".first:next", "img.click", "script",
]

# golden counts committed in the reference's benchmark log
# (/root/reference/tests/README.md:21-33, document context)
GOLDEN = {
    "span": 10131, ".ch-title": 5616, ".even": 2808, ".row": 1464,
    "a": 2204, "img": 730, "a img": 727, "a>img": 727,
    "a>img:parent": 727, ".first": 720, ".first:parent": 720,
    ".first:next": 720, "img.click": 6,
}


@pytest.fixture(scope="module")
def doc():
    raw = gzip.open(GRANITO, "rb").read()
    t0 = time.perf_counter()
    d = hq.HDoc(raw, "https://granito.md/")
    # the reference's CI gate: 3.1MB indexed in < 6s (hQueryStress:74-75)
    assert time.perf_counter() - t0 < 6.0
    assert len(d) == 50924
    assert d.charset == "WINDOWS-1251"
    return d


@needs_granito
def test_context_invariance(doc):
    body = doc.find("body")
    assert body
    for sel in SELECTORS:
        n_doc = len(doc.find(sel) or [])
        n_body = len(body.find(sel) or [])
        assert n_doc == n_body, (sel, n_doc, n_body)


@needs_granito
def test_golden_counts(doc):
    for sel, want in GOLDEN.items():
        got = len(doc.find(sel) or [])
        assert got == want, (sel, got, want)


@needs_granito
def test_extract_spans_runs(doc):
    spans = hq.extract_spans(doc)
    assert len(spans) > 10000
    # document order is strict on offsets
    offs = [s.offset for s in spans]
    assert offs == sorted(offs)


@needs_granito
def test_vs_stdlib_htmlparser(doc):
    """Layer-4 analogue of the reference's DOMCrawler comparison
    (tests/DOMCrawlerStress.Test.php): an independent parser must agree
    on the FULL per-tag-name count distribution of the stress page, and
    the engine must be faster despite also building inverted indexes."""
    import time
    from html.parser import HTMLParser

    raw = gzip.open(GRANITO, "rb").read()
    text = raw.decode("windows-1251", "replace")

    class Counter(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=False)
            self.by = {}

        def handle_starttag(self, tag, attrs):
            self.by[tag] = self.by.get(tag, 0) + 1

    t0 = time.perf_counter()
    c = Counter()
    c.feed(text)
    t_std = time.perf_counter() - t0

    ours = {n: len(ids) for n, ids in doc.index.tag_idx.items()}
    assert ours == c.by  # exact per-name agreement, every tag

    t0 = time.perf_counter()
    hq.HDoc(raw, "https://granito.md/")
    t_ours = time.perf_counter() - t0
    # conservative CI-safe gate (measured ~1.7x; the reference gates 5x
    # against DOMCrawler at DOMCrawlerStress.Test.php:221)
    assert t_ours < t_std * 1.2, (t_ours, t_std)


@pytest.mark.skipif(
    not os.path.exists(ATTR_HTML),
    reason=f"reference fixture {ATTR_HTML} absent; the same seven assertions "
    "run on its in-repo copy ATTR_QUOTES_HTML in "
    "tests/test_find.py::test_attr_quotes",
)
def test_real_attr_html_fixture():
    """Exact assertions from hQueryCore.Test.php:341-362 on the actual
    reference fixture file (quoted attribute NAMES, misplaced quotes)."""
    ff = hq.HDoc.from_file(ATTR_HTML)
    assert len(ff.find("a.aa")) == 3
    assert len(ff.find("input")) == 3
    inp = ff.find("input[name=title]")
    assert len(inp) == 1
    assert inp.value == "the title"
    assert len(ff.find("input[type=text]")) == 2
    inp = ff.find("input[type=text][name=text]")
    assert len(inp) == 1
    assert inp.first().attr("value") == "the text"


def test_megabyte_malformed_document():
    """Repair megabytes of invalid HTML in one document (north star):
    2MB of interleaved mis-nesting, misplaced quotes, unterminated
    comments/scripts — index + extract complete fast with invariants."""
    chunk = (
        '<div class="x"><b><i>bold</b></i>'
        '<a href="/l" broken=">weird>" >text</a>'
        "<p>para<span>s</p></span>"
        "<script>var a = '<div>not a tag</div>';</script>"
        "<!-- comment --><img src=//cdn/x.png>"
        "<td rows=3 cols='4>5'>cell</td>"
    )
    raw = ("<html><body>" + chunk * 9000 + "</body></html>").encode()
    assert len(raw) > 1_800_000
    t0 = time.perf_counter()
    doc = hq.HDoc(raw, "https://m.example/")
    el = time.perf_counter() - t0
    assert el < 10.0, el
    assert len(doc) > 50_000
    t0 = time.perf_counter()
    spans = hq.extract_spans(doc)
    assert time.perf_counter() - t0 < 10.0
    offs = [s.offset for s in spans]
    assert offs == sorted(offs)
    assert sum(1 for s in spans if s.kind == "media") > 0
    # selectors still work over the repaired soup
    assert len(doc.find("b")) == 9000
    assert len(doc.find("a[href]")) == 9000
