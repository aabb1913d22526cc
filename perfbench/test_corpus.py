"""The generator's expected spans, cross-checked against an independent
walk with the standard library's ``html.parser`` (the recipe of
tests/test_*_diff.py), plus determinism and input-property checks.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

import os
import random
import sys
from bisect import bisect_right
from html.parser import HTMLParser

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import corpus  # noqa: E402


class _StdlibSpans(HTMLParser):
    """Text runs between any two pieces of markup (not inside <a>,
    script or style), img[src] and a[href] with their link text."""

    def __init__(self, text: str):
        super().__init__(convert_charrefs=True)
        self.src = text
        self.line_starts = [0] + [i + 1 for i, c in enumerate(text) if c == "\n"]
        self.out = []
        self.run, self.run_pos = [], None
        self.a = None  # (offset, href, texts)
        self.raw_text = 0  # inside script/style

    def _pos(self) -> int:
        line, col = self.getpos()
        return self.line_starts[line - 1] + col

    def _flush(self):
        text = " ".join("".join(self.run).split())
        if text and self.a is None:
            self.out.append(("text", text, None, self.run_pos))
        self.run, self.run_pos = [], None

    def handle_starttag(self, tag, attrs):
        self._flush()
        gt = self._pos() + len(self.get_starttag_text()) - 1
        attrs = dict(attrs)
        if tag in ("script", "style"):
            self.raw_text += 1
        elif tag == "img" and "src" in attrs:
            self.out.append(("media", "", attrs["src"], gt))
        elif tag == "a" and "href" in attrs:
            self.a = (gt, attrs["href"], [])

    def handle_endtag(self, tag):
        self._flush()
        if tag in ("script", "style"):
            self.raw_text -= 1
        elif tag == "a" and self.a is not None:
            gt, href, texts = self.a
            self.out.append(("media", " ".join("".join(texts).split()), href, gt))
            self.a = None

    def handle_data(self, data):
        if self.raw_text:
            return
        if self.run_pos is None:
            self.run_pos = self._pos()
        self.run.append(data)
        if self.a is not None:
            self.a[2].append(data)

    def handle_comment(self, data):
        self._flush()

    def handle_decl(self, decl):
        self._flush()

    def close(self):
        super().close()
        self._flush()


def _stdlib_spans(page):
    text = page.html.decode("utf-8" if page.charset == "utf-8" else page.charset)
    p = _StdlibSpans(text)
    p.feed(text)
    p.close()
    # char offsets -> byte offsets of the UTF-8 text the engine indexes
    prefix = [0]
    for c in text:
        prefix.append(prefix[-1] + len(c.encode("utf-8")))
    spans = [(k, t, r, prefix[o]) for k, t, r, o in p.out]
    return sorted(spans, key=lambda s: (s[3], s[0] != "media"))


def _relative(expected, base_url):
    """The generator stores resolved URLs; html.parser sees them as
    written.  Map each expected ref back to its written form."""
    host = base_url.split("/")[2]
    out = []
    for k, t, r, o in expected:
        if r is not None:
            r = r[len("https://%s" % host):]
        out.append((k, t, r, o))
    return out


def _assert_page(page):
    got = _stdlib_spans(page)
    assert got == _relative(page.spans, page.base_url), page.doc_id


def test_crawl_spans_match_stdlib_walk():
    pages = corpus.crawl_pages(5, 120)
    rng = random.Random(0)
    sample = rng.sample(pages, 40)
    # the sample must hold every hard case the corpus plants
    sample += [p for p in pages if p.charset != "utf-8"][:5]
    sample += [p for p in pages if b"</span>" in p.html and b"<li>" in p.html][:5]
    assert any(p.charset != "utf-8" for p in sample)
    for p in sample:
        _assert_page(p)


def test_tiny_and_mega_spans_match_stdlib_walk():
    for p in corpus.tiny_pages(3, 50):
        _assert_page(p)
    _assert_page(corpus.mega_page(4, "m", 120_000))


def test_generator_is_deterministic():
    a = corpus.crawl_pages(9, 30)
    b = corpus.crawl_pages(9, 30)
    assert [p.html for p in a] == [p.html for p in b]
    assert [p.html for p in a] != [p.html for p in corpus.crawl_pages(10, 30)]
    assert corpus.curate_rows(9, 300).rows == corpus.curate_rows(9, 300).rows


def test_crawl_input_properties():
    props = corpus.input_properties(corpus.crawl_pages(1, 200))
    assert props["legacy_charset_share"] == 0.1
    assert 15_000 < props["size_quantiles"]["p50"] < 40_000
    assert props["size_quantiles"]["max"] <= 1.1 * (1 << 20)
    assert props["attr_repeat_share"] > 0.1  # template chrome repeats


def test_curate_plants_hold():
    ci = corpus.curate_rows(2, 300)
    assert ci.info["min_near_jaccard"] >= 0.95
    assert ci.info["max_far_jaccard"] < 0.3
    ids = [r[0] for r in ci.rows]
    assert len(set(ids)) == len(ids) == 300
    assert set(ci.survivors) <= set(ids)
