"""Seeded corpus generator for the four perfbench workloads.

Every document is built piece by piece by :class:`PageBuilder`, which
tracks the UTF-8 byte offset of each piece as it is written.  The
expected outputs therefore come from the generator's own bookkeeping,
not from running the engine:

* spans — ``(kind, text, media_ref, offset)`` in document order: a text
  span per maximal run of characters between two pieces of markup
  (whitespace collapsed, skipped when empty or inside ``<a>``), a media
  span per ``img[src]`` and ``a[href]`` at the offset of the ``>`` that
  closes its start tag, with the link's own text;
* surface counts — outline sections, table cells, ``<meta>`` tags,
  title and canonical URL;
* curate survivors — which ids of the ``(doc_id, text, domain)`` table
  survive the quality gate, exact dedup and near-dup clustering.

The same seed always yields the same documents.  Page sizes are drawn
at stratified quantiles of the size distribution (the seed only
shuffles them), so the total bytes of a corpus barely move between
seeds and throughput figures stay comparable across seeds.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
from dataclasses import dataclass, field
from html import escape
from statistics import NormalDist
from typing import Dict, List, Optional, Sequence, Tuple

Span = Tuple[str, str, Optional[str], int]

# legacy charsets declared by <meta charset>, with words they can encode
LEGACY = {
    "windows-1251": ["привет", "новости", "город", "статья", "время", "книга"],
    "koi8-r": ["погода", "работа", "улица", "письмо", "неделя", "рынок"],
    "iso-8859-2": ["łódź", "żółty", "często", "święto", "książka", "miasto"],
    "windows-1252": ["café", "naïve", "über", "façade", "señor", "größe"],
    "gbk": ["新闻", "城市", "天气", "市场", "文章", "时间"],
}
UTF8_WORDS = ["café", "naïve", "über", "日本", "ñandú", "Ελλάδα"]
STOPWORDS = ["the", "and", "to", "of", "with", "that", "have", "be"]


def _collapse(s: str) -> str:
    return " ".join(s.split())


def _pseudo_words(rng: random.Random, n: int, lo: int = 3, hi: int = 9) -> List[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen, out = set(), []
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(lo, hi)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def spans_digest(spans: Sequence[Span]) -> str:
    """sha256 of the spans in the exact text Spark's ``to_json`` gives
    ``array<struct<kind,text,media_ref,offset>>`` (null fields omitted,
    no whitespace, non-ASCII kept), so an output row can be checked by
    ``sha2(to_json(spans), 256)`` without shipping the spans to Python."""
    items = []
    for kind, text, ref, off in spans:
        d = {"kind": kind, "text": text}
        if ref is not None:
            d["media_ref"] = ref
        d["offset"] = off
        items.append(d)
    s = json.dumps(items, ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


@dataclass
class Page:
    doc_id: str
    base_url: str
    html: bytes
    charset: str
    spans: List[Span]
    n_sections: int
    n_cells: int
    title: str
    canonical: str
    n_meta: int
    attrs: List[str] = field(default_factory=list)


class PageBuilder:
    """Writes one HTML page and records what the engine must extract."""

    def __init__(self) -> None:
        self.parts: List[str] = []
        self.pos = 0  # UTF-8 byte offset of the next piece
        self.spans: List[Span] = []
        self.attrs: List[str] = []
        self._run_start: Optional[int] = None
        self._run: List[str] = []
        self._a: Optional[Tuple[int, str, List[str]]] = None
        self.headings = 0
        self.cells = 0
        self.metas = 0

    def _put(self, s: str) -> None:
        self.parts.append(s)
        self.pos += len(s) if s.isascii() else len(s.encode("utf-8"))

    def _flush(self) -> None:
        if self._run:
            text = _collapse("".join(self._run))
            if text and self._a is None:
                self.spans.append(("text", text, None, self._run_start))
            self._run = []
        self._run_start = None

    def tag(self, s: str) -> None:
        """Markup without attributes (or whose attributes carry no URL)."""
        self._flush()
        self._put(s)

    def open(self, name: str, attrs: str = "") -> None:
        self._flush()
        if attrs:
            self.attrs.append(attrs)
        self._put("<%s%s>" % (name, attrs))

    def text(self, plain: str) -> None:
        if self._run_start is None:
            self._run_start = self.pos
        self._run.append(plain)
        if self._a is not None:
            self._a[2].append(plain)
        self._put(escape(plain, quote=False))

    def img(self, src: str, ref: str, extra: str = "") -> None:
        self.open("img", ' src="%s"%s' % (src, extra))
        self.spans.append(("media", "", ref, self.pos - 1))

    def a_open(self, href: str, ref: str, extra: str = "") -> None:
        self.open("a", ' href="%s"%s' % (href, extra))
        self._a = (self.pos - 1, ref, [])

    def a_close(self) -> None:
        self._flush()
        b, ref, texts = self._a
        self._a = None
        self.spans.append(("media", _collapse("".join(texts)), ref, b))
        self._put("</a>")

    def link(self, href: str, ref: str, text: str, extra: str = "") -> None:
        self.a_open(href, ref, extra)
        self.text(text)
        self.a_close()

    def heading(self, level: int, text: str) -> None:
        self.tag("<h%d>" % level)
        self.text(text)
        self.tag("</h%d>" % level)
        self.headings += 1

    def table(self, rows: List[List[str]], cls: str) -> None:
        self.open("table", ' class="%s"' % cls)
        for r, row in enumerate(rows):
            self.tag("<tr>")
            cell = "th" if r == 0 else "td"
            for c in row:
                self.tag("<%s>" % cell)
                self.text(c)
                self.tag("</%s>" % cell)
                self.cells += 1
            self.tag("</tr>")
        self.tag("</table>")

    def meta(self, attrs: str) -> None:
        self.open("meta", attrs)
        self.metas += 1

    def finish(self, doc_id: str, base_url: str, charset: str, title: str,
               canonical: str) -> Page:
        self._flush()
        body = "".join(self.parts)
        data = body.encode("utf-8" if charset == "utf-8" else charset)
        spans = sorted(self.spans, key=lambda s: (s[3], s[0] != "media"))
        return Page(
            doc_id, base_url, data, charset, spans,
            n_sections=self.headings + 1,  # + the pre-heading preamble
            n_cells=self.cells, title=title, canonical=canonical,
            n_meta=self.metas, attrs=self.attrs,
        )


class _Text:
    """Sentence pools per charset: pages draw whole sentences, which is
    fast and keeps every word encodable in the page's charset."""

    def __init__(self, rng: random.Random, n_sent: int = 1500) -> None:
        vocab = _pseudo_words(rng, 3000)
        self.words = vocab
        self.pools: Dict[str, List[str]] = {}
        for cs in ["utf-8"] + list(LEGACY):
            extra = UTF8_WORDS if cs == "utf-8" else LEGACY[cs]
            pool = []
            for _ in range(n_sent):
                k = rng.randint(6, 16)
                ws = [rng.choice(vocab) for _ in range(k)]
                ws[rng.randrange(k)] = rng.choice(STOPWORDS)
                if rng.random() < 0.35:
                    ws[rng.randrange(k)] = rng.choice(extra)
                s = " ".join(ws).capitalize()
                if rng.random() < 0.1:
                    s += " & more <x>"  # entity-escaped on write
                pool.append(s + ".")
            self.pools[cs] = pool

    def sentence(self, rng: random.Random, cs: str) -> str:
        return rng.choice(self.pools[cs])

    def phrase(self, rng: random.Random, k: int) -> str:
        return " ".join(rng.choice(self.words) for _ in range(k))


def _stratified_sizes(rng: random.Random, n: int, median: float, sigma: float,
                      lo: int, hi: int) -> List[int]:
    nd = NormalDist(0.0, sigma)
    sizes = [
        int(min(hi, max(lo, median * math.exp(nd.inv_cdf((i + 0.5) / n)))))
        for i in range(n)
    ]
    rng.shuffle(sizes)
    return sizes


@dataclass
class Template:
    host: str
    cls: str
    nav: List[Tuple[str, str]]  # (path, label)


def _templates(rng: random.Random, n: int, text: _Text) -> List[Template]:
    out = []
    for t in range(n):
        host = "site%03d.example.com" % t
        nav = [("/section/%s" % w, w.capitalize()) for w in text.words[t * 7:t * 7 + rng.randint(4, 7)]]
        out.append(Template(host, "t%03d" % t, nav))
    return out


def _chrome_head(b: PageBuilder, tp: Template, charset: str, title: str,
                 canonical: str) -> None:
    b.tag("<!DOCTYPE html>\n")
    b.tag("<html lang=\"en\">")
    b.tag("<head>")
    b.meta(' charset="%s"' % charset)
    b.meta(' name="viewport" content="width=device-width"')
    b.tag("<title>")
    b.text(title)
    b.tag("</title>")
    b.open("link", ' rel="canonical" href="%s"' % canonical)
    b.open("link", ' rel="stylesheet" href="/static/%s/site.css"' % tp.cls)
    b.tag("<style>.%s-nav a { color: #333 } p > b { font-weight: 700 }</style>" % tp.cls)
    b.tag('<script>var cfg = {"tpl": "%s", "html": "<b>not text</b>"};</script>' % tp.cls)
    b.tag("</head>\n")


def _chrome_header(b: PageBuilder, tp: Template) -> None:
    b.open("body", ' class="%s-body"' % tp.cls)
    b.tag("\n")
    b.open("div", ' class="%s-header" id="top"' % tp.cls)
    b.a_open("/", "https://%s/" % tp.host, ' class="%s-logo"' % tp.cls)
    b.img("/static/%s/logo.png" % tp.cls, "https://%s/static/%s/logo.png" % (tp.host, tp.cls),
          ' alt="logo" class="%s-logo-img"' % tp.cls)
    b.a_close()
    b.open("ul", ' class="%s-nav"' % tp.cls)
    for path, label in tp.nav:
        b.open("li", ' class="%s-nav-item"' % tp.cls)
        b.link(path, "https://%s%s" % (tp.host, path), label, ' class="%s-nav-link"' % tp.cls)
        b.tag("</li>")
    b.tag("</ul>")
    b.tag("</div>\n")


def _chrome_footer(b: PageBuilder, tp: Template, rng: random.Random, text: _Text,
                   cs: str) -> None:
    b.open("div", ' class="%s-footer"' % tp.cls)
    b.tag("<p>")
    b.text(text.sentence(rng, cs))
    b.tag("</p>")
    b.link("/about", "https://%s/about" % tp.host, "About us", ' class="%s-foot-link"' % tp.cls)
    b.tag("</div>\n")
    b.tag("</body></html>\n")


def _paragraph(b: PageBuilder, rng: random.Random, text: _Text, cs: str,
               tp: Template, uid: str, k: int) -> None:
    b.open("p", ' class="%s-p"' % tp.cls)
    for j in range(rng.randint(2, 5)):
        b.text(text.sentence(rng, cs) + " ")
        r = rng.random()
        if r < 0.15:
            b.tag("<b>")
            b.text(text.phrase(rng, 2))
            b.tag("</b>")
            b.text(" ")
        elif r < 0.3:
            path = "/art/%s-%d-%d" % (uid, k, j)
            b.link(path, "https://%s%s" % (tp.host, path), text.phrase(rng, 2))
            b.text(" ")
    b.tag("</p>\n")


def _broken(b: PageBuilder, rng: random.Random, text: _Text, cs: str) -> None:
    """Unclosed and misnested inline markup; the text runs between the
    tags are unaffected, so the expected spans stay exact."""
    b.tag("<p><b>")
    b.text(text.phrase(rng, 3) + " ")
    b.tag("<i>")
    b.text(text.phrase(rng, 2))
    b.tag("</b>")
    b.text(" " + text.phrase(rng, 2))
    b.tag("</i></p>\n<ul><li>")
    b.text(text.sentence(rng, cs))
    b.tag("<li>")
    b.text(text.sentence(rng, cs))
    b.tag("</ul>\n<div><p>")
    b.text(text.sentence(rng, cs))
    b.tag("</span>\n")


def _body_block(b: PageBuilder, rng: random.Random, text: _Text, cs: str,
                tp: Template, uid: str, k: int, depth: List[int]) -> None:
    r = rng.random()
    if r < 0.55:
        _paragraph(b, rng, text, cs, tp, uid, k)
    elif r < 0.65:
        lvl = max(2, min(6, depth[0] + rng.choice((-1, 0, 1))))
        depth[0] = lvl
        b.heading(lvl, text.phrase(rng, rng.randint(2, 4)).capitalize())
    elif r < 0.77:
        b.tag("<figure>")
        path = "/img/%s-%d.jpg" % (uid, k)
        b.img(path, "https://%s%s" % (tp.host, path),
              ' alt="figure" class="%s-img"' % tp.cls)
        b.tag("<figcaption>")
        b.text(text.sentence(rng, cs))
        b.tag("</figcaption></figure>\n")
    elif r < 0.87:
        b.open("ul", ' class="%s-list"' % tp.cls)
        for _ in range(rng.randint(2, 6)):
            b.tag("<li>")
            b.text(text.sentence(rng, cs))
            b.tag("</li>")
        b.tag("</ul>\n")
    elif r < 0.95:
        ncol = rng.randint(2, 5)
        rows = [[text.phrase(rng, 1).capitalize() for _ in range(ncol)]]
        rows += [[text.phrase(rng, rng.randint(1, 3)) for _ in range(ncol)]
                 for _ in range(rng.randint(2, 8))]
        b.table(rows, "%s-tbl" % tp.cls)
    else:
        b.tag("<!-- block %d: <p>commented out</p> -->\n" % k)


def crawl_pages(seed: int, n_docs: int, n_templates: int = 200,
                median_bytes: int = 25_000, sigma: float = 0.9,
                max_bytes: int = 1 << 20, legacy_share: float = 0.10,
                broken_share: float = 0.05, id_prefix: str = "c") -> List[Page]:
    """Crawl-like pages: log-normal sizes, shared template chrome, a
    legacy-charset share and a share with unclosed/misnested markup."""
    rng = random.Random(seed)
    text = _Text(random.Random(seed * 7919 + 1))
    tpls = _templates(rng, n_templates, text)
    sizes = _stratified_sizes(rng, n_docs, median_bytes, sigma, 2_000, max_bytes)
    n_legacy = round(n_docs * legacy_share)
    n_broken = round(n_docs * broken_share)
    legacy = list(LEGACY)
    pages = []
    for i, target in enumerate(sizes):
        # the seed shuffled `sizes`; charset and brokenness follow the
        # index, so their shares are exact
        cs = legacy[i % len(legacy)] if i < n_legacy else "utf-8"
        broken = n_legacy <= i < n_legacy + n_broken
        tp = tpls[rng.randrange(n_templates)]
        pages.append(_crawl_page(rng, text, tp, "%s%07d" % (id_prefix, i), cs, target, broken))
    rng.shuffle(pages)
    return pages


def _crawl_page(rng: random.Random, text: _Text, tp: Template, doc_id: str,
                cs: str, target: int, broken: bool) -> Page:
    uid = doc_id
    b = PageBuilder()
    title = text.phrase(rng, 3).capitalize() + " " + uid
    canonical = "https://%s/p/%s" % (tp.host, uid)
    _chrome_head(b, tp, cs, title, canonical)
    _chrome_header(b, tp)
    b.open("div", ' class="%s-main main" id="main-%s"' % (tp.cls, uid))
    b.heading(1, title)
    depth = [2]
    k = 0
    if broken:
        _broken(b, rng, text, cs)
    while b.pos < target:
        _body_block(b, rng, text, cs, tp, uid, k, depth)
        k += 1
    b.tag("</div>\n")
    _chrome_footer(b, tp, rng, text, cs)
    return b.finish(doc_id, "https://%s/p/%s.html" % (tp.host, uid), cs, title, canonical)


def tiny_pages(seed: int, n_docs: int, id_prefix: str = "t") -> List[Page]:
    """~0.6 KB pages whose link/src attribute strings are all unique, so
    the engine's cross-document attribute cache mostly misses."""
    rng = random.Random(seed)
    words = _pseudo_words(rng, 2000)
    out = []
    for i in range(n_docs):
        uid = "%s%07d" % (id_prefix, i)
        host = "h%d.example.org" % rng.randrange(100_000)
        b = PageBuilder()
        title = " ".join(rng.choice(words) for _ in range(3))
        canonical = "https://%s/%s" % (host, uid)
        b.tag("<html><head>")
        b.meta(' charset="utf-8"')
        b.tag("<title>")
        b.text(title)
        b.tag("</title>")
        b.open("link", ' rel="canonical" href="%s"' % canonical)
        b.tag("</head><body>")
        b.open("div", ' id="d-%s" class="c%d"' % (uid, rng.randrange(10**6)))
        b.heading(2, title)
        for j in range(3):
            b.tag("<p>")
            b.text(" ".join(rng.choice(words) for _ in range(rng.randint(5, 12))) + " ")
            path = "/%s/r%d-%06x" % (uid, j, rng.randrange(1 << 24))
            b.link(path, "https://%s%s" % (host, path), rng.choice(words))
            b.tag("</p>")
        src = "/m/%s-%06x.png" % (uid, rng.randrange(1 << 24))
        b.img(src, "https://%s%s" % (host, src), ' alt="%s"' % rng.choice(words))
        for j in range(3):
            b.open("span", ' data-k="%s-%d-%06x"' % (uid, j, rng.randrange(1 << 24)))
            b.text(rng.choice(words))
            b.tag("</span>")
        b.tag("</div></body></html>")
        out.append(b.finish(uid, "https://%s/%s/index.html" % (host, uid), "utf-8", title, canonical))
    return out


def mega_page(seed: int, doc_id: str, target: int) -> Page:
    """A mega page of about ``target`` bytes: long tables under a deep
    heading outline."""
    rng = random.Random(seed)
    text = _Text(random.Random(seed * 31 + 7), n_sent=600)
    tp = Template("mega.example.net", "mg", [("/a", "Alpha"), ("/b", "Beta")])
    b = PageBuilder()
    title = "Mega report " + doc_id
    canonical = "https://%s/r/%s" % (tp.host, doc_id)
    _chrome_head(b, tp, "utf-8", title, canonical)
    _chrome_header(b, tp)
    b.open("div", ' class="main"')
    b.heading(1, title)
    k = 0
    while b.pos < target:
        # a deep outline (h2 > h3 > ... > h6, then back up) over long
        # tables: ~10^5 tags per 1.5 MB with few headings
        # the shape is fixed so every seed's mega pages cost the same;
        # the seed only picks the words
        b.heading(2 + k % 5, "%s %d" % (text.phrase(rng, 2).capitalize(), k))
        _paragraph(b, rng, text, "utf-8", tp, doc_id, k)
        ncol = 3 + k % 4
        rows = [["Col %d" % c for c in range(ncol)]]
        rows += [[text.phrase(rng, 1) for _ in range(ncol)] for _ in range(550)]
        b.table(rows, "mg-tbl")
        k += 1
    b.tag("</div>\n")
    _chrome_footer(b, tp, rng, text, "utf-8")
    return b.finish(doc_id, "https://%s/r/%s.html" % (tp.host, doc_id), "utf-8", title, canonical)


def input_properties(pages: Sequence[Page]) -> dict:
    """Properties an optimisation may depend on."""
    counts: Dict[str, int] = {}
    for p in pages:
        for a in set(p.attrs):
            counts[a] = counts.get(a, 0) + 1
    occ = sum(len(set(p.attrs)) for p in pages)
    shared = sum(c for c in counts.values() if c > 1)
    sizes = sorted(len(p.html) for p in pages)

    def q(f: float) -> int:
        return sizes[min(len(sizes) - 1, int(f * len(sizes)))]

    return {
        "docs": len(pages),
        "bytes": sum(sizes),
        "attr_repeat_share": round(shared / occ, 4) if occ else 0.0,
        "distinct_attr_strings": len(counts),
        "legacy_charset_share": round(sum(p.charset != "utf-8" for p in pages) / len(pages), 4),
        "size_quantiles": {"p10": q(0.1), "p50": q(0.5), "p90": q(0.9),
                           "p99": q(0.99), "max": sizes[-1]},
    }


# ---------------------------------------------------------------------------
# curate_dedup: (doc_id, text, domain) with planted duplicates


def char_shingles(text: str, k: int = 5) -> set:
    """Char k-gram set of the whitespace-collapsed, ASCII-lowercased text
    (the near-dup verify stage's documented shingling)."""
    n = " ".join(text.split()).lower()
    if len(n) < k:
        return {n}
    return {n[i:i + k] for i in range(len(n) - k + 1)}


def jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = char_shingles(a, k), char_shingles(b, k)
    return len(sa & sb) / len(sa | sb)


@dataclass
class CurateInput:
    rows: List[Tuple[int, str, str]]  # (doc_id, text, domain)
    survivors: List[int]
    info: dict


def curate_rows(seed: int, n_docs: int) -> CurateInput:
    """Planted groups: exact duplicates, near duplicates (Jaccard >= 0.95;
    one word added or dropped),
    far pairs (Jaccard < 0.3) and quality-gate rejects; the rest are
    distinct documents.  Ids are shuffled so the canonical (minimum-id)
    copy of a group is not always the original."""
    rng = random.Random(seed)
    vocab = _pseudo_words(rng, 6000, 4, 9)
    domains = ["d%02d.example" % i for i in range(20)]

    def doc(n_words: int) -> List[str]:
        ws = [rng.choice(vocab) for _ in range(n_words)]
        for _ in range(max(2, n_words // 8)):
            ws[rng.randrange(n_words)] = rng.choice(STOPWORDS)
        return ws

    groups: List[Tuple[str, List[str]]] = []  # (kind, texts)
    n_exact = n_docs // 20   # groups of 2-3 identical texts
    n_near = n_docs // 20    # groups of 2-3 texts one word apart
    n_far = n_docs // 25     # pairs sharing ~15% of their words
    n_rej = n_docs // 10
    jmin_near, jmax_far = 1.0, 0.0
    used = 0
    for _ in range(n_exact):
        t = " ".join(doc(rng.randint(40, 70)))
        k = rng.randint(2, 3)
        groups.append(("exact", [t] * k))
        used += k
    for _ in range(n_near):
        ws = doc(rng.randint(50, 70))
        texts = [" ".join(ws)]
        # variants: one word appended, or the last word dropped
        texts.append(" ".join(ws + [rng.choice(vocab)]))
        if rng.random() < 0.5:
            texts.append(" ".join(ws[:-1]))
        for t in texts[1:]:
            jmin_near = min(jmin_near, jaccard(texts[0], t))
        groups.append(("near", texts))
        used += len(texts)
    for _ in range(n_far):
        a = doc(rng.randint(40, 60))
        cut = len(a) * 15 // 100
        b = a[:cut] + doc(len(a) - cut)
        ta, tb = " ".join(a), " ".join(b)
        jmax_far = max(jmax_far, jaccard(ta, tb))
        groups.append(("far", [ta, tb]))
        used += 2
    for i in range(n_rej):
        r = i % 3
        if r == 0:
            t = " ".join(doc(5)[:5])  # too few words
        elif r == 1:
            w = rng.sample(vocab, 2)
            t = " ".join(["the", "and"] + [w[0], w[1]] * 30)  # repetitive bigrams
        else:
            t = " ".join(x + " ### ..." for x in doc(20))  # symbol heavy
        groups.append(("reject", [t]))
        used += 1
    while used < n_docs:
        groups.append(("single", [" ".join(doc(rng.randint(40, 70)))]))
        used += 1
    if jmin_near < 0.95 or jmax_far >= 0.3:
        raise ValueError("planted pair outside its Jaccard band: near %.3f far %.3f"
                         % (jmin_near, jmax_far))

    ids = list(range(1, used + 1))
    rng.shuffle(ids)
    rows, survivors, it = [], [], iter(ids)
    for kind, texts in groups:
        gid = [next(it) for _ in texts]
        for i, t in zip(gid, texts):
            rows.append((i, t, rng.choice(domains)))
        if kind in ("exact", "near"):
            survivors.append(min(gid))
        elif kind in ("far", "single"):
            survivors.extend(gid)
    rng.shuffle(rows)
    info = {
        "docs": len(rows), "exact_groups": n_exact, "near_groups": n_near,
        "far_pairs": n_far, "rejects": n_rej, "survivors": len(survivors),
        "min_near_jaccard": round(jmin_near, 4), "max_far_jaccard": round(jmax_far, 4),
        "bytes": sum(len(t) for _, t, _ in rows),
    }
    return CurateInput(rows, sorted(survivors), info)
