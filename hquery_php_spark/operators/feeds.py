"""Web-feed and sitemap parsing: RSS 2.0, Atom 1.0, sitemap XML.

Crawl pipelines discover and prioritize URLs through exactly three
XML surfaces: RSS/Atom feeds (advertised by the ``<link rel=
"alternate">`` tags that operators/pagemeta.py already extracts) and
sitemaps (advertised by robots.txt).  Both are parsed here with the
repo's own hquery engine — the reference's fault-tolerant scanner
handles XML fine (``<?xml?>`` prolog is a special-tag extent,
self-closing ``<link/>`` is T8 self-close detection), so byte soup,
truncated feeds, and HTML-entity-laden titles degrade instead of
raising.

* ``parse_feed``    -> kind ('rss'|'atom'), feed title, ordered entries
  (title, link, entry id, updated, summary).  RSS maps pubDate/guid/
  description onto the same tuple; Atom links come from ``<link
  href>``; entity decode + whitespace collapse on text fields.
* ``parse_sitemap`` -> kind ('urlset'|'sitemapindex'), ordered entries
  (loc, lastmod, changefreq, priority); index files yield their child
  sitemap locs with the other fields NULL.
* ``feed_entries_df`` / ``sitemap_entries_df`` — Arrow-batched
  ``mapInPandas`` per-document operators (one row per entry), zero
  shuffles; scale = number of feed documents, embarrassingly parallel.
"""

from __future__ import annotations

import html as _htmlmod
from bisect import bisect_left, bisect_right
from itertools import accumulate
from typing import List, NamedTuple, Optional

from ..core.doc import HDoc

__all__ = [
    "FeedEntry",
    "SitemapEntry",
    "SitemapMedia",
    "parse_feed",
    "parse_sitemap",
    "parse_sitemap_media",
    "feed_entries_df",
    "sitemap_entries_df",
    "sitemap_media_df",
]


class FeedEntry(NamedTuple):
    ord: int
    title: Optional[str]
    link: Optional[str]
    entry_id: Optional[str]
    updated: Optional[str]
    summary: Optional[str]


class SitemapEntry(NamedTuple):
    ord: int
    loc: Optional[str]
    lastmod: Optional[str]
    changefreq: Optional[str]
    priority: Optional[str]


def _doc(xml) -> Optional[HDoc]:
    if xml is None:
        return None
    if isinstance(xml, (str, bytes, bytearray)):
        raw = xml.encode("utf-8") if isinstance(xml, str) else bytes(xml)
        return HDoc(raw)
    return xml


def _text(el) -> Optional[str]:
    if not el:
        return None
    t = el.first().text()
    if "&" in t:
        t = _htmlmod.unescape(t)
    t = " ".join(t.split())
    return t or None


def parse_feed(xml):
    """-> (kind, title, [FeedEntry...]); kind None = not a feed."""
    doc = _doc(xml)
    if doc is None:
        return None, None, []
    if doc.find("rss") or doc.find("channel"):
        kind = "rss"
        title = _text(doc.find("channel > title"))
        items = doc.find("item") or []
        entries = [
            FeedEntry(
                i,
                _text(it.find("title")),
                _text(it.find("link")),
                _text(it.find("guid")),
                _text(it.find("pubdate")),
                _text(it.find("description")),
            )
            for i, it in enumerate(items)
        ]
        return kind, title, entries
    if doc.find("feed"):
        kind = "atom"
        title = _text(doc.find("feed > title"))
        entries = []
        for i, it in enumerate(doc.find("entry") or []):
            ln = it.find("link")
            href = ln.first().attr("href") if ln else None
            entries.append(
                FeedEntry(
                    i,
                    _text(it.find("title")),
                    href,
                    _text(it.find("id")),
                    _text(it.find("updated")),
                    _text(it.find("summary")),
                )
            )
        return kind, title, entries
    return None, None, []


def parse_sitemap(xml):
    """-> (kind, [SitemapEntry...]); kind None = not a sitemap."""
    doc = _doc(xml)
    if doc is None:
        return None, []
    if doc.find("sitemapindex"):
        entries = [
            SitemapEntry(i, _text(sm.find("loc")), _text(sm.find("lastmod")), None, None)
            for i, sm in enumerate(doc.find("sitemap") or [])
        ]
        return "sitemapindex", entries
    if doc.find("urlset"):
        entries = [
            SitemapEntry(
                i,
                _text(u.find("loc")),
                _text(u.find("lastmod")),
                _text(u.find("changefreq")),
                _text(u.find("priority")),
            )
            for i, u in enumerate(doc.find("url") or [])
        ]
        return "urlset", entries
    return None, []


def _rows_df(df, id_col, xml_col, fn, fields, kinded):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..batch import map_rows

    schema = StructType(
        [StructField(id_col, df.schema[id_col].dataType)]
        + [StructField("kind", StringType())]
        + ([StructField("feed_title", StringType())] if kinded else [])
        + [StructField("ord", IntegerType())]
        + [StructField(f, StringType()) for f in fields]
    )

    def row(i, x):
        res = fn(x)
        if kinded:
            kind, title, entries = res
            return [(i, kind, title, *e) for e in entries]
        kind, entries = res
        return [(i, kind, *e) for e in entries]

    return map_rows(df.select(id_col, xml_col), schema, row)


def feed_entries_df(df, xml_col: str = "xml", id_col: str = "doc_id"):
    """One row per feed entry:
    (id, kind, feed_title, ord, title, link, entry_id, updated, summary)."""
    return _rows_df(
        df, id_col, xml_col, parse_feed,
        ["title", "link", "entry_id", "updated", "summary"], kinded=True,
    )


def sitemap_entries_df(df, xml_col: str = "xml", id_col: str = "doc_id"):
    """One row per sitemap entry:
    (id, kind, ord, loc, lastmod, changefreq, priority)."""
    return _rows_df(
        df, id_col, xml_col, parse_sitemap,
        ["loc", "lastmod", "changefreq", "priority"], kinded=False,
    )


class SitemapMedia(NamedTuple):
    ord: int  # index of the owning <url> entry
    kind: str  # 'image' | 'video'
    loc: Optional[str]
    title: Optional[str]


# media container -> (loc tag, title tag) per the Google sitemap
# image/video extensions (sitemaps.org namespace docs)
_MEDIA_TAGS = {
    "image": ("image:image", "image:loc", "image:title"),
    "video": ("video:video", "video:content_loc", "video:title"),
}


def _first_inside(posting: dict):
    """``lookup(lo, hi)`` → the first ``(begin, end)`` item of a tag_idx
    posting list, in dict order, with ``lo < begin < hi`` and ``begin <
    end``, or None.  Two bisects by begin, then a sparse-table range
    minimum over dict positions (case-merged lists are sorted by end)."""
    items = list(posting.items())
    cand = sorted((b, k) for k, (b, e) in enumerate(items) if b < e)
    starts = [b for b, _ in cand]
    table = [[k for _, k in cand]]
    w = 1
    while 2 * w <= len(cand):
        prev = table[-1]
        table.append([min(prev[i], prev[i + w]) for i in range(len(prev) - w)])
        w *= 2

    def lookup(lo: int, hi: int):
        i, j = bisect_right(starts, lo), bisect_left(starts, hi)
        if i >= j:
            return None
        lvl = (j - i).bit_length() - 1
        row = table[lvl]
        return items[min(row[i], row[j - (1 << lvl)])]

    return lookup


def parse_sitemap_media(xml) -> List[SitemapMedia]:
    """Google image/video sitemap extensions: [SitemapMedia(ord, kind,
    loc, title)] per ``<url>`` entry of a urlset — the discovery channel
    an image-text corpus crawls (pages' media inventories are declared
    here, not in the page markup).

    Namespaced tags (``image:image`` etc.) keep their full name in the
    engine's tag index but are not addressable through the CSS selector
    grammar (``:`` starts a pseudo), so this walk reads ``tag_idx``
    directly and associates media containers to their owning <url> by
    interval containment — the same positional model as everything else.
    The owner is the first ``<url>`` in begin order that contains the
    container; loc/title is the first tag of that name, in tag_idx
    order, inside it.  Both are bisects, so the walk is O(n log n).
    Fault-tolerant: non-sitemap input returns []."""
    doc = _doc(xml)
    if doc is None or not doc.find("urlset"):
        return []
    urls = doc.find("url")
    if not urls:
        return []
    idx = doc.index
    url_iv = sorted(urls.ids.items())  # [(b, e)] per entry, doc order
    url_starts = [b for b, _ in url_iv]
    # max end of entries 0..i: its first value > b is the first entry
    # whose end passes b
    reach = list(accumulate((e for _, e in url_iv), max))

    def _text(hit) -> Optional[str]:
        if hit is None:
            return None
        t = idx.html[hit[0] + 1 : hit[1]].decode("utf-8", "replace")
        if "&" in t:
            t = _htmlmod.unescape(t)
        t = " ".join(t.split())
        return t or None

    out: List[SitemapMedia] = []
    for kind, (container, loc_tag, title_tag) in _MEDIA_TAGS.items():
        loc_in = _first_inside(idx.tag_idx.get(loc_tag) or {})
        title_in = _first_inside(idx.tag_idx.get(title_tag) or {})
        for b, e in (idx.tag_idx.get(container) or {}).items():
            if b >= e:
                continue
            ordi = bisect_right(reach, b)
            if ordi >= bisect_left(url_starts, b):
                continue  # no entry both starts before and ends after b
            loc, title = _text(loc_in(b, e)), _text(title_in(b, e))
            out.append(SitemapMedia(ordi, kind, loc, title))
    out.sort(key=lambda m: (m.ord, m.kind, m.loc or ""))
    return out


def sitemap_media_df(df, xml_col: str = "xml", id_col: str = "doc_id"):
    """One row per declared media resource: (id, ord, kind, loc,
    title) — Arrow-batched mapInPandas, parse cost ∝ sitemap documents,
    zero shuffles."""
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
            StructField("ord", IntegerType()),
            StructField("kind", StringType()),
            StructField("loc", StringType()),
            StructField("title", StringType()),
        ]
    )
    return map_rows(
        df.select(id_col, xml_col),
        schema,
        lambda i, x: [(i, *m) for m in parse_sitemap_media(x)],
    )
