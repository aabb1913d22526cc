"""RSS/Atom/sitemap parsing + robots.txt rules and the scale filter."""

import pytest

from hquery_php_spark.operators.feeds import parse_feed, parse_sitemap
from hquery_php_spark.operators.robots import (
    is_allowed,
    parse_robots,
)

RSS = """<?xml version="1.0"?><rss version="2.0"><channel>
<title>My Feed</title><link>https://ex.com/</link>
<item><title>Post 1</title><link>https://ex.com/1</link><guid>g1</guid>
<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>
<description>first &amp; best</description></item>
<item><title>Post 2</title><link>https://ex.com/2</link></item>
</channel></rss>"""

ATOM = """<feed xmlns="http://www.w3.org/2005/Atom"><title>A Feed</title>
<entry><title>E1</title><link href="https://ex.com/e1"/><id>i1</id>
<updated>2024-01-01T00:00:00Z</updated><summary>s1</summary></entry>
<entry><title>E2</title><link href="https://ex.com/e2"/></entry>
</feed>"""


def test_rss_parse():
    kind, title, entries = parse_feed(RSS)
    assert (kind, title) == ("rss", "My Feed")
    assert [e.title for e in entries] == ["Post 1", "Post 2"]
    assert entries[0].entry_id == "g1"
    assert entries[0].updated == "Mon, 01 Jan 2024 00:00:00 GMT"
    assert entries[0].summary == "first & best"  # entity decoded
    assert entries[1].entry_id is None


def test_atom_parse():
    kind, title, entries = parse_feed(ATOM)
    assert (kind, title) == ("atom", "A Feed")
    assert [e.link for e in entries] == ["https://ex.com/e1", "https://ex.com/e2"]
    assert entries[0].updated == "2024-01-01T00:00:00Z"


def test_feed_nonfeed_and_soup():
    assert parse_feed("<html><body>x</body></html>") == (None, None, [])
    assert parse_feed(b"\x00\xffjunk<item>")[0] is None
    assert parse_feed(None) == (None, None, [])


def test_sitemap_urlset():
    kind, entries = parse_sitemap(
        "<urlset><url><loc>https://e/a</loc><lastmod>2024-01-01</lastmod>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url>"
        "<url><loc>https://e/b</loc></url></urlset>"
    )
    assert kind == "urlset"
    assert [e.loc for e in entries] == ["https://e/a", "https://e/b"]
    assert entries[0].priority == "0.8"
    assert entries[1].lastmod is None


def test_sitemap_index():
    kind, entries = parse_sitemap(
        "<sitemapindex><sitemap><loc>https://e/s1.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    assert kind == "sitemapindex"
    assert entries[0].loc == "https://e/s1.xml"


# ----------------------------------------------------------------- #


def test_robots_group_selection_longest_agent_match():
    rb = parse_robots(
        "User-agent: googlebot-images\nDisallow: /a/\n\n"
        "User-agent: googlebot\nDisallow: /b/\n\n"
        "User-agent: *\nDisallow: /c/\n"
    )
    assert not is_allowed(rb.rules_for("Googlebot-Images/1.0"), "/a/x")
    assert is_allowed(rb.rules_for("Googlebot-Images/1.0"), "/b/x")
    assert not is_allowed(rb.rules_for("googlebot"), "/b/x")
    assert not is_allowed(rb.rules_for("otherbot"), "/c/x")
    assert is_allowed(rb.rules_for("otherbot"), "/a/x")


def test_robots_longest_match_wins_tie_allows():
    rb = parse_robots("User-agent: *\nDisallow: /p/\nAllow: /p/ok\n")
    r = rb.rules_for("*")
    assert not is_allowed(r, "/p/x")
    assert is_allowed(r, "/p/ok.html")
    # equal length: Allow wins
    rb2 = parse_robots("User-agent: *\nDisallow: /pp\nAllow: /pp\n")
    assert is_allowed(rb2.rules_for("*"), "/pp/x")


def test_robots_wildcard_and_anchor():
    rb = parse_robots(
        "User-agent: *\nDisallow: /*.pdf$\nDisallow: /t/*/x\n"
    )
    r = rb.rules_for("*")
    assert not is_allowed(r, "/doc.pdf")
    assert is_allowed(r, "/doc.pdfx")
    assert not is_allowed(r, "/t/abc/x")
    assert is_allowed(r, "/t/abc/y")


def test_robots_empty_disallow_allows_everything():
    rb = parse_robots("User-agent: *\nDisallow:\n")
    assert rb.rules_for("*") == ()


def test_robots_consecutive_agents_share_group():
    rb = parse_robots("User-agent: a\nUser-agent: b\nDisallow: /x/\n")
    assert not is_allowed(rb.rules_for("a"), "/x/1")
    assert not is_allowed(rb.rules_for("b"), "/x/1")


def test_robots_multiple_matching_groups_merge():
    # RFC 9309 §2.2.1: rules from all groups matching the same agent
    # token combine — a concatenated robots.txt with two '*' blocks
    # must not under-block
    rb = parse_robots(
        "User-agent: *\nDisallow: /a/\n\n"
        "User-agent: *\nDisallow: /b/\n"
    )
    assert not is_allowed(rb.rules_for("anybot"), "/a/x")
    assert not is_allowed(rb.rules_for("anybot"), "/b/x")
    # a more specific group still beats the merged '*' groups
    rb2 = parse_robots(
        "User-agent: *\nDisallow: /a/\n\n"
        "User-agent: special\nDisallow: /s/\n\n"
        "User-agent: *\nDisallow: /b/\n"
    )
    r = rb2.rules_for("SpecialBot/2.0")
    assert not is_allowed(r, "/s/x")
    assert is_allowed(r, "/a/x") and is_allowed(r, "/b/x")
    # two groups for the same named token also merge
    rb3 = parse_robots(
        "User-agent: foo\nDisallow: /p/\n\n"
        "User-agent: foo\nDisallow: /q/\n"
    )
    r3 = rb3.rules_for("foo")
    assert not is_allowed(r3, "/p/x") and not is_allowed(r3, "/q/x")


def test_robots_sitemap_and_delay():
    rb = parse_robots(
        "User-agent: slowbot\nCrawl-delay: 2.5\nDisallow: /\n"
        "Sitemap: https://ex.com/sm.xml\n"
    )
    assert rb.sitemaps == ("https://ex.com/sm.xml",)
    assert rb.delay_for("slowbot/1.2") == 2.5
    assert rb.delay_for("fastbot") is None
    # two groups for the same token: the conservative (max) delay wins
    rb2 = parse_robots(
        "User-agent: *\nCrawl-delay: 1\n\nUser-agent: *\nCrawl-delay: 4\n"
    )
    assert rb2.delay_for("anybot") == 4.0


def test_robots_soup_never_raises():
    for t in (None, b"\xff\x00", "::::\n#", "Disallow: /early/\n"):
        parse_robots(t)
    # rules before any User-agent line land in an implicit '*' group
    rb = parse_robots("Disallow: /early/\n")
    assert not is_allowed(rb.rules_for("any"), "/early/x")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def test_filter_allowed_matches_python_reference(spark):
    from hquery_php_spark.operators.robots import (
        filter_allowed,
        robots_rules_df,
    )

    txt = (
        "User-agent: *\nDisallow: /private/\nAllow: /private/ok.html\n"
        "Disallow: /tmp/*\nAllow: /tmp/keep$\n"
    )
    robots = spark.createDataFrame(
        [("a.com", txt), ("b.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    )
    paths = [
        "/private/x", "/private/ok.html", "/tmp/keep", "/tmp/keepx",
        "/pub", "/", "",
    ]
    urls = spark.createDataFrame(
        [("a.com", f"https://a.com{p}") for p in paths]
        + [("b.com", "https://b.com/x"), ("c.com", "https://c.com/y")],
        "host string, url string",
    )
    out = {
        r["url"]: r["allowed"]
        for r in filter_allowed(
            urls, robots_rules_df(robots), keep_denied=True
        ).collect()
    }
    rb = parse_robots(txt).rules_for("*")
    for p in paths:
        assert out[f"https://a.com{p}"] == is_allowed(rb, p or "/"), p
    assert out["https://b.com/x"] is False
    assert out["https://c.com/y"] is True  # no robots row -> allowed


def test_feed_entries_df(spark):
    from hquery_php_spark.operators.feeds import feed_entries_df

    df = spark.createDataFrame(
        [(1, RSS), (2, ATOM), (3, "<p>not a feed</p>")],
        "doc_id long, xml string",
    )
    rows = feed_entries_df(df).orderBy("doc_id", "ord").collect()
    assert [(r["doc_id"], r["kind"], r["ord"], r["title"]) for r in rows] == [
        (1, "rss", 0, "Post 1"),
        (1, "rss", 1, "Post 2"),
        (2, "atom", 0, "E1"),
        (2, "atom", 1, "E2"),
    ]
    # guid/id survive the Arrow path as entry_id; an entry without one
    # still carries its link (the key a discovery ledger falls back to)
    assert [(r["entry_id"], r["link"]) for r in rows] == [
        ("g1", "https://ex.com/1"),
        (None, "https://ex.com/2"),
        ("i1", "https://ex.com/e1"),
        (None, "https://ex.com/e2"),
    ]


def test_sitemap_entries_df(spark):
    from hquery_php_spark.operators.feeds import sitemap_entries_df

    df = spark.createDataFrame(
        [(1, "<urlset><url><loc>https://e/a</loc></url></urlset>")],
        "doc_id long, xml string",
    )
    rows = sitemap_entries_df(df).collect()
    assert [(r["kind"], r["loc"]) for r in rows] == [("urlset", "https://e/a")]


def test_robots_rules_df_surfaces_sitemaps(spark):
    from hquery_php_spark.operators.robots import robots_rules_df

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x/\n"
          "Sitemap: https://a.com/sm1.xml\nSitemap: https://a.com/sm2.xml\n"),
         ("b.com", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string",
    )
    rows = {r["host"]: r for r in robots_rules_df(robots).collect()}
    assert rows["a.com"]["sitemaps"] == [
        "https://a.com/sm1.xml", "https://a.com/sm2.xml"
    ]
    assert rows["b.com"]["sitemaps"] == []


def test_parse_sitemap_media_extensions():
    from hquery_php_spark.operators.feeds import parse_sitemap_media

    x = (
        '<?xml version="1.0"?><urlset><url><loc>https://ex.com/p1</loc>'
        "<image:image><image:loc>https://ex.com/i1.jpg</image:loc>"
        "<image:title>T &amp; 1</image:title></image:image>"
        "<image:image><image:loc>https://ex.com/i2.jpg</image:loc>"
        "</image:image>"
        "<video:video><video:content_loc>https://ex.com/v.mp4"
        "</video:content_loc><video:title>V</video:title></video:video>"
        "</url><url><loc>https://ex.com/p2</loc>"
        "<image:image><image:loc>https://ex.com/i3.jpg</image:loc>"
        "</image:image></url></urlset>"
    )
    got = parse_sitemap_media(x)
    assert [(m.ord, m.kind, m.loc, m.title) for m in got] == [
        (0, "image", "https://ex.com/i1.jpg", "T & 1"),
        (0, "image", "https://ex.com/i2.jpg", None),
        (0, "video", "https://ex.com/v.mp4", "V"),
        (1, "image", "https://ex.com/i3.jpg", None),
    ]
    # media tags never leak into the plain entry parse
    from hquery_php_spark.operators.feeds import parse_sitemap

    kind, entries = parse_sitemap(x)
    assert kind == "urlset"
    assert [e.loc for e in entries] == [
        "https://ex.com/p1",
        "https://ex.com/p2",
    ]
    # non-sitemaps and soup: empty, never raises
    assert parse_sitemap_media("<p>nope</p>") == []
    assert parse_sitemap_media(None) == []
    assert parse_sitemap_media("<urlset><url><image:image>") == []


def _sitemap_media_oracle(xml):
    """The original quadratic walk of parse_sitemap_media: a linear scan
    of the <url> intervals per container and of the tag's whole posting
    list per loc/title lookup.  Kept as the value oracle."""
    import html as _htmlmod

    from hquery_php_spark.core.doc import HDoc
    from hquery_php_spark.operators.feeds import _MEDIA_TAGS, SitemapMedia

    doc = HDoc(xml.encode())
    if not doc.find("urlset"):
        return []
    urls = doc.find("url")
    if not urls:
        return []
    idx = doc.index
    url_iv = sorted(urls.ids.items())

    def _tag_text(lo, hi, name):
        for cb, ce in (idx.tag_idx.get(name) or {}).items():
            if lo < cb < hi and cb < ce:
                t = idx.html[cb + 1 : ce].decode("utf-8", "replace")
                if "&" in t:
                    t = _htmlmod.unescape(t)
                t = " ".join(t.split())
                return t or None
        return None

    out = []
    for kind, (container, loc_tag, title_tag) in _MEDIA_TAGS.items():
        for b, e in (idx.tag_idx.get(container) or {}).items():
            if b >= e:
                continue
            ordi = None
            for i, (ub, ue) in enumerate(url_iv):
                if ub < b < ue:
                    ordi = i
                    break
            if ordi is None:
                continue
            out.append(SitemapMedia(ordi, kind, _tag_text(b, e, loc_tag),
                                    _tag_text(b, e, title_tag)))
    out.sort(key=lambda m: (m.ord, m.kind, m.loc or ""))
    return out


def _fuzz_sitemap(rng):
    """Random urlset soup: nested and unclosed <url>, mixed-case and
    nested media tags, empty and entity-laden text, media outside any
    entry."""
    def case(name):
        if rng.random() < 0.6:
            return name
        return "".join(c.upper() if rng.random() < 0.5 else c for c in name)

    def text():
        return rng.choice(["", " ", "a &amp; b", "x", "  y  z "]) + str(rng.randrange(50))

    def media(depth):
        kind = rng.choice(["image", "video"])
        cont = f"{kind}:{kind}"
        loc = "image:loc" if kind == "image" else "video:content_loc"
        parts = [f"<{case(cont)}>"]
        for _ in range(rng.randrange(4)):
            tag = rng.choice([loc, f"{kind}:title", loc])
            if rng.random() < 0.25:  # nested chain: merged cases sort by end
                names = [tag] + [case(tag) for _ in range(rng.randrange(1, 4))]
                parts.append("".join(f"<{t}>{text()}" for t in names))
                parts.append("".join(f"</{t}>" for t in reversed(names)))
                continue
            parts.append(f"<{case(tag)}>{text()}")
            if rng.random() < 0.85:
                parts.append(f"</{case(tag)}>")
        if depth < 2 and rng.random() < 0.2:
            parts.append(media(depth + 1))
        if rng.random() < 0.9:
            parts.append(f"</{case(cont)}>")
        return "".join(parts)

    def entry(depth):
        parts = [f"<{case('url')}><loc>https://ex.com/{rng.randrange(99)}</loc>"]
        for _ in range(rng.randrange(4)):
            r = rng.random()
            if r < 0.6:
                parts.append(media(0))
            elif r < 0.75 and depth < 2:
                parts.append(entry(depth + 1))
            else:
                parts.append(f"<p>{text()}</p>")
        if rng.random() < 0.85:
            parts.append(f"</{case('url')}>")
        return "".join(parts)

    body = []
    for _ in range(rng.randrange(1, 8)):
        body.append(entry(0) if rng.random() < 0.85 else media(0))
    tail = "</urlset>" if rng.random() < 0.8 else ""
    return '<?xml version="1.0"?><urlset>' + "".join(body) + tail


def test_parse_sitemap_media_matches_linear_scan_oracle():
    import random

    from hquery_php_spark.operators.feeds import parse_sitemap_media

    rng = random.Random(7)
    n_media = 0
    for _ in range(400):
        x = _fuzz_sitemap(rng)
        want = _sitemap_media_oracle(x)
        assert parse_sitemap_media(x) == want, x
        n_media += len(want)
    assert n_media > 400  # the fuzz really exercises the media walk
