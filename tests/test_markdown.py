"""Markdown renderer: deterministic rendering rules over the tag index."""

from hquery_php_spark.operators.markdown import render_markdown


def test_headings_and_paragraphs():
    md = render_markdown(
        "<h1>Title</h1><p>one</p><h2>Sub</h2><p>two</p>"
    )
    assert md == "# Title\n\none\n\n## Sub\n\ntwo"


def test_inline_marks_links_images():
    md = render_markdown(
        '<p>a <strong>b</strong> <em>c</em> <code>d()</code> '
        '<a href="/x">lnk</a> <img src="/i.png" alt="pic"></p>',
        "https://ex.com/base/",
    )
    assert md == (
        "a **b** *c* `d()` [lnk](https://ex.com/x) "
        "![pic](https://ex.com/i.png)"
    )


def test_b_i_aliases_and_empty_emphasis():
    assert render_markdown("<p><b>x</b><i>y</i></p>") == "**x***y*"
    assert render_markdown("<p>a<b>  </b>b</p>") == "a b"


def test_nested_lists_ordered_and_unordered():
    md = render_markdown(
        "<ul><li>one</li><li>two<ul><li>sub</li></ul></li></ul>"
        "<ol><li>first</li><li>second</li></ol>"
    )
    assert md == (
        "- one\n- two\n  - sub\n\n1. first\n2. second"
    )


def test_blockquote_prefixes_every_line():
    md = render_markdown("<blockquote><p>a</p><p>b</p></blockquote>")
    assert md == "> a\n>\n> b"


def test_pre_code_fence_not_collapsed():
    md = render_markdown("<pre><code>x = 1\n  y = 2</code></pre>")
    assert md == "```\nx = 1\n  y = 2\n```"
    # bare pre without code wrapper
    assert render_markdown("<pre>a  b</pre>") == "```\na  b\n```"


def test_table_pipe_rendering():
    md = render_markdown(
        "<table><tr><th>k</th><th>v</th></tr>"
        "<tr><td>id</td><td>4|2</td></tr></table>"
    )
    assert md == "| k | v |\n| --- | --- |\n| id | 4\\|2 |"


def test_br_and_hr():
    assert render_markdown("<p>a<br>b</p>") == "a\nb"
    assert render_markdown("<p>a</p><hr><p>b</p>") == "a\n\n---\n\nb"


def test_head_script_style_skipped():
    md = render_markdown(
        "<html><head><title>T</title><style>p{}</style>"
        "<script>var x;</script></head><body><p>only</p></body></html>"
    )
    assert md == "only"


def test_bare_text_in_container_becomes_paragraph():
    md = render_markdown("<div>bare<p>para</p>tail</div>")
    assert md == "bare\n\npara\n\ntail"


def test_entities_decoded():
    assert render_markdown("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>"


def test_base_href_absolutization():
    md = render_markdown(
        '<head><base href="https://cdn.ex.com/root/"></head>'
        '<p><a href="f.html">f</a></p>'
    )
    assert md == "[f](https://cdn.ex.com/root/f.html)"


def test_unclosed_soup_never_raises():
    for soup in (
        "<p>broken <b>soup",
        "<ul><li>a<li>b",
        "<table><tr><td>x",
        "<blockquote>q",
        "\x00\xff<div<<>p",
        "",
    ):
        render_markdown(soup)  # must not raise


def test_unclosed_li_html5_style():
    md = render_markdown("<ul><li>a</li><li>b</li></ul>")
    assert md == "- a\n- b"


def test_unclosed_li_content_positional():
    # unclosed <li> (legal HTML5) owns the following sibling text run —
    # the content must not be silently dropped
    assert render_markdown("<ul><li>a<li>b</ul>") == "- a\n- b"
    assert render_markdown("<ol><li>one<li>two</ol>") == "1. one\n2. two"
    # inline marks inside an unclosed item survive
    assert render_markdown("<ul><li><b>x</b> y<li>z</ul>") == "- **x** y\n- z"
    # nested list after an unclosed li nests under it
    assert (
        render_markdown("<ol><li>one<li>two<ul><li>sub</ul><li>three</ol>")
        == "1. one\n2. two\n  - sub\n3. three"
    )


def test_unclosed_table_cells_positional():
    # unclosed <td>/<tr> (legal HTML5) — cells get their text via the
    # same positional association the grid resolver uses
    assert (
        render_markdown("<table><tr><td>a<td>b<tr><td>c</table>")
        == "| a | b |\n| --- | --- |\n| c |  |"
    )
    # closed tr, unclosed cells inside it
    assert (
        render_markdown("<table><tr><td>a<td>b</tr></table>")
        == "| a | b |\n| --- | --- |"
    )
    # thead/tbody sections with unclosed rows/cells
    assert (
        render_markdown(
            "<table><thead><tr><th>H1<th>H2</thead>"
            "<tbody><tr><td>1<td>2</tbody></table>"
        )
        == "| H1 | H2 |\n| --- | --- |\n| 1 | 2 |"
    )
    # agrees with the tables.py grid on the same soup
    from hquery_php_spark.operators.tables import html_tables

    cells = html_tables("<table><tr><td>a<td>b<tr><td>c</table>")
    assert [c.text for c in cells] == ["a", "b", "c"]


def test_anchor_without_href_is_transparent():
    assert render_markdown("<p><a>just text</a></p>") == "just text"


def test_comment_between_blocks_invisible():
    assert render_markdown("<p>a</p><!-- hidden --><p>b</p>") == "a\n\nb"


def test_markdown_df_roundtrip(tmp_path):
    import pytest

    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from hquery_php_spark.operators.markdown import markdown_df

    df = spark.createDataFrame(
        [(1, "<h1>T</h1><p>body</p>"), (2, "<p>x</p>")],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r for r in markdown_df(df).collect()}
    assert rows[1]["markdown"] == "# T\n\nbody"
    assert rows[1]["n_blocks"] == 2
    assert rows[2]["markdown"] == "x"
    assert rows[2]["n_chars"] == 1


def test_link_style_text_drops_urls():
    html = (
        '<p>See <a href="/x">the docs</a> and '
        '<img src="/i.png" alt="a chart"> now.</p>'
    )
    md = render_markdown(html, "https://e.com/", link_style="text")
    assert md == "See the docs and a chart now."
    # anchor with no text contributes nothing but its spacing
    assert (
        render_markdown('<p>a <a href="/x"></a>b</p>', link_style="text")
        == "a b"
    )


def test_markdown_df_mega_doc_among_small(tmp_path):
    """A multi-MB document in the same batch as KB docs must not wedge
    the Arrow batch path (the mega-doc skew case the extract leg
    isolates with split-tail repartition)."""
    import gzip
    import os

    import pytest

    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from test_stress_parity import GRANITO

    from hquery_php_spark.sources import big_synthetic

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from hquery_php_spark.operators.markdown import markdown_df

    # the reference's real 3.1MB page where it is present, else the
    # in-repo port of its big_synthetic.html.sh generator (2.7MB)
    if os.path.exists(GRANITO):
        mega = gzip.open(GRANITO, "rb").read().decode("windows-1251", "replace")
    else:
        mega = big_synthetic()
    assert len(mega) > 2_000_000  # the case stays multi-MB
    rows = [(0, mega)] + [(i, f"<h1>d{i}</h1><p>body {i}</p>") for i in range(1, 30)]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r for r in markdown_df(df).collect()}
    assert len(got) == 30
    assert got[0]["n_chars"] > 100_000  # the mega render is real
    assert got[5]["markdown"] == "# d5\n\nbody 5"


def test_extract_all_single_parse_surfaces():
    from hquery_php_spark.operators.extract_all import extract_all

    h = (
        '<html><head><title>T</title>'
        '<link rel="canonical" href="https://e.com/c"></head>'
        "<body><h1>H</h1><p>body <a href='/x'>lnk</a></p>"
        "<table><tr><td>v</td></tr></table></body></html>"
    )
    r = extract_all(h, "https://e.com/")
    assert r["title"] == "T"
    assert r["canonical"] == "https://e.com/c"
    assert r["markdown"].startswith("# H")
    assert r["n_sections"] == 1 and r["sec1_path"] == "H"
    assert r["n_cells"] == 1
    assert "body" in r["main_text"]
    kinds = [s.kind for s in r["spans"]]
    assert "media" in kinds and "text" in kinds
    # every surface agrees with its standalone operator
    from hquery_php_spark.core.extract import extract_spans
    from hquery_php_spark.operators.markdown import render_markdown
    import hquery_php_spark as hq

    doc = hq.HDoc(h.encode(), "https://e.com/")
    assert r["spans"] == extract_spans(doc)
    assert r["markdown"] == render_markdown(hq.HDoc(h.encode(), "https://e.com/"))


def test_extract_all_df_roundtrip():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from hquery_php_spark.operators.extract_all import extract_all_df

    df = spark.createDataFrame(
        [(1, "<h1>A</h1><p>x</p>"), (2, "<p>y <b>z</b></p>")],
        "doc_id long, html string",
    )
    rows = {r["doc_id"]: r for r in extract_all_df(df).collect()}
    assert rows[1]["markdown"] == "# A\n\nx"
    assert rows[1]["n_sections"] == 1
    assert rows[2]["markdown"] == "y **z**"
    assert [s["kind"] for s in rows[2]["spans"]] == ["text", "text"]
    assert [s["text"] for s in rows[2]["spans"]] == ["y", "z"]


def test_extract_all_df_null_html():
    # a NULL html row must yield an empty row, not kill the stage
    # (every sibling operator — markdown_df, html_tables_df, ... —
    # tolerates NULL input; extract_all_df must too)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from hquery_php_spark.operators.extract_all import extract_all_df

    df = spark.createDataFrame(
        [(1, "<p>ok</p>"), (2, None)], "doc_id long, html string"
    )
    rows = {r["doc_id"]: r for r in extract_all_df(df).collect()}
    assert rows[1]["markdown"] == "ok"
    assert rows[2]["spans"] == []
    assert rows[2]["main_text"] is None
    assert rows[2]["markdown"] is None
    assert rows[2]["n_sections"] == 0 and rows[2]["n_cells"] == 0
    assert rows[2]["n_meta"] == 0 and rows[2]["title"] is None
