"""Deterministic HTML synthesis from the driver's ``documents`` table.

The driver's testdata ``documents`` table is plain text (doc_id, text,
lang, source, n_chars).  To exercise the HTML engine end-to-end *with a
DuckDB-checkable oracle*, we render each row into HTML with a fixed,
byte-deterministic template.  Because the template is pure string
concatenation, the expected extraction output — span texts, resolved
media refs, and even byte offsets — is expressible in ANSI SQL as
length arithmetic over the same columns.  The Spark side runs the real
tokenizer/extractor on the rendered HTML; the oracle recomputes the
expected spans symbolically; the driver hash-compares them.

Template (single line; ASCII; text is whitespace-normalized first):

  <html><head><meta charset="utf-8"><title>Doc {id}</title></head>
  <body><div id="main" class="content"><p>{text}</p>
  <a href="/docs/{id}.html" class="next">Next {id}</a>
  <img src="//cdn.example.com/{source}/{id}.png"/></div>
  <script>var a=1;</script></body></html>

Expected spans per doc (kind, text, media_ref, offset), with
L = length(id), T = length(text), S = length(source):

  ord 0: text  'Doc {id}'                          offset 41
  ord 1: text  {text}                              offset 100 + L
  ord 2: media 'Next {id}' → https://example.com/docs/{id}.html
                                                   offset 138 + 2L + T
  ord 3: media ''          → https://cdn.example.com/{source}/{id}.png
                                                   offset 183 + 4L + T + S
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "BASE_URL",
    "synth_html_col",
    "norm_text_sql",
    "expected_spans_sql",
]

BASE_URL = "https://example.com/index.html"

_PRE_TITLE = '<html><head><meta charset="utf-8"><title>'  # len 42, text at 41+? see below
_POST_TITLE = '</title></head><body><div id="main" class="content"><p>'
_POST_TEXT = '</p><a href="/docs/'
_MID_A = '.html" class="next">Next '
_POST_A = '</a><img src="//cdn.example.com/'
_POST_IMG = '.png"/></div><script>var a=1;</script></body></html>'


def _norm_text(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def synth_html_col(doc_id: Column, text: Column, source: Column) -> Column:
    """Spark Column: the rendered HTML for one row."""
    sid = doc_id.cast("string")
    return F.concat(
        F.lit(_PRE_TITLE),
        F.lit("Doc "),
        sid,
        F.lit(_POST_TITLE),
        _norm_text(text),
        F.lit(_POST_TEXT),
        sid,
        F.lit(_MID_A),
        sid,
        F.lit(_POST_A),
        source,
        F.lit("/"),
        sid,
        F.lit(_POST_IMG),
    )


def norm_text_sql(col: str = "text") -> str:
    return f"trim(regexp_replace({col}, '\\s+', ' ', 'g'), ' ')"


def expected_spans_sql(table: str = "documents") -> str:
    """DuckDB SQL producing the expected (doc_id, ord, kind, text,
    media_ref, offset) rows — the symbolic inverse of the template."""
    norm = norm_text_sql("text")
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(doc_id AS VARCHAR) AS sid,
         {norm} AS norm,
         source
  FROM {table}
),
m AS (
  SELECT doc_id, sid, norm, source,
         LENGTH(sid) AS L, LENGTH(norm) AS T, LENGTH(source) AS S
  FROM base
)
SELECT doc_id, 0 AS ord, 'text' AS kind, 'Doc ' || sid AS text,
       CAST(NULL AS VARCHAR) AS media_ref, CAST(41 AS INT) AS "offset" FROM m
UNION ALL
SELECT doc_id, 1, 'text', norm, NULL, CAST(100 + L AS INT) FROM m
UNION ALL
SELECT doc_id, 2, 'media', 'Next ' || sid,
       'https://example.com/docs/' || sid || '.html', CAST(138 + 2*L + T AS INT) FROM m
UNION ALL
SELECT doc_id, 3, 'media', '',
       'https://cdn.example.com/' || source || '/' || sid || '.png',
       CAST(183 + 4*L + T + S AS INT) FROM m
"""


# --------------------------------------------------------------------- #
# Boilerplate-strip template: nav + footer chrome around the main text.
# With ExtractOptions(skip_inside=('head','nav','footer')) and img-only
# media, the expected output is exactly ONE text span per document — the
# main text — at a length-arithmetic offset.

_B_PRE = '<html><head><title>Doc '
_B_MID = (
    '</title></head><body>'
    '<nav><a href="/">Home</a> <a href="/about.html">About</a></nav>'
    '<div id="main"><p>'
)
_B_POST = (
    '</p></div>'
    '<footer><a href="/privacy.html">Privacy</a> (c) 2026 Example</footer>'
    '</body></html>'
)

# main-text offset = |_B_PRE| + L + |_B_MID| + |'<p>' is inside _B_MID|
_B_TEXT_OFFSET_CONST = len(_B_PRE) + len(_B_MID)


def synth_boiler_html_col(doc_id: Column, text: Column) -> Column:
    """Boilerplate-heavy page: title + nav + main + footer."""
    sid = doc_id.cast("string")
    return F.concat(
        F.lit(_B_PRE), sid, F.lit(_B_MID), _norm_text(text), F.lit(_B_POST)
    )


def expected_main_text_sql(table: str = "documents") -> str:
    """DuckDB oracle for the boilerplate-strip query: one row per doc —
    (doc_id, kind='text', main text, offset)."""
    norm = norm_text_sql("text")
    return f"""
SELECT doc_id,
       'text' AS kind,
       {norm} AS text,
       CAST({_B_TEXT_OFFSET_CONST} + LENGTH(CAST(doc_id AS VARCHAR)) AS INT) AS "offset"
FROM {table}
"""


# --------------------------------------------------------------------- #
# Structured-extraction template: a <dl> plus a <pre> of key: value lines
# (drives dl() — Node.php:353-420 — and text2dl — Node.php:1254-1302).

_D_PRE = "<html><body><dl><dt>source</dt><dd>"
_D_MID1 = "</dd><dt>lang</dt><dd>"
_D_MID2 = "</dd></dl><pre>source: "
_D_MID3 = "\nlang: "
_D_POST = "</pre></body></html>"


def synth_dl_html_col(source: Column, lang: Column) -> Column:
    return F.concat(
        F.lit(_D_PRE), source, F.lit(_D_MID1), lang,
        F.lit(_D_MID2), source, F.lit(_D_MID3), lang, F.lit(_D_POST),
    )
