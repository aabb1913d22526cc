"""Distributed BPE tokenizer training and encoding.

A training-data pipeline does not just COUNT tokens (functions/text.py's
whitespace + BPE-ish counters) — it trains the tokenizer itself over the
cleaned corpus.  This module is byte-pair-encoding (Sennrich et al. 2016)
re-expressed Spark-first, with the repo's exactness discipline: every
step is integer/string arithmetic that an independently generated DuckDB
CTE chain reproduces bit for bit.

Representation — the wrapped-symbol string
------------------------------------------
A word's current symbol sequence is ONE string, each symbol wrapped in
sentinels::

    "low"  →  ␟l␞␟o␞␟w␞          (␟ = \\x1f, ␞ = \\x1e)

which buys two things:

* **one merge step == one ``replace()``** — replacing
  ``␟A␞␟B␞ → ␟AB␞`` is exactly BPE's greedy leftmost non-overlapping
  merge, because both Spark's and DuckDB's ``replace`` scan left to
  right on the original string and resume AFTER each match (the
  sentinels make adjacent matches share no characters, so ``aaaa`` with
  merge (a,a) becomes ``aa aa``, not ``aa a a``); and
* **the whole training round stays expression-level** — symbol lists
  fall out of one ``regexp_extract_all``, adjacent pairs out of a
  ``transform(sequence(...))`` over that list.  No Python in the loop.

Sentinel safety: ``\\x1f``/``\\x1e`` are stripped from the input text by
``word_freqs`` (and by the SQL twin with the same ``translate``), so no
symbol can ever contain a sentinel and cross-boundary false matches are
impossible.

Scale shape (the 100 TB story)
------------------------------
Training never touches the corpus after the first scan: ``word_freqs``
is one map-side-combined shuffle from corpus scale down to VOCAB scale
(distinct words — millions, not trillions), and every merge round runs
on that vocab table: one ``regexp_extract_all`` + explode + partial-agg
shuffle for the pair counts, then an ``orderBy().limit(1)`` argmax whose
single row is the only thing the driver ever collects (parameter-sized,
same pattern as similarity_topk's query vector).  Lineage from the
per-round ``replace`` chain is truncated with ``localCheckpoint`` every
``checkpoint_every`` rounds, the ``connected_components`` discipline.
The value-checked driver row runs the single-merge-per-round recurrence
that the SQL twin replays exactly.

Encoding is embarrassingly parallel either way: the expression path
(``bpe_encode_tokens``) is a chain of K JVM-side ``replace`` calls —
zero shuffle, whole-stage codegen — right for the small-K driver row;
the batch path (``bpe_encode_map``) broadcasts the merge list into an
Arrow-batched ``mapInPandas`` with a per-word memo cache, right for
real vocabularies where a 50k-deep expression tree would not compile.
Both produce identical tokens (pinned in tests/test_bpe.py).

Reference parity note: the reference engine (duzun/hQuery.php) has no
tokenizer trainer — this is part of the beyond-reference LLM-pipeline
surface, same tier as dedup.py / dsir.py.  The per-word pre-tokenization
(lowercase, whitespace split) matches functions/text.py's token_count so
the trained vocabulary agrees with the counted one.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hquery_php_spark.functions.text import SQL as TSQL
from hquery_php_spark.functions.text import norm_ws

__all__ = [
    "SEP1",
    "SEP2",
    "word_freqs",
    "word_freqs_sql",
    "bpe_train",
    "bpe_encode_tokens",
    "bpe_encode_map",
    "bpe_suite_oracle_sql",
]

SEP1 = "\x1f"  # unit separator: symbol start
SEP2 = "\x1e"  # record separator: symbol end

# SQL fragments for the sentinels — chr() calls keep control bytes out
# of the generated SQL text itself.
_S1 = "chr(31)"
_S2 = "chr(30)"


def _strip_sentinels(col: Column) -> Column:
    return F.translate(col, SEP1 + SEP2, "")


def _wrap(col: Column) -> Column:
    """Each UTF-8 code point becomes a wrapped single-char symbol."""
    return F.regexp_replace(col, "(.)", SEP1 + "$1" + SEP2)


def _symbols(col: Column) -> Column:
    """Wrapped string → array of symbol strings."""
    return F.regexp_extract_all(col, F.lit(SEP1 + "([^" + SEP2 + "]*)" + SEP2), 1)


def _merge_pat(lhs: str, rhs: str) -> Tuple[str, str]:
    return (SEP1 + lhs + SEP2 + SEP1 + rhs + SEP2, SEP1 + lhs + rhs + SEP2)


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercased whitespace-normalized text — the BPE
    pre-tokenization, one corpus→vocab shuffle with map-side combine."""
    w = F.explode(
        F.split(_strip_sentinels(F.lower(norm_ws(F.col(text_col)))), " ")
    ).alias("word")
    return (
        df.select(w)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def word_freqs_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB twin of ``word_freqs`` (same normalize/strip/split)."""
    norm = TSQL.norm_ws(f"translate(lower({text_col}), {_S1} || {_S2}, '')")
    return (
        f"SELECT word, CAST(count(*) AS BIGINT) AS freq "
        f"FROM (SELECT unnest(string_split({norm}, ' ')) AS word FROM {table}) "
        f"WHERE word != '' GROUP BY word"
    )


def bpe_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
    checkpoint_every: int = 8,
) -> List[Tuple[int, str, str, str, int]]:
    """Train ``n_merges`` BPE merges over a (word, freq) vocabulary.

    Returns ``[(rank, lhs, rhs, merged, pair_freq), ...]`` — stops early
    if the vocabulary runs out of adjacent pairs (every word reduced to
    one symbol), so callers sizing oracles should keep ``n_merges`` well
    under the corpus's pair budget.

    Determinism: the argmax tie-break is (count DESC, lhs ASC, rhs ASC)
    under binary collation — identical in Spark and DuckDB, so the twin
    reproduces the merge list exactly.
    """
    w = words.select(
        _wrap(F.col(word_col)).alias("enc"),
        F.col(freq_col).cast("long").alias("freq"),
    ).localCheckpoint()

    pair_expr = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(syms[i - 1] AS a, syms[i] AS b))"
    )
    merges: List[Tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        pairs = (
            w.select(_symbols(F.col("enc")).alias("syms"), "freq")
            .where(F.size("syms") > 1)
            .select(F.explode(pair_expr).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        pat, rep = _merge_pat(a, b)
        w = w.withColumn("enc", F.replace("enc", F.lit(pat), F.lit(rep)))
        if (rank + 1) % checkpoint_every == 0:
            w = w.localCheckpoint()
    return merges


def bpe_encode_tokens(
    col: Column, merges: List[Tuple[int, str, str, str, int]]
) -> Column:
    """Expression-path encode: normalized text → BPE token array.

    The whole document is wrapped (spaces included, as ordinary symbols)
    and the K merges are applied as K chained JVM ``replace`` calls in
    rank order; trained symbols never contain spaces, so no merge can
    cross a word boundary and whole-text encode equals per-word encode.
    Space symbols are dropped from the output array.  Zero shuffle;
    right for driver-row K.  Use ``bpe_encode_map`` for real (50k-merge)
    vocabularies.
    """
    enc = _wrap(_strip_sentinels(F.lower(norm_ws(col))))
    for _, lhs, rhs, _, _ in merges:
        pat, rep = _merge_pat(lhs, rhs)
        enc = F.replace(enc, F.lit(pat), F.lit(rep))
    return F.array_remove(_symbols(enc), " ")


def bpe_encode_map(
    df: DataFrame,
    merges: List[Tuple[int, str, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-path encode: (id, tokens array) via Arrow ``mapInPandas``.

    The merge list rides the UDF closure (broadcast by Spark with the
    task binary); each merge is applied per word as the two-pointer
    greedy-leftmost scan — by construction the same result as the
    ``replace`` chain — with a per-word memo cache so repeated words
    (the Zipf bulk of any corpus) encode once per batch.  Pinned equal
    to ``bpe_encode_tokens`` in tests/test_bpe.py.
    """
    import re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from ..batch import map_rows

    pairs = [(m[1], m[2]) for m in merges]
    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    out_schema = StructType(
        [
            StructField("id", StringType()),
            StructField("tokens", ArrayType(StringType())),
        ]
    )

    def encode_word(word: str, cache: dict) -> List[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms: List[str] = list(word)
        for a, b in pairs:
            if len(syms) < 2:
                break
            out: List[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    cache: dict = {}

    def row(did, text):
        text = ws.sub(" ", (text or "")).strip(" ").lower()
        text = text.replace(SEP1, "").replace(SEP2, "")
        toks: List[str] = []
        for word in text.split(" "):
            if word:
                toks.extend(encode_word(word, cache))
        return [(str(did), toks)]

    return map_rows(df.select(id_col, text_col), out_schema, row)


def _pairs_cte(src: str) -> str:
    """Pair counts of a wrapped-vocab CTE ``src`` (enc, freq) — symbol
    list via regexp_extract_all, adjacent pairs via a correlated
    generate_series (the audio-twin pattern), weighted partial agg."""
    return (
        f"SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt "
        f"FROM (SELECT regexp_extract_all(enc, {_S1} || '([^' || {_S2} || ']*)'"
        f" || {_S2}, 1) AS l, freq FROM {src}), "
        f"unnest(generate_series(1, len(l) - 1)) AS t(i) "
        f"GROUP BY l[i], l[i + 1]"
    )


def bpe_suite_oracle_sql(
    n_merges: int,
    table: str = "documents",
    text_col: str = "text",
    top_n: int = 20,
    words_sql: Optional[str] = None,
) -> str:
    """DuckDB twin of train + encode, one generated CTE chain.

    Emits the union the driver row checks: fam='merge' rows
    (rk, k1=lhs, k2=rhs, n=pair_freq) for each trained merge, and
    fam='enc' rows (rk=-1, k1=token, k2='', n=count) for the top
    ``top_n`` encoded-corpus tokens — byte-identical to the Spark side
    because every step is the same replace/extract recurrence.
    """
    wrap = f"regexp_replace(word, '(.)', {_S1} || '\\1' || {_S2}, 'g')"
    norm_doc = TSQL.norm_ws(f"translate(lower({text_col}), {_S1} || {_S2}, '')")
    doc_wrap = f"regexp_replace({norm_doc}, '(.)', {_S1} || '\\1' || {_S2}, 'g')"
    # MATERIALIZED is load-bearing: each w{k}/e{k} is referenced by the
    # NEXT round and (for w) by its pair-count scan, so DuckDB's default
    # CTE inlining would expand the chain to 2^n_merges copies of the
    # vocab scan (observed as an EMFILE storm at n_merges=16).  The
    # materialization is the SQL analogue of the Spark side's
    # localCheckpoint lineage cut.
    ctes = [
        f"wf AS MATERIALIZED ({words_sql or word_freqs_sql(table, text_col)})",
        f"w0 AS MATERIALIZED (SELECT {wrap} AS enc, freq FROM wf)",
        f"e0 AS MATERIALIZED (SELECT {doc_wrap} AS enc FROM {table})",
    ]
    merge_rows = []
    for k in range(n_merges):
        pat = (
            f"{_S1} || b{k}.a || {_S2} || {_S1} || b{k}.b || {_S2}"
        )
        rep_w = f"{_S1} || b{k}.a || b{k}.b || {_S2}"
        ctes.append(
            f"b{k} AS MATERIALIZED (SELECT a, b, cnt "
            f"FROM ({_pairs_cte(f'w{k}')}) ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"w{k + 1} AS MATERIALIZED (SELECT "
            f"replace(w{k}.enc, {pat}, {rep_w}) AS enc, "
            f"freq FROM w{k} CROSS JOIN b{k})"
        )
        ctes.append(
            f"e{k + 1} AS MATERIALIZED (SELECT "
            f"replace(e{k}.enc, {pat}, {rep_w}) AS enc "
            f"FROM e{k} CROSS JOIN b{k})"
        )
        merge_rows.append(
            f"SELECT 'merge' AS fam, CAST({k} AS BIGINT) AS rk, "
            f"a AS k1, b AS k2, cnt AS n FROM b{k}"
        )
    ctes.append(
        f"toks AS (SELECT unnest(regexp_extract_all(enc, {_S1} || '([^' || "
        f"{_S2} || ']*)' || {_S2}, 1)) AS tok FROM e{n_merges})"
    )
    ctes.append(
        f"encv AS (SELECT 'enc' AS fam, CAST(-1 AS BIGINT) AS rk, "
        f"tok AS k1, '' AS k2, CAST(count(*) AS BIGINT) AS n "
        f"FROM toks WHERE tok != ' ' GROUP BY tok "
        f"ORDER BY n DESC, tok LIMIT {top_n})"
    )
    union = " UNION ALL ".join(merge_rows + ["SELECT * FROM encv"])
    return "WITH " + ",\n".join(ctes) + "\n" + union
