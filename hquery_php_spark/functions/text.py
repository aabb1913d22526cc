"""Text-analysis column functions (training-data pipeline ops).

All JVM-side ``pyspark.sql.functions`` expressions — no Python UDFs in
these hot paths.  Each function has a DuckDB-SQL twin (same arithmetic,
not just "similar") so the driver's oracle comparison is exact:

* token counting (whitespace tokenizer)
* language-ID heuristic (stopword-marker counting via length arithmetic —
  deliberately regex-free so both engines compute bit-identical results)
* quality scoring (length / punctuation / stopword / repetition ratios)
* document fingerprinting (md5 of the normalized text)
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "norm_ws",
    "token_count",
    "occurrence_count",
    "lang_id_en",
    "lang_id_multi",
    "quality_score",
    "repetition_stats",
    "word_ngrams",
    "redact_pii",
    "PII_PATTERNS",
    "fingerprint",
    "SQL",
]


# Explicit ASCII whitespace class instead of \s: Java's \s is exactly
# [ \t\n\x0B\f\r] but RE2's (DuckDB) excludes \x0B — a document with a
# vertical tab would otherwise normalize differently in the two engines
# and break every value oracle built on norm_ws (same fix as dedup._WS_CLASS).
_WS = "[ \\t\\n\\x0B\\f\\r]+"


def norm_ws(col: Column) -> Column:
    """Whitespace-normalized text (collapse runs, trim)."""
    return F.trim(F.regexp_replace(col, _WS, " "))


def token_count(col: Column) -> Column:
    # long, matching SQL.token_count's BIGINT length arithmetic — the
    # twin-facing dtype contract (the driver's value hash is dtype-kind
    # sensitive)
    n = norm_ws(col)
    return (
        F.when(F.length(n) == 0, F.lit(0))
        .otherwise(F.size(F.split(n, " ")))
        .cast("long")
    )


def occurrence_count(col: Column, needle: str) -> Column:
    """# occurrences of ``needle`` via length arithmetic (dialect-free)."""
    ln = len(needle)
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(ln)
    ).cast("int")


_EN_MARKERS = (" the ", " and ", " of ", " to ", " is ")


def lang_id_en(col: Column, threshold: int = 1) -> Column:
    """'en' when enough English stopword markers occur, else 'unk'.

    The padded-spaces trick makes boundaries explicit without regex.
    """
    padded = F.concat(F.lit(" "), norm_ws(F.lower(col)), F.lit(" "))
    score = None
    for m in _EN_MARKERS:
        c = occurrence_count(padded, m)
        score = c if score is None else (score + c)
    return F.when(score >= threshold, F.lit("en")).otherwise(F.lit("unk"))


# marker stopwords per language, chosen to be short, frequent, and
# mostly language-distinctive; overlaps (que/con/para across Romance
# languages) are resolved by the deterministic argmax tie-break below.
# Priority order = dict order: on equal scores the EARLIER language
# wins (both engines use the same CASE chain, so ties are stable).
_LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " is ", " that "),
    "de": (" und ", " der ", " nicht ", " das ", " ist "),
    "fr": (" les ", " est ", " dans ", " pour ", " que "),
    "es": (" los ", " las ", " por ", " una ", " para "),
    "it": (" che ", " della ", " per ", " con ", " gli "),
    "pt": (" que ", " uma ", " com ", " para ", " mais "),
}


def lang_id_multi(col: Column, threshold: int = 1) -> Column:
    """n-gram-heuristic language ID over six languages: per-language
    marker-stopword counts (padded-spaces boundary trick, length
    arithmetic — no regex, no UDF), argmax with the deterministic
    priority tie-break of ``_LANG_MARKERS`` order; 'unk' when the best
    score is below ``threshold``.  Zero-shuffle expression — scales as
    a projection at any corpus size."""
    padded = F.concat(F.lit(" "), norm_ws(F.lower(col)), F.lit(" "))
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        s = None
        for m in markers:
            c = occurrence_count(padded, m)
            s = c if s is None else (s + c)
        scores[lang] = s
    best = F.greatest(*scores.values())
    out = F.lit("unk")
    for lang in reversed(list(_LANG_MARKERS)):  # earlier langs win ties
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best >= threshold, out).otherwise(F.lit("unk"))


def quality_score(col: Column) -> Column:
    """Deterministic quality heuristics; returns a struct of ratios.

    round(·, 6) keeps float formatting stable across engines.
    """
    n = norm_ws(col)
    length = F.length(n)
    toks = token_count(col)
    alpha = F.length(F.regexp_replace(n, r"[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(n, r"[^0-9]", ""))
    spaces = F.length(n) - F.length(F.replace(n, F.lit(" "), F.lit("")))
    punct = F.length(
        F.regexp_replace(n, r"[^!-/:-@\[-`{-~]", "")
    )  # ASCII punctuation classes
    padded = F.concat(F.lit(" "), F.lower(n), F.lit(" "))
    stop_hits = None
    for m in _EN_MARKERS:
        c = occurrence_count(padded, m)
        stop_hits = c if stop_hits is None else (stop_hits + c)
    avg_tok = F.when(toks > 0, F.round(length.cast("double") / toks, 6)).otherwise(F.lit(0.0))
    alpha_ratio = F.when(length > 0, F.round(alpha.cast("double") / length, 6)).otherwise(F.lit(0.0))
    digit_ratio = F.when(length > 0, F.round(digits.cast("double") / length, 6)).otherwise(F.lit(0.0))
    punct_ratio = F.when(length > 0, F.round(punct.cast("double") / length, 6)).otherwise(F.lit(0.0))
    stopword_ratio = F.when(toks > 0, F.round(stop_hits.cast("double") / toks, 6)).otherwise(F.lit(0.0))
    return F.struct(
        length.alias("n_chars"),
        toks.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        alpha_ratio.alias("alpha_ratio"),
        digit_ratio.alias("digit_ratio"),
        punct_ratio.alias("punct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        spaces.alias("n_spaces"),
    )


def fingerprint(col: Column) -> Column:
    """Stable document fingerprint: md5 of lowercase normalized text."""
    return F.md5(F.lower(norm_ws(col)))


class SQL:
    """DuckDB twins of the column functions above (exact arithmetic)."""

    @staticmethod
    def norm_ws(col: str) -> str:
        # explicit class, not \s: RE2's \s excludes \x0B, Java's includes it
        return f"trim(regexp_replace({col}, '{_WS}', ' ', 'g'), ' ')"

    @staticmethod
    def token_count(col: str) -> str:
        n = SQL.norm_ws(col)
        return (
            f"CASE WHEN length({n}) = 0 THEN 0 "
            f"ELSE length({n}) - length(replace({n}, ' ', '')) + 1 END"
        )

    @staticmethod
    def occurrence_count(expr: str, needle: str) -> str:
        q = needle.replace("'", "''")
        return (
            f"CAST((length({expr}) - length(replace({expr}, '{q}', '')))"
            f" / {len(needle)} AS INT)"
        )

    @staticmethod
    def lang_id_en(col: str, threshold: int = 1) -> str:
        padded = f"(' ' || {SQL.norm_ws(f'lower({col})')} || ' ')"
        score = " + ".join(SQL.occurrence_count(padded, m) for m in _EN_MARKERS)
        return f"CASE WHEN ({score}) >= {threshold} THEN 'en' ELSE 'unk' END"

    @staticmethod
    def lang_id_multi(col: str, threshold: int = 1) -> str:
        padded = f"(' ' || {SQL.norm_ws(f'lower({col})')} || ' ')"
        scores = {
            lang: "(" + " + ".join(
                SQL.occurrence_count(padded, m) for m in markers
            ) + ")"
            for lang, markers in _LANG_MARKERS.items()
        }
        best = "greatest(" + ", ".join(scores.values()) + ")"
        # same priority CASE chain as the Spark expression: earlier
        # languages in _LANG_MARKERS order win ties
        whens = " ".join(
            f"WHEN {scores[lang]} = {best} THEN '{lang}'"
            for lang in _LANG_MARKERS
        )
        return (
            f"CASE WHEN {best} >= {threshold} "
            f"THEN (CASE {whens} ELSE 'unk' END) ELSE 'unk' END"
        )

    @staticmethod
    def fingerprint(col: str) -> str:
        return f"md5(lower({SQL.norm_ws(col)}))"

    @staticmethod
    def quality_fields(col: str) -> dict:
        n = SQL.norm_ws(col)
        toks = SQL.token_count(col)
        return {
            "n_chars": f"length({n})",
            "n_tokens": toks,
            "avg_token_len": (
                f"CASE WHEN ({toks}) > 0 THEN "
                f"round(CAST(length({n}) AS DOUBLE) / ({toks}), 6) ELSE 0.0 END"
            ),
            "alpha_ratio": (
                f"CASE WHEN length({n}) > 0 THEN round(CAST("
                f"length(regexp_replace({n}, '[^a-zA-Z]', '', 'g')) AS DOUBLE)"
                f" / length({n}), 6) ELSE 0.0 END"
            ),
            "digit_ratio": (
                f"CASE WHEN length({n}) > 0 THEN round(CAST("
                f"length(regexp_replace({n}, '[^0-9]', '', 'g')) AS DOUBLE)"
                f" / length({n}), 6) ELSE 0.0 END"
            ),
            "punct_ratio": (
                f"CASE WHEN length({n}) > 0 THEN round(CAST("
                f"length(regexp_replace({n}, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)"
                f" / length({n}), 6) ELSE 0.0 END"
            ),
            "stopword_ratio": SQL._stopword_ratio(col),
            "n_spaces": f"length({n}) - length(replace({n}, ' ', ''))",
        }

    @staticmethod
    def _stopword_ratio(col: str) -> str:
        n = SQL.norm_ws(col)
        toks = SQL.token_count(col)
        padded = f"(' ' || lower({n}) || ' ')"
        hits = " + ".join(SQL.occurrence_count(padded, m) for m in _EN_MARKERS)
        return (
            f"CASE WHEN ({toks}) > 0 THEN "
            f"round(CAST(({hits}) AS DOUBLE) / ({toks}), 6) ELSE 0.0 END"
        )


# avalanche constants for the row-hash remix (odd, < 2^31: a·h < 2^61)
_REMIX_A = 0x6B8B4567 | 1
_REMIX_B = 0x327B23C6


def portable_row_hash(col, mod: int = 1_000_000_007, base: int = 31):
    """Engine-neutral row hash of a string id: sequential polynomial fold
    h = (h·B + code) mod M over the characters — identical in ANSI SQL
    (``portable_row_hash_sql``), the basis for DETERMINISTIC sampling
    that reproduces byte-for-byte across engines and reruns (unlike
    ``df.sample``, whose seed is partition-layout dependent).

    A final affine remix spreads the value over [0, M): the raw fold of
    a short id (e.g. "42") is a small number, which would defeat
    threshold sampling."""
    from pyspark.sql import functions as F

    fold = F.aggregate(
        F.split(col.cast("string"), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * base + F.ascii(ch), F.lit(mod)),
    )
    return F.pmod(fold * _REMIX_A + _REMIX_B, F.lit(mod))


def portable_row_hash_sql(expr: str, mod: int = 1_000_000_007, base: int = 31) -> str:
    """DuckDB twin of ``portable_row_hash``: the same sequential fold
    h = (h·B + code) mod M via ``list_reduce`` (0 prepended as the init
    value) — no precomputed power table, so ids of ANY length hash
    identically to the Spark side (a fixed table silently NULLed the
    out-of-range terms for ids over its size: WARC corpora use URLs as
    doc_id, routinely longer than any fixed cap)."""
    s = f"CAST({expr} AS VARCHAR)"
    fold = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CAST(ascii({s}[i + 1 : i + 1]) AS BIGINT) for i in range(0, length({s}))]), "
        f"(acc, c) -> (acc * {base} + c) % {mod})"
    )
    return f"(({fold}) * {_REMIX_A} + {_REMIX_B}) % {mod}"


def deterministic_sample(df, fraction=None, key_col: str = "doc_id", strata=None,
                         strata_col: str = "source", mod: int = 1_000_000_007):
    """Reproducible corpus (sub)sampling: keep a row iff its portable id
    hash falls under the fraction threshold — stable across engines,
    reruns, partitionings, and cluster sizes, so a sample defined once is
    the SAME sample everywhere (required for train/val splits at scale).

    ``strata``: {stratum_value: fraction} for per-source rates (e.g.
    downsample web, keep all of wiki); rows of unlisted strata drop."""
    from pyspark.sql import functions as F

    h = portable_row_hash(F.col(key_col), mod=mod)
    if strata is not None:
        frac = None
        for val, fr in sorted(strata.items()):
            cond = F.when(F.col(strata_col) == val, F.lit(int(fr * mod)))
            frac = cond if frac is None else frac.when(
                F.col(strata_col) == val, F.lit(int(fr * mod))
            )
        frac = frac.otherwise(F.lit(0))
    else:
        frac = F.lit(int(float(fraction) * mod))
    return df.where(h < frac)


def temperature_thresholds(
    counts: dict, mod: int = 1_000_000_007
) -> dict:
    """Integer keep-thresholds for α=0.5 temperature resampling of a
    domain/language mixture (the multilingual-balance step: sampling
    probability p_d ∝ √n_d dampens head domains, boosts tails).

    Exact INTEGER arithmetic start to finish — s_d = ⌊√n_d⌋ (binary64
    sqrt is IEEE-correctly-rounded, so the floor is engine-exact for
    n < 2^52), then t_d = ((s_d·mod) // Σs) · N // n_d with truncating
    integer division at each step, capped at mod.  The same formula in
    ANSI SQL produces bit-identical thresholds, which is what makes the
    resample value-checkable and reproducible across engines.  (An
    arbitrary α needs a correctly-rounded pow, which libm does not
    promise — α=0.5 is the standard temperature-2 setting.)

    Intermediate widths: s_d·mod < 2^26·2^30 and (≤mod)·N — int64-safe
    to N ≈ 2^33 rows; past that, run the formula in DECIMAL/hugeint.
    """
    s = {d: int(math.sqrt(n)) for d, n in counts.items()}
    S = sum(s.values())
    N = sum(counts.values())
    return {
        d: min(mod, ((s[d] * mod) // S) * N // counts[d])
        for d in counts
    }


def temperature_sample(
    df,
    domain_col: str = "source",
    key_col: str = "doc_id",
    mod: int = 1_000_000_007,
):
    """α=0.5 temperature resample of the corpus mixture: per-domain keep
    rates from ``temperature_thresholds`` applied as portable-hash
    thresholds — deterministic on any engine, partitioning, or cluster
    size, expected corpus size preserved while the domain distribution
    moves toward p_d ∝ √n_d.

    The per-domain counts are ONE map-side-combined aggregate collected
    to the driver (rows = distinct domains — a parameter lookup, not a
    data collect), inlined as a CASE threshold; no join, no second
    shuffle of the corpus."""
    from pyspark.sql import functions as F

    counts = {
        r["d"]: r["n"]
        for r in df.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    thr = temperature_thresholds(counts, mod=mod)
    h = portable_row_hash(F.col(key_col), mod=mod)
    t = None
    for d in sorted(thr):
        t = (
            F.when(F.col(domain_col) == d, F.lit(thr[d]))
            if t is None
            else t.when(F.col(domain_col) == d, F.lit(thr[d]))
        )
    t = F.lit(0) if t is None else t.otherwise(F.lit(0))
    return df.where(h < t)


def temperature_sample_oracle_sql(
    table: str = "documents",
    domain_col: str = "source",
    key_col: str = "doc_id",
    mod: int = 1_000_000_007,
    domain_expr: str | None = None,
) -> str:
    """DuckDB twin computing the SAME integer thresholds from the same
    counts in SQL (⌊√n⌋ → truncating integer divisions → cap).

    ``domain_expr``: optional SQL expression computing the domain from
    the row (aliased to ``domain_col`` in the output) — lets callers
    resample a DERIVED mixture (e.g. a skewed bucketing of the id) with
    the identical expression on both engines."""
    prh = portable_row_hash_sql(key_col, mod=mod)
    de = domain_expr if domain_expr is not None else domain_col
    return f"""
WITH x AS (SELECT {key_col}, {de} AS {domain_col} FROM {table}),
c AS (SELECT {domain_col} AS d, count(*) AS n FROM x GROUP BY {domain_col}),
s AS (SELECT d, n, CAST(floor(sqrt(n)) AS BIGINT) AS sd FROM c),
tot AS (SELECT sum(sd) AS sS, sum(n) AS nN FROM s),
thr AS (SELECT d, least({mod}, ((sd * {mod}) // sS) * nN // n) AS t
        FROM s, tot)
SELECT x.{key_col}, x.{domain_col} FROM x JOIN thr ON x.{domain_col} = thr.d
WHERE ({prh}) < thr.t
"""


# PII patterns with explicit ASCII classes only (Java and RE2 agree
# character for character — no \d/\w/\b shorthand, whose semantics
# differ across dialects).  Applied IN ORDER; counts are taken against
# the text as it stands before that pattern's replacement, so the
# reported counts equal the number of replacements made.
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9()./ -]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Scrub emails / IPv4 literals / phone-shaped digit runs — the
    standard pre-release hygiene pass over a web corpus.  Returns a
    struct (redacted, n_email, n_ip, n_phone); pure JVM regexp
    expressions with an exact SQL twin (``SQL.redact_pii_fields``)."""
    cur = col
    fields = []
    for name, pat, token in PII_PATTERNS:
        fields.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return F.struct(cur.alias("redacted"), *fields)


def _redact_pii_fields_sql(col: str) -> dict:
    cur = col
    out = {}
    for name, pat, token in PII_PATTERNS:
        p = pat.replace("'", "''")
        # CAST AS INT: DuckDB len() is BIGINT, Spark's count is int32 —
        # keep the twin's pandas dtype identical to Spark's
        out[f"n_{name}"] = f"CAST(len(regexp_extract_all({cur}, '{p}')) AS INT)"
        cur = f"regexp_replace({cur}, '{p}', '{token}', 'g')"
    out["redacted"] = cur
    return out


SQL.redact_pii_fields = staticmethod(_redact_pii_fields_sql)


# GPT-2-style pre-tokenizer pattern with explicit ASCII classes only, so
# the Java (Spark) and RE2 (DuckDB) regex dialects agree char for char;
# whitespace is collapsed to single spaces FIRST so the " ?" prefixes
# behave identically in both engines.
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"


# portable ASCII case fold (see dedup._WS_CLASS note: engine lower()
# implementations ship different Unicode tables; translate is identical
# everywhere, which a cross-engine value oracle requires)
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWERC = "abcdefghijklmnopqrstuvwxyz"


def word_ngrams(col: Column, n: int = 8) -> Column:
    """Array of word n-grams (space-joined) of the portably-normalized
    text: explicit whitespace class collapse + ASCII case fold, so the
    gram STRINGS are engine-neutral join keys (SQL twin:
    ``SQL.word_ngrams``).  Documents shorter than n words yield an
    empty array (a guard, not sequence(1,0) — which Spark evaluates as
    the DESCENDING sequence [1, 0])."""
    norm = F.translate(norm_ws(F.col(col) if isinstance(col, str) else col), _UPPER, _LOWERC)
    toks = F.split(norm, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)


def repetition_stats(col: Column) -> Column:
    """Gopher/C4-style repetition signals as a struct — the quality
    gates a pretraining pipeline runs before tokenization:

    * ``n_tokens`` / ``n_distinct_tokens`` / ``distinct_ratio``
    * ``dup_bigram_frac`` — fraction of word bigrams that are repeats
      (1 − distinct/total): catches looping boilerplate
    * ``top_bigram_frac`` — share of the single most frequent bigram:
      catches "click here click here …" spam

    All JVM expressions, O(n log n) per doc: the top-bigram count is the
    longest equal run of the SORTED bigram array (one aggregate pass) —
    NOT ``transform(distinct, g -> size(filter(bigrams, = g)))``, which
    is O(n·d) comparisons and, worse, re-inlines the whole unbound
    n-gram-construction subtree into every lambda element (Catalyst will
    not common-subexpression a non-trivial tree across nested
    higher-order functions: measured 300+ s for 4.5k docs vs <2 s for
    this form).  Exact SQL twin in ``SQL.repetition_fields``."""
    norm = F.translate(norm_ws(col), _UPPER, _LOWERC)
    toks = F.split(norm, " ")
    n_tok = F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(toks))
    n_dis = F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(F.array_distinct(toks))
    )
    bg = word_ngrams(col, 2)
    n_bg = F.size(bg)
    dis_bg = F.array_distinct(bg)
    # longest equal run in the sorted array; "" sorts before any real
    # bigram and never equals one, so the seed never merges with a run
    run = F.aggregate(
        F.array_sort(bg),
        F.struct(
            F.lit(0).alias("cur"), F.lit(0).alias("best"), F.lit("").alias("prev")
        ),
        lambda acc, x: F.struct(
            F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)).alias("cur"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    top = F.when(n_bg > 0, run).otherwise(F.lit(0))
    ratio = lambda a, b: F.when(b > 0, F.round(a.cast("double") / b, 6)).otherwise(  # noqa: E731
        F.lit(0.0)
    )
    return F.struct(
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct_tokens"),
        ratio(n_dis, n_tok).alias("distinct_ratio"),
        ratio(n_bg - F.size(dis_bg), n_bg).alias("dup_bigram_frac"),
        ratio(top, n_bg).alias("top_bigram_frac"),
    )


def _word_ngrams_sql(col: str, n: int = 8) -> str:
    norm = f"translate({SQL.norm_ws(col)}, '{_UPPER}', '{_LOWERC}')"
    toks = f"string_split({norm}, ' ')"
    return (
        f"CASE WHEN len({toks}) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE [array_to_string(({toks})[i : i + {n - 1}], ' ') "
        f"for i in range(1, len({toks}) - {n - 2})] END"
    )


def _repetition_fields_sql(col: str) -> dict:
    norm = f"translate({SQL.norm_ws(col)}, '{_UPPER}', '{_LOWERC}')"
    toks = f"string_split({norm}, ' ')"
    n_tok = f"CASE WHEN length({norm}) = 0 THEN 0 ELSE len({toks}) END"
    n_dis = f"CASE WHEN length({norm}) = 0 THEN 0 ELSE len(list_distinct({toks})) END"
    bg = _word_ngrams_sql(col, 2)
    n_bg = f"len({bg})"
    n_dbg = f"len(list_distinct({bg}))"
    # the largest bigram multiplicity from one histogram: a per-distinct-
    # bigram list_filter re-derives the bigram list inside the lambda
    # (no CSE there), cubic per document
    top = (
        f"CASE WHEN {n_bg} > 0 THEN CAST(list_max(map_values(list_histogram({bg})))"
        f" AS BIGINT) ELSE 0 END"
    )

    def ratio(a: str, b: str) -> str:
        return (
            f"CASE WHEN ({b}) > 0 THEN round(CAST(({a}) AS DOUBLE) / ({b}), 6) "
            f"ELSE 0.0 END"
        )

    return {
        # INT casts pin the twin's dtype to Spark's int32 counts
        "n_tokens": f"CAST({n_tok} AS INT)",
        "n_distinct_tokens": f"CAST({n_dis} AS INT)",
        "distinct_ratio": ratio(n_dis, n_tok),
        "dup_bigram_frac": ratio(f"({n_bg}) - ({n_dbg})", n_bg),
        "top_bigram_frac": ratio(top, n_bg),
    }


SQL.word_ngrams = staticmethod(_word_ngrams_sql)
SQL.repetition_fields = staticmethod(_repetition_fields_sql)


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: number of GPT-2-pretokenizer-style pieces
    (contractions, letter runs, digit runs, symbol runs) in the
    normalized text — the closer-to-model-cost counter next to the
    whitespace ``token_count``; exact SQL twin in ``SQL.bpe_token_count``."""
    return F.regexp_count(norm_ws(col), F.lit(_BPE_PAT))


def _bpe_token_count_sql(col: str) -> str:
    pat = _BPE_PAT.replace("'", "''")
    return f"len(regexp_extract_all({SQL.norm_ws(col)}, '{pat}'))"


SQL.bpe_token_count = staticmethod(_bpe_token_count_sql)


# Gopher quality-rule stopwords (Rae et al. 2021, Table A1 heuristics):
# a document must contain at least two of these to pass the "stop word"
# gate.  Matched on word boundaries via the padded-spaces trick (no \b,
# whose semantics differ between Java and RE2 regex dialects).
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021 §A.1.1) as a
    struct of signals plus the combined pass flag — the standard
    pretraining quality gate next to ``repetition_stats``:

    * word count within [min_words, max_words]
    * mean word length within [min, max] characters
    * symbol-to-word ratio ('#' and '...' occurrences / words) below cap
    * fraction of LINES starting with a bullet ('- ' / '* ') below cap,
      fraction ending in an ellipsis below cap
    * fraction of words containing >=1 alphabetic char above floor
    * at least ``min_stop_hits`` distinct Gopher stopwords present

    Pure JVM expressions; exact DuckDB twin in ``SQL.gopher_fields``
    (same thresholds must be passed to both).  Ratios round(·,6) for
    stable float formatting; the pass flag is an int for hashability.
    """
    norm = F.translate(norm_ws(col), _UPPER, _LOWERC)
    toks = F.split(norm, " ")
    n_words = F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(toks))
    n_spaces = F.length(norm) - F.length(F.replace(norm, F.lit(" "), F.lit("")))
    mean_wl = F.when(
        n_words > 0,
        F.round((F.length(norm) - n_spaces).cast("double") / n_words, 6),
    ).otherwise(F.lit(0.0))
    n_sym = occurrence_count(norm, "#") + occurrence_count(norm, "...")
    symbol_ratio = F.when(
        n_words > 0, F.round(n_sym.cast("double") / n_words, 6)
    ).otherwise(F.lit(0.0))
    # line rules run on the RAW text (norm_ws collapses newlines away)
    lines = F.split(col, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("- ") | F.ltrim(l).startswith("* "),
        )
    )
    n_ellip = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    bullet_frac = F.when(
        n_lines > 0, F.round(n_bullet.cast("double") / n_lines, 6)
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0, F.round(n_ellip.cast("double") / n_lines, 6)
    ).otherwise(F.lit(0.0))
    n_alpha_words = F.size(
        F.filter(
            toks,
            lambda w: F.length(F.regexp_replace(w, "[^a-zA-Z]", "")) > 0,
        )
    )
    alpha_word_frac = F.when(
        n_words > 0, F.round(n_alpha_words.cast("double") / n_words, 6)
    ).otherwise(F.lit(0.0))
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    stop_hits = None
    for w in GOPHER_STOPS:
        hit = (F.instr(padded, f" {w} ") > 0).cast("int")
        stop_hits = hit if stop_hits is None else (stop_hits + hit)
    passes = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_word_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stop_hits)
    )
    return F.struct(
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
        passes.cast("int").alias("passes"),
    )


def _gopher_fields_sql(
    col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> dict:
    norm = f"translate({SQL.norm_ws(col)}, '{_UPPER}', '{_LOWERC}')"
    toks = f"string_split({norm}, ' ')"
    n_words = f"CASE WHEN length({norm}) = 0 THEN 0 ELSE len({toks}) END"
    n_spaces = f"length({norm}) - length(replace({norm}, ' ', ''))"

    def ratio(a: str, b: str) -> str:
        return (
            f"CASE WHEN ({b}) > 0 THEN round(CAST(({a}) AS DOUBLE) / ({b}), 6) "
            f"ELSE 0.0 END"
        )

    mean_wl = ratio(f"length({norm}) - ({n_spaces})", n_words)
    n_sym = (
        f"({SQL.occurrence_count(norm, '#')}) + "
        f"({SQL.occurrence_count(norm, '...')})"
    )
    symbol_ratio = ratio(n_sym, n_words)
    lines = f"string_split({col}, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = (
        f"len(list_filter({lines}, l -> starts_with(ltrim(l, ' '), '- ') "
        f"OR starts_with(ltrim(l, ' '), '* ')))"
    )
    n_ellip = f"len(list_filter({lines}, l -> ends_with(rtrim(l, ' '), '...')))"
    bullet_frac = ratio(n_bullet, n_lines)
    ellipsis_frac = ratio(n_ellip, n_lines)
    n_alpha = (
        f"len(list_filter({toks}, "
        f"w -> length(regexp_replace(w, '[^a-zA-Z]', '', 'g')) > 0))"
    )
    alpha_word_frac = ratio(n_alpha, n_words)
    padded = f"(' ' || {norm} || ' ')"
    stop_hits = " + ".join(
        f"CASE WHEN contains({padded}, ' {w} ') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPS
    )
    passes = (
        f"CASE WHEN ({n_words}) >= {min_words} AND ({n_words}) <= {max_words} "
        f"AND ({mean_wl}) >= {min_mean_word_len} "
        f"AND ({mean_wl}) <= {max_mean_word_len} "
        f"AND ({symbol_ratio}) <= {max_symbol_ratio} "
        f"AND ({bullet_frac}) <= {max_bullet_frac} "
        f"AND ({ellipsis_frac}) <= {max_ellipsis_frac} "
        f"AND ({alpha_word_frac}) >= {min_alpha_word_frac} "
        f"AND ({stop_hits}) >= {min_stop_hits} THEN 1 ELSE 0 END"
    )
    return {
        "n_words": f"CAST({n_words} AS INT)",
        "mean_word_len": mean_wl,
        "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_word_frac,
        "n_stop_hits": f"({stop_hits})",
        "passes": passes,
    }


SQL.gopher_fields = staticmethod(_gopher_fields_sql)


def per_domain_cap(
    df,
    cap: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    mod: int = 1_000_000_007,
    n_salts: int = 32,
):
    """Keep at most ``cap`` documents per domain, chosen DETERMINISTICALLY
    by the portable row hash (same survivors on any engine, partitioning,
    or cluster size) — the per-site cap every web-scale corpus applies so
    one mega-domain cannot dominate the training mix.

    Skew-safe two-phase shape: phase 1 ranks within (domain, salt-bucket)
    and keeps ``cap`` per bucket, so no single window partition ever
    exceeds ~rows/n_salts even for a domain holding half the corpus;
    phase 2 ranks the <= cap * n_salts survivors per domain — a bounded
    partition regardless of input skew.  Both phases are plain window
    shuffles; nothing collects.

    Output: input columns + ``rk`` (1-based deterministic rank within the
    domain).  Oracle twin: row_number() OVER (PARTITION BY domain ORDER
    BY portable_hash, key) <= cap — the salt pre-prune is semantics-free.
    """
    from pyspark.sql import Window

    h = portable_row_hash(F.col(key_col), mod=mod)
    d = df.withColumn("__h", h).withColumn(
        "__b", F.pmod(F.col("__h"), F.lit(n_salts))
    )
    w1 = Window.partitionBy(domain_col, "__b").orderBy("__h", key_col)
    pruned = (
        d.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= cap)
        .drop("__r1", "__b")
    )
    w2 = Window.partitionBy(domain_col).orderBy("__h", key_col)
    return (
        pruned.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= cap)
        .drop("__h")
    )


def tfidf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    persist_tf: bool = True,
    persist_registry: list | None = None,
):
    """Per-document top-k TF-IDF terms — the classic two-aggregate
    relational shape: term frequencies (one shuffle on (doc, term),
    map-side partial agg), document frequencies derived FROM the tf
    table (no second corpus scan), join back on term, per-doc window
    for the top-k.  idf = ln(N/df) on the rounded-to-6 score, with the
    term string as the deterministic tie-break, so the selected rows
    are engine-stable.

    N (total docs) is a single driver scalar (one count job) — the same
    "parameter lookup" pattern as the IVF query vector.
    ``persist_tf=True`` caches the tf table (materialized by the df
    aggregate) so one tf subtree feeds both the doc-frequency build and
    the score join instead of re-tokenizing the corpus twice; release
    with ``spark.catalog.clearCache()`` after materializing the output
    (or pass ``persist_tf=False``).  Output:
    (id, term, tf, doc_freq, tfidf, rk)."""
    from pyspark.sql import Window

    norm = F.translate(norm_ws(F.col(text_col)), _UPPER, _LOWERC)
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(norm, " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    if persist_tf:
        tf = tf.persist()
        if persist_registry is not None:
            persist_registry.append(tf)
    n_docs = df.count()
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 6),
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_k)
        .select("id", "term", "tf", "doc_freq", "tfidf", "rk")
    )


def tfidf_top_terms_sql(
    table: str = "documents", top_k: int = 3
) -> str:
    """DuckDB twin of ``tfidf_top_terms`` — identical normalization,
    identical ln(N/df) arithmetic, identical rounded-score ordering."""
    norm = f"translate({SQL.norm_ws('text')}, '{_UPPER}', '{_LOWERC}')"
    return f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split({norm}, ' ')) AS term FROM {table}
),
tf AS (
  SELECT id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY id, term
),
dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM {table}),
scored AS (
  SELECT id, term, tf, doc_freq,
         round(tf * ln(n.n / doc_freq), 6) AS tfidf
  FROM tf JOIN dfq USING (term), n
)
SELECT id, term, CAST(tf AS BIGINT) AS tf,
       CAST(doc_freq AS BIGINT) AS doc_freq, tfidf, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY id
            ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
WHERE rk <= {top_k}
"""
