"""Driver contract for the spark-graft builder (PySpark target).

Queries map to SURVEY.md §2 operators.  HTML-engine queries render the
driver's plain-text ``documents`` table into deterministic HTML (template
inversion — see hquery_php_spark/sources/html_synth.py) so that the full
tokenizer → index → selector → span-extraction path has an exact ANSI-SQL
oracle.  Training-data-pipeline queries (dedup, similarity, text analysis)
run Spark-native with their own SQL twins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hquery_php_spark.batch import map_rows
from hquery_php_spark.functions.text import (
    SQL as TSQL,
    fingerprint,
    lang_id_en,
    quality_score,
    token_count,
)
from hquery_php_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_verify,
)
from hquery_php_spark.operators.pipeline import (
    explode_spans,
    extract_spans_df,
    salted_repartition,
)
from hquery_php_spark.operators.similarity import brute_force_topk
from hquery_php_spark.sources.html_synth import (
    BASE_URL,
    expected_main_text_sql as _main_text_sql,
    expected_spans_sql,
    synth_html_col,
)

_DOCS = "documents.parquet"

from hquery_php_spark.operators.dedup import (  # noqa: E402
    WINNOW_SQL_TEMPLATE as _WINNOW_T,
)

_WINNOW_SQL = _WINNOW_T.format(
    k=8, km1=7, wm1=3, mod=1_000_000_007
).replace("{powers}", str([pow(31, 7 - j, 1_000_000_007) for j in range(8)]))

from hquery_php_spark.operators.dedup import (  # noqa: E402
    minhash_verify_oracle_sql as _mh_sql,
    simhash_oracle_sql as _sh_sql,
)

_MINHASH_SQL = _mh_sql(num_perm=16, shingle_k=8, bands=2, rows_per_band=8, threshold=0.6)
_SIMHASH_SQL = _sh_sql(k=8)

from hquery_php_spark.operators.similarity import (  # noqa: E402
    ivf_oracle_sql as _ivf_sql,
)

_IVF_SQL = _ivf_sql(n_planes=6, hamming_radius=2, k=10, query_id=0)

from hquery_php_spark.operators.similarity import (  # noqa: E402
    portable_bucket_sql as _pb_sql,
)

# augmented set (original + perturbed every-10th copy) → portable sign-LSH
# buckets → exact cosine within equal buckets: the SQL twin of
# q_embed_near_dup_lsh (embedding_near_dup, 8 planes)
_NEAR_DUP_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
aug AS (
  SELECT id, v FROM e
  UNION ALL
  SELECT id + 1000000, list_concat([v[1] + 0.1], v[2:len(v)])
  FROM e WHERE id % 10 = 0
),
bk AS (
  SELECT id, v, {_pb_sql(8)} AS bucket FROM aug
)
SELECT x.id AS id_a, y.id AS id_b,
       round(list_cosine_similarity(x.v, y.v), 4) AS cos_r
FROM bk x, bk y
WHERE x.id < y.id AND x.bucket = y.bucket
  AND list_cosine_similarity(x.v, y.v) >= 0.98
"""

# exact n² twin on the same augmented set (the LSH ground truth)
_EX_NEAR_DUP_SQL = """
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
aug AS (
  SELECT id, v FROM e
  UNION ALL
  SELECT id + 1000000, list_concat([v[1] + 0.1], v[2:len(v)])
  FROM e WHERE id % 10 = 0
)
SELECT a.id AS id_a, b.id AS id_b
FROM aug a, aug b
WHERE a.id < b.id AND list_cosine_similarity(a.v, b.v) >= 0.98
"""

from hquery_php_spark.operators.dedup import (  # noqa: E402
    connected_components_oracle_sql as _cc_sql,
)

_CLUSTERS_SQL = _cc_sql(_NEAR_DUP_LSH_SQL)

from hquery_php_spark.functions.text import (  # noqa: E402
    portable_row_hash_sql as _prh_sql,
    temperature_sample_oracle_sql as _temp_sample_sql,
)

from hquery_php_spark.operators.decontaminate import (  # noqa: E402
    decontaminate_oracle_sql as _decon_sql,
)

_DECON_SQL = _decon_sql(n=8)

from hquery_php_spark.operators.dedup import (  # noqa: E402
    paragraph_dedup_oracle_sql as _para_dedup_sql,
    substring_dup_spans_oracle_sql as _substring_dedup_sql,
)
from hquery_php_spark.functions.classify import (  # noqa: E402
    hashed_linear_score_sql as _classify_sql,
)
from hquery_php_spark.operators.semantic import (  # noqa: E402
    semantic_dedup_oracle_sql as _semantic_sql,
)
from hquery_php_spark.operators.incremental import (  # noqa: E402
    incremental_dedup_near_oracle_sql as _incr_near_sql,
)
from hquery_php_spark.operators.sketches import (  # noqa: E402
    binned_quantiles_oracle_sql as _quantiles_sql,
    bloom_screen_oracle_sql as _bloom_sql,
    cms_estimates_oracle_sql as _cms_sql,
    hll_distinct_oracle_sql as _hll_sql,
)
from hquery_php_spark.operators.pq import (  # noqa: E402
    ivf_pq_oracle_sql as _ivf_pq_sql,
    pq_topk_oracle_sql as _pq_sql,
)
from hquery_php_spark.operators.dsir import (  # noqa: E402
    dsir_oracle_sql as _dsir_sql,
)
from hquery_php_spark.operators.bpe import (  # noqa: E402
    bpe_suite_oracle_sql as _bpe_sql,
)
from hquery_php_spark.operators.perceptron import (  # noqa: E402
    perceptron_oracle_sql as _perceptron_sql,
)
from hquery_php_spark.operators.pipeline import (  # noqa: E402
    pack_interleaved_oracle_sql as _pack_interleaved_sql,
)
from hquery_php_spark.operators.graph import (  # noqa: E402
    pagerank_oracle_sql as _pagerank_sql,
)
from hquery_php_spark.operators.pipeline import (  # noqa: E402
    chunk_documents_oracle_sql as _chunk_sql,
)
from hquery_php_spark.functions.rank import (  # noqa: E402
    bigram_logprob_oracle_sql as _bigram_lp_sql,
)

_SAMPLE_STRATA = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MOD = 1_000_000_007
_CORPUS_SAMPLE_SQL = (
    "SELECT doc_id, source FROM documents WHERE "
    + _prh_sql("doc_id")
    + " < CASE source "
    + " ".join(
        f"WHEN '{k}' THEN {int(v * _MOD)}" for k, v in sorted(_SAMPLE_STRATA.items())
    )
    + " ELSE 0 END"
)

from hquery_php_spark.operators.pipeline import (  # noqa: E402
    pack_sequences_oracle_sql as _pack_sql,
)

_PACK_SQL = _pack_sql(max_tokens=512, tokens_expr=TSQL.token_count("text"), n_shards=8)

from hquery_php_spark.operators.curate import (  # noqa: E402
    curate_oracle_sql as _curate_sql,
)

_CURATE_SQL = _curate_sql(
    gopher_kwargs=dict(min_stop_hits=1), cap_per_domain=20
)

from hquery_php_spark.functions.text import (  # noqa: E402
    tfidf_top_terms_sql as _tfidf_sql,
)

_TFIDF_SQL = _tfidf_sql(top_k=3)

from hquery_php_spark.functions.rank import (  # noqa: E402
    bm25_oracle_sql as _bm25_sql,
    pmi_oracle_sql as _pmi_sql,
)

_BM25_SQL = _bm25_sql(["spark", "join", "window"], k=10)
_PMI_SQL = _pmi_sql(min_count=5, top_k=20)

from hquery_php_spark.functions.rank import (  # noqa: E402
    unigram_logprob_oracle_sql as _ulp_sql,
)

_ULP_SQL = _ulp_sql()

from hquery_php_spark.functions.url import (  # noqa: E402
    canonical_url_sql as _curl_sql,
)

from hquery_php_spark.functions.url import url_features_sql as _ufeat_sql

_UF = _ufeat_sql("url")
_URL_DEDUP_SQL = f"""
SELECT url, keep_id, n_dups,
       {", ".join(f"{e} AS {k}" for k, e in _UF.items())}
FROM (
SELECT {_curl_sql("messy")} AS url,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM (
  SELECT doc_id,
         CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN 'https://Example.COM/docs/' || CAST(doc_id // 5 AS VARCHAR) || '.html'
           WHEN 1 THEN 'https://example.com:443/docs/' || CAST(doc_id // 5 AS VARCHAR) || '.html'
           WHEN 2 THEN 'https://example.com/docs/' || CAST(doc_id // 5 AS VARCHAR) || '.html?utm_source=news&utm_campaign=a'
           WHEN 3 THEN 'https://example.com/docs/' || CAST(doc_id // 5 AS VARCHAR) || '.html#frag'
           ELSE 'https://example.com/docs/' || CAST(doc_id // 5 AS VARCHAR) || '.html?b=2&a=1'
         END AS messy
  FROM documents)
GROUP BY 1
)
"""

# DuckDB twin of q_corpus_stats: identical per-doc integer signals
# (tokens/chars/alpha/en/gopher-pass), summed as BIGINTs so the rollup is
# exact on any engine and any summation order; alpha_ratio derived from
# the sums afterwards with the same round(·,6) guard.
_CS_NORM = TSQL.norm_ws("text")
_CORPUS_STATS_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS sum_tokens,
       CAST(sum(ch) AS BIGINT) AS sum_chars,
       CAST(sum(al) AS BIGINT) AS sum_alpha,
       CAST(sum(en) AS BIGINT) AS n_en,
       CAST(sum(ps) AS BIGINT) AS n_pass,
       CASE WHEN sum(ch) > 0
            THEN round(CAST(sum(al) AS DOUBLE) / sum(ch), 6)
            ELSE 0.0 END AS alpha_ratio
FROM (
  SELECT source,
         {TSQL.token_count("text")} AS t,
         length({_CS_NORM}) AS ch,
         length(regexp_replace({_CS_NORM}, '[^a-zA-Z]', '', 'g')) AS al,
         CASE WHEN {TSQL.lang_id_en("text")} = 'en' THEN 1 ELSE 0 END AS en,
         {TSQL.gopher_fields("text", min_words=10, min_stop_hits=1)["passes"]} AS ps
  FROM documents)
GROUP BY source
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{_DOCS}")


def _spread(df: DataFrame, spark: SparkSession, key: str = "doc_id") -> DataFrame:
    """Salted repartition to full parallelism before a heavy stage.

    The driver's test parquet is a single row group (one input split); on
    a real cluster the scan arrives pre-split, but the north rule's
    salted size-bucket repartition before the extract UDF is part of the
    design either way.  Unconditional: probing the current partition count
    costs a driver-side df.rdd conversion per query, which is more
    expensive than the (AQE-coalescible) Exchange it would avoid."""
    n = spark.sparkContext.defaultParallelism
    return salted_repartition(df, n, key_col=key)


def _doc_payloads(
    spark: SparkSession, sf_dir: str, gen: Callable[[int], object]
) -> DataFrame:
    """Synthesized media rows: ``gen(doc_id)`` yields that document's
    (media_id, payload) pairs, built by an in-repo encoder per row."""
    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("long").alias("did")
    )
    return map_rows(
        d, "media_id string, payload binary", lambda did: gen(int(did))
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_docs(spark, sf_dir), spark)
    return d.select(
        "doc_id",
        synth_html_col(F.col("doc_id"), F.col("text"), F.col("source")).alias("html"),
        F.lit(BASE_URL).alias("base_url"),
    )


# --------------------------------------------------------------------- #
# HTML-engine queries (full tokenizer→index→selector→extraction path)

def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: ordered (kind, text, media_ref, offset) span sequences."""
    spans = extract_spans_df(_synth(spark, sf_dir))
    return explode_spans(spans).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "ord",
        "kind",
        "text",
        "media_ref",
        "offset",
    )


_WORDWISE_PRE = '<html><body><div id="m">'
_WORDWISE_POST = "</div></body></html>"


def _wordwise_html() -> F.Column:
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    words = F.split(norm, " ")
    spans = F.concat_ws(
        "",
        F.zip_with(
            words,
            F.sequence(F.lit(0), F.size(words) - 1),
            lambda w, i: F.concat(
                F.lit('<span class="w'),
                F.pmod(i, F.lit(3)).cast("string"),
                F.lit('" data-k="v'),
                F.pmod(i, F.lit(2)).cast("string"),
                F.lit('">'),
                w,
                F.lit("</span>"),
            ),
        ),
    )
    return F.concat(F.lit(_WORDWISE_PRE), spans, F.lit(_WORDWISE_POST))


def q_selector_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector algebra over per-word spans: tag/class/attr filters,
    descendant + child + sibling combinators, positional pseudos."""
    from hquery_php_spark.core.doc import HDoc
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _wordwise_html().alias("html"),
    )
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("n_span", IntegerType()),
            StructField("n_w0", IntegerType()),
            StructField("n_v1", IntegerType()),
            StructField("n_desc", IntegerType()),
            StructField("n_child", IntegerType()),
            StructField("n_sib", IntegerType()),
            StructField("first_w", StringType()),
            StructField("third_w", StringType()),
            # beyond-reference extension set (extensions=True):
            # :nth-child, :not, ^= and $= attr operators
            StructField("n_nth_odd", IntegerType()),
            StructField("n_not_w0", IntegerType()),
            StructField("n_vpre", IntegerType()),
            StructField("n_cls1", IntegerType()),
        ]
    )

    base = [
        "span", "span.w0", "span[data-k=v1]",
        "div span", "div > span", "span + span",
    ]
    ext = [
        "span:nth-child(odd)", "span:not(.w0)",
        "span[data-k^=v]", "span[class$=1]",
    ]

    def row(doc_id, html):
        doc = HDoc(html.encode("utf-8"))

        def n(sel, **kw):
            r = doc.find(sel, **kw)
            return len(r) if r else 0

        counts = [n(sel) for sel in base]
        ext_counts = [n(sel, extensions=True) for sel in ext]
        f = doc.find("span:first")
        t = doc.find("span:eq(2)")
        return [(
            doc_id,
            *counts,
            f.first().text() if f else None,
            t.first().text() if t else None,
            *ext_counts,
        )]

    return map_rows(d, schema, row)


def q_media_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a[href] / img[src] found via the selector engine, URL-resolved."""
    from hquery_php_spark.core.doc import HDoc
    from hquery_php_spark.operators.pagemeta import srcset_refs
    from pyspark.sql.types import StringType, StructField, StructType

    sid = F.col("doc_id").cast("string")
    d = _synth(spark, sf_dir).select(
        sid.alias("doc_id"),
        # responsive-image leg: a srcset img appended to the synth page
        # (trailing markup — the fault-tolerant index walks it like any
        # other element); candidates resolve against the page's
        # <base href> exactly like src/href
        F.concat(
            F.col("html"),
            F.lit('<img srcset="/rs/'), sid, F.lit("-1x.png 1x, rs/"),
            sid, F.lit('-2x.png 2x" src="/f/'), sid, F.lit('.png">'),
        ).alias("html"),
        "base_url",
    )
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("href_raw", StringType()),
            StructField("href_abs", StringType()),
            StructField("src_abs", StringType()),
            StructField("a_outer", StringType()),
            StructField("srcset_all", StringType()),
        ]
    )

    def row(doc_id, html, url):
        doc = HDoc(html.encode("utf-8"), url)
        a = doc.find("a[href]")
        img = doc.find("img[src]")
        return [(
            doc_id,
            a.attr("href") if a else None,
            a.attr("href", True) if a else None,
            img.attr("src", True) if img else None,
            a.outer_html() if a else None,
            "|".join(f"{u} {ds}" for _, u, ds in srcset_refs(doc)) or None,
        )]

    return map_rows(d, schema, row)


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing (XML decl / meta) over a 3-charset template mix."""
    from hquery_php_spark.core.charset import detect_charset
    from pyspark.sql.types import StringType, StructField, StructType

    label = F.element_at(
        F.array(F.lit("utf-8"), F.lit("ISO-8859-2"), F.lit("windows-1251")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit('<html><head><meta charset="'),
            label,
            F.lit('"><title>t</title></head><body>x</body></html>'),
        ).alias("html"),
    )
    schema = StructType(
        [StructField("doc_id", StringType()), StructField("charset", StringType())]
    )

    return map_rows(
        d,
        schema,
        lambda doc_id, html: [(doc_id, detect_charset(html.encode("utf-8")))],
    )


# --------------------------------------------------------------------- #
# Training-data pipeline queries (Spark-native)

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_docs(spark, sf_dir)).select("fp", "keep_id", "n_dups")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count plus the BPE-ish (GPT-2 pretokenizer
    pattern) piece count — both with exact SQL twins."""
    from hquery_php_spark.functions.text import bpe_token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", lang_id_en(F.col("text")).alias("lang")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", quality_score(F.col("text")).alias("q")
    ).select(
        "doc_id",
        F.col("q.n_chars").alias("n_chars"),
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.avg_token_len").alias("avg_token_len"),
        F.col("q.alpha_ratio").alias("alpha_ratio"),
        F.col("q.digit_ratio").alias("digit_ratio"),
        F.col("q.punct_ratio").alias("punct_ratio"),
        F.col("q.stopword_ratio").alias("stopword_ratio"),
        F.col("q.n_spaces").alias("n_spaces"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )


def q_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc occurrence count of a literal needle (JVM-side)."""
    from hquery_php_spark.functions.text import occurrence_count

    return _docs(spark, sf_dir).select(
        "doc_id", occurrence_count(F.col("text"), "the").alias("n_the")
    )


def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens → count → top-20 by frequency
    (map-side partial agg, one shuffle; deterministic tie-break)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(
            F.split(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " ")
        ).alias("tok")
    ).where(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


_BPE_MERGES = 16
_BPE_TOP = 20


def _docs_cache_key(sf_dir: str) -> tuple:
    """Fit-memo key: corpus dir PLUS the documents file's size+mtime —
    the IVF index-cache staleness rule (a fit from a regenerated
    testdata set must never be reused)."""
    import os

    try:
        st = os.stat(f"{sf_dir}/{_DOCS}")
        return (sf_dir, st.st_size, int(st.st_mtime))
    except OSError:
        return (sf_dir, 0, 0)


_BPE_MERGE_CACHE: dict = {}


def _bpe_merges(spark: SparkSession, sf_dir: str):
    """Train the driver-row merge list (16 rounds over the corpus vocab;
    driver collects one argmax row per round — parameter-sized).
    Memoized per corpus dir — training is deterministic, so the three
    vocab-family queries share one fit instead of retraining (the IVF
    index-cache precedent)."""
    from hquery_php_spark.operators.bpe import bpe_train, word_freqs

    key = _docs_cache_key(sf_dir)
    got = _BPE_MERGE_CACHE.get(key)
    if got is None:
        got = bpe_train(word_freqs(_docs(spark, sf_dir)), _BPE_MERGES)
        _BPE_MERGE_CACHE[key] = got
    return got


_UNIGRAM_CACHE: dict = {}
_UNI_PARAMS = dict(
    vocab_size=4, max_piece_len=3, rounds=1, min_count=1, seed_cap=64
)


def _unigram_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-family synthetic word corpus (doc_id % 3 → abab / abcabc /
    aabb): small enough that the full EM arithmetic has a closed-form
    SQL twin, rich enough to exercise seeding, Viterbi ties (aabb's
    [aab,b] vs [a,abb] is an EXACT integer tie resolved by the pinned
    longer-last-piece rule), and pruning."""
    return (
        _docs(spark, sf_dir)
        .select(
            F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("abab"))
            .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.lit("abcabc"))
            .otherwise(F.lit("aabb"))
            .alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _unigram_fit(spark: SparkSession, sf_dir: str):
    """Memoized driver-row unigram fit (the _bpe_merges precedent)."""
    from hquery_php_spark.operators.unigram import train_unigram

    key = _docs_cache_key(sf_dir)
    got = _UNIGRAM_CACHE.get(key)
    if got is None:
        out, scores = train_unigram(
            _unigram_words(spark, sf_dir), **_UNI_PARAMS
        )
        got = ([tuple(r) for r in out.collect()], scores)
        _UNIGRAM_CACHE[key] = got
    return got


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed unigram-LM (SentencePiece) tokenizer training
    (operators/unigram.py): hard-EM over the word table, integer
    micro-nat scores; (piece, cnt, lp_micro) final vocabulary."""
    rows, _ = _unigram_fit(spark, sf_dir)
    return spark.createDataFrame(
        rows, "piece string, cnt long, lp_micro long"
    )


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi encoding under the trained table: one row per doc with
    the piece sequence of its synthetic word."""
    from hquery_php_spark.operators.unigram import unigram_encode_df

    _, scores = _unigram_fit(spark, sf_dir)
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("abab"))
        .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.lit("abcabc"))
        .otherwise(F.lit("aabb"))
        .alias("text"),
    )
    return unigram_encode_df(
        d, scores, _UNI_PARAMS["max_piece_len"]
    ).select(
        "doc_id",
        F.concat_ws("|", F.col("pieces")).alias("pieces"),
        F.col("n_pieces"),
    )


def q_unigram_train_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer at REAL-corpus parameters (full word_freqs scan,
    4-char pieces, 2 EM rounds, 256-piece budget) — the bench row for
    actual training cost.  Rows-only: EM over an open vocabulary has
    no closed-form SQL; values are pinned by the parameter-identical
    driver-corpus twin (`unigram_train`) plus the distributed ==
    single-process equality test (tests/test_unigram.py)."""
    from hquery_php_spark.operators.bpe import word_freqs
    from hquery_php_spark.operators.unigram import train_unigram

    out, _ = train_unigram(
        word_freqs(_docs(spark, sf_dir)),
        vocab_size=256, max_piece_len=4, rounds=2, min_count=2,
        seed_cap=2048,
    )
    return out


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: one corpus→vocab shuffle,
    then 16 expression-level merge rounds on the vocab table (pair
    counts via regexp_extract_all + partial agg; merge apply is ONE
    non-overlapping replace on the wrapped-symbol string)."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rk long, k1 string, k2 string, merged string, n long"
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded-corpus vocabulary after applying the trained merges: the
    encode leg is a zero-shuffle chain of JVM replace calls (the
    mapInPandas twin bpe_encode_map is pinned equal in tests)."""
    from hquery_php_spark.operators.bpe import bpe_encode_tokens

    merges = _bpe_merges(spark, sf_dir)
    enc = _spread(_docs(spark, sf_dir), spark).select(
        F.explode(bpe_encode_tokens(F.col("text"), merges)).alias("tok")
    )
    return (
        enc.groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(_BPE_TOP)
    )


def q_vocab_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary family in one driver row: fam='vocab' rows are the
    raw top-20 corpus vocabulary, fam='merge' rows the 16 trained BPE
    merges (rk, lhs, rhs, pair_freq), fam='enc' rows the top-20
    encoded-corpus tokens — train + encode value-checked end-to-end."""
    from hquery_php_spark.operators.bpe import bpe_encode_tokens

    vocab = q_vocab_top(spark, sf_dir).select(
        F.lit("vocab").alias("fam"),
        F.lit(-1).cast("long").alias("rk"),
        F.col("tok").alias("k1"),
        F.lit("").alias("k2"),
        F.col("n").cast("long").alias("n"),
    )
    merges = _bpe_merges(spark, sf_dir)
    m = spark.createDataFrame(
        [("merge", r, a, b, c) for r, a, b, _, c in merges],
        "fam string, rk long, k1 string, k2 string, n long",
    )
    enc = _spread(_docs(spark, sf_dir), spark).select(
        F.explode(bpe_encode_tokens(F.col("text"), merges)).alias("tok")
    )
    ev = (
        enc.groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(_BPE_TOP)
        .select(
            F.lit("enc").alias("fam"),
            F.lit(-1).cast("long").alias("rk"),
            F.col("tok").alias("k1"),
            F.lit("").alias("k2"),
            "n",
        )
    )
    uni = q_unigram_train(spark, sf_dir).select(
        F.lit("uni").alias("fam"),
        F.col("lp_micro").alias("rk"),
        F.col("piece").alias("k1"),
        F.lit("").alias("k2"),
        F.col("cnt").alias("n"),
    )
    uenc = (
        q_unigram_encode(spark, sf_dir)
        .groupBy("pieces", "n_pieces")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.lit("uenc").alias("fam"),
            F.col("n_pieces").cast("long").alias("rk"),
            F.col("pieces").alias("k1"),
            F.lit("").alias("k2"),
            "n",
        )
    )
    return (
        vocab.unionByName(m).unionByName(ev)
        .unionByName(uni).unionByName(uenc)
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    qvec = (
        embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    return brute_force_topk(
        _spread(embs.where(F.col("vec_id") != 0), spark, key="vec_id"), qvec, k=10
    ).select("id", F.round("cos", 4).alias("cos_r"))


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN over a MATERIALIZED IVF index: the embeddings are
    written once, partitioned by the portable sign-LSH bucket, and the
    query's Hamming-ball filter prunes partitions at planning time —
    the actual 100 TB path, value-checked against ivf_oracle_sql."""
    import os

    from hquery_php_spark.operators.similarity import (
        ivf_topk_indexed,
        write_ivf_index,
    )

    embs = _embs(spark, sf_dir)
    qvec = (
        embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    # cache key includes the source file's identity (size+mtime): a stale
    # index from a regenerated testdata set must never be reused
    src = f"{sf_dir}/embeddings.parquet"
    st_ = os.stat(src)
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_p6_{st_.st_size}_{int(st_.st_mtime)}"
    idx = f"/tmp/spark_graft_ivf/{tag}"
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        # spread before the per-row bucket compute: the test parquet is a
        # single input split, and write_ivf_index's own repartition("bucket")
        # only kicks in AFTER the buckets are computed
        write_ivf_index(
            _spread(embs, spark, key="vec_id"), idx, n_planes=6
        )
    return ivf_topk_indexed(
        spark, idx, qvec, k=10, n_planes=6, hamming_radius=2, exclude_id=0,
    ).select("id", F.round("cos", 4).alias("cos_r"))


def _dedup_minhash_verify_df(
    spark: SparkSession, sf_dir: str, registry: list
) -> DataFrame:
    """The LAZY distributed probe→verify pipeline (used by
    q_dedup_minhash and by tools/dump_plans.py, whose PLANS.md exhibit is
    this plan).  Every DataFrame it persists is appended to ``registry``
    — the caller releases them once the output is materialized."""
    d = _spread(_docs(spark, sf_dir), spark)
    # signatures are tiny (id + 16 longs/doc): persist so the LSH self-
    # join's two sides share one computation instead of re-shingling.
    sigs = minhash_signatures(d, num_perm=16, shingle_k=8).persist()
    # candidates feed the verify stage twice (the candidate-id semi-join
    # prune and the pair join) — persist and materialize the small pair
    # table eagerly so sigs can be released before the verify runs.
    cands = minhash_lsh_candidates(sigs, bands=2, rows_per_band=8).persist()
    registry.append(cands)
    cands.count()
    sigs.unpersist()
    # persist_shingles: without it the plan contains two identical
    # scan→semi-join→shingle subtrees (one per join side) — a double
    # corpus scan at 100 TB.
    return ngram_jaccard_verify(
        d, cands, k=8, threshold=0.6, persist_shingles=True,
        persist_registry=registry,
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact n-gram Jaccard — the
    polynomial/affine hash family with injective band keys, so
    the whole probe→verify pipeline has an exact DuckDB value oracle
    (minhash_verify_oracle_sql)."""
    reg: list = []
    out = _dedup_minhash_verify_df(spark, sf_dir, reg)
    # Materialize the verified pairs — the SMALL end of the probe→verify
    # funnel (LSH-pruned, threshold-filtered) — then release every cached
    # intermediate deterministically: without this, each invocation in a
    # long-lived session leaks its shingle/candidate caches.  A scale
    # deployment writes `out` to a table and unpersists the registry; the
    # harness equivalent of that sink is this driver materialization.
    try:
        rows = out.collect()
    finally:
        # a failed collect must still release the caches — leaking them
        # defeats the release discipline in a long-lived session
        for cached in reg:
            cached.unpersist()
    return spark.createDataFrame(rows, out.schema)


def q_text_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text-dedup closure: portable MinHash→LSH→verified pairs →
    connected components → (id, cluster_id) keep-one-per-cluster map.
    Oracle = recursive CTE over the same verified-pair SQL."""
    from hquery_php_spark.operators.dedup import connected_components

    pairs = q_dedup_minhash(spark, sf_dir)
    return connected_components(pairs)


def q_dedup_ngram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-gram Jaccard self-pairs above 0.6 — the brute-force ground
    truth for the MinHash+LSH path (SQL oracle)."""
    d = _spread(_docs(spark, sf_dir), spark)
    ids = d.select(F.col("doc_id").alias("id"), F.col("text"))
    from hquery_php_spark.operators.dedup import char_shingles

    sh = ids.select("id", F.array_distinct(char_shingles(F.col("text"), 8)).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a.sh", "b.sh"))
            / F.size(F.array_union("a.sh", "b.sh")),
        )
        .where(F.col("jaccard") >= 0.6)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (winnowing/MOSS): portable
    polynomial k-gram hashes, min-per-window selection — the
    cross-system dedup-ledger fingerprint, value-checked in SQL."""
    from hquery_php_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _spread(_docs(spark, sf_dir), spark), k=8, window=4
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit set-SimHash per doc over the portable char-8-gram family —
    exact DuckDB value oracle (simhash_oracle_sql)."""
    from hquery_php_spark.operators.dedup import simhash64_portable_df

    return simhash64_portable_df(
        _spread(_docs(spark, sf_dir), spark), k=8
    ).select(F.col("id").alias("doc_id"), "simhash")


# --------------------------------------------------------------------- #
# Boilerplate strip / exclude / structured extraction / pseudo slices

def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star boilerplate strip: nav/footer/head chrome dropped via
    skip_inside + link-density suppression → exactly the main text."""
    from hquery_php_spark.core.extract import ExtractOptions
    from hquery_php_spark.sources.html_synth import synth_boiler_html_col

    d = _spread(_docs(spark, sf_dir), spark).select(
        "doc_id",
        synth_boiler_html_col(F.col("doc_id"), F.col("text")).alias("html"),
    )
    opts = ExtractOptions(
        skip_inside=("head", "nav", "footer"), media_tags=(("img", "src"),)
    )
    spans = extract_spans_df(d, base_url_col=None, opts=opts)
    return explode_spans(spans).select(
        F.col("doc_id").cast("long").alias("doc_id"), "kind", "text", "offset"
    )


def q_exclude_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 `exclude`: subtract nav+footer from body's content view."""
    from hquery_php_spark.core.doc import HDoc
    from hquery_php_spark.sources.html_synth import synth_boiler_html_col
    from pyspark.sql.types import StringType, StructField, StructType

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        synth_boiler_html_col(F.col("doc_id"), F.col("text")).alias("html"),
    )
    schema = StructType(
        [StructField("doc_id", StringType()), StructField("main_text", StringType())]
    )

    def row(doc_id, html):
        body = HDoc(html.encode("utf-8")).find("body").first()
        body.exclude("nav")
        body.exclude("footer")
        return [(doc_id, body.text().strip())]

    return map_rows(d, schema, row)


def q_dl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 dl() + E10 text2dl(): structured key→value extraction."""
    from hquery_php_spark.core.doc import HDoc
    from hquery_php_spark.sources.html_synth import synth_dl_html_col
    from pyspark.sql.types import StringType, StructField, StructType

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        synth_dl_html_col(F.col("source"), F.col("lang")).alias("html"),
    )
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("dl_source", StringType()),
            StructField("dl_lang", StringType()),
            StructField("t2_source", StringType()),
            StructField("t2_lang", StringType()),
        ]
    )

    def row(doc_id, html):
        doc = HDoc(html.encode("utf-8"))
        dl = doc.find("dl").first().dl("dt", "dd")
        t2 = doc.find("pre").first().text2dl(":")
        return [(
            doc_id,
            dl.get("source"),
            dl.get("lang"),
            t2.get("source"),
            t2.get("lang"),
        )]

    return map_rows(d, schema, row)


def q_pseudo_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3/Q12-Q18 pseudos: :lt/:gt/:last, :next/:prev/:parent, `~`
    sibling, :children, OR comma groups — counts over per-word spans."""
    from hquery_php_spark.core.doc import HDoc
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _wordwise_html().alias("html"),
    )
    fields = {
        "n_lt3": "span:lt(3)",
        "n_gt3": "span:gt(3)",
        "n_next": "span.w0:next",
        "n_prev": "span.w1:prev",
        "n_parent": "span:parent",
        "n_tilde": "span ~ span",
        "n_children": "div:children",
        "n_or": "span.w0, span.w1",
    }
    schema = StructType(
        [StructField("doc_id", StringType())]
        + [StructField(f, IntegerType()) for f in fields]
        + [StructField("last_w", StringType())]
    )
    sels = list(fields.values())

    def row(doc_id, html):
        doc = HDoc(html.encode("utf-8"))
        counts = [len(r) if r else 0 for r in map(doc.find, sels)]
        return [(doc_id, *counts, doc.find("span:last").first().text())]

    return map_rows(d, schema, row)


_CS_PRE = '<html><head><meta charset="ISO-8859-1"></head><body><p>café '
_CS_POST = "</p></body></html>"
# span offset is a byte offset into the UTF-8-CONVERTED document (é = 2 bytes)
_CS_OFFSET = len(_CS_PRE.encode("utf-8")) - len("café ".encode("utf-8"))


def q_charset_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule charset-aware decoding end-to-end: documents arrive as
    ISO-8859-1 *bytes* (0xE9 for é), the engine sniffs the meta charset,
    converts to UTF-8, and indexes the converted string — offsets are
    UTF-8 byte offsets, span text is proper UTF-8."""
    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode(
            F.concat(
                F.lit(_CS_PRE),
                F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
                F.lit(_CS_POST),
            ),
            "ISO-8859-1",
        ).alias("html"),
    )
    spans = extract_spans_df(d, base_url_col=None)
    # one posexplode keeping the charset column — a self-join of two
    # branches of the same mapInPandas output would run the per-doc
    # extraction twice (no common-subplan reuse in the DataFrame API)
    return (
        spans.select("doc_id", "charset", F.posexplode("spans").alias("ord", "span"))
        .where(F.col("span.kind") == "text")
        .select(
            "doc_id",
            F.col("span.text").alias("text"),
            F.col("span.offset").alias("offset"),
            "charset",
        )
    )


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition — the full training-data prep path in one
    plan: render boilerplate-heavy HTML → engine-extract the main text
    (boilerplate stripped) → token-count quality gate → exact dedup
    keeping the canonical (min-id) copy.  Every step is SQL-expressible
    through the template inversion, so the whole pipeline value-checks."""
    from hquery_php_spark.core.extract import ExtractOptions
    from hquery_php_spark.sources.html_synth import synth_boiler_html_col

    d = _spread(_docs(spark, sf_dir), spark).select(
        "doc_id",
        synth_boiler_html_col(F.col("doc_id"), F.col("text")).alias("html"),
    )
    opts = ExtractOptions(
        skip_inside=("head", "nav", "footer"), media_tags=(("img", "src"),)
    )
    spans = extract_spans_df(d, base_url_col=None, opts=opts)
    texts = explode_spans(spans.select("doc_id", "spans")).where(
        F.col("kind") == "text"
    ).select(F.col("doc_id").cast("long").alias("doc_id"), F.col("text").alias("main_text"))
    scored = texts.withColumn(
        "n_tokens", F.size(F.split(F.col("main_text"), r"\s+"))
    ).where(F.col("n_tokens") >= 5)
    fp = scored.withColumn("fp", F.md5(F.lower(F.col("main_text"))))
    kept = fp.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.max("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_copies"),
    )
    return kept.select("doc_id", "fp", "n_tokens", "n_copies")


# --------------------------------------------------------------------- #
# Multimodal plumbing (binary payload → typed metadata / features)

def _png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PNG headers synthesized JVM-side: signature + IHDR
    with width/height derived from doc_id (29 bytes each)."""
    w = (F.pmod(F.col("doc_id"), F.lit(64)) + 16).cast("int")
    h = (F.pmod(F.col("doc_id"), F.lit(48)) + 16).cast("int")
    hexstr = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("0806000000"),
    )
    return _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.unhex(hexstr).alias("payload"),
    )


# JPEG driver rows: dims + constant-gray level derive from doc_id
# (multiples of 8 so no edge-replication enters the closed form);
# quality 30 so q00=27 makes the quantization step non-degenerate.
_JPEG_Q = 30


def _jpeg_q00() -> int:
    from hquery_php_spark.operators.jpeg import quant_tables

    return int(quant_tables(_JPEG_Q)[0][0])


_JPEG_Q00 = _jpeg_q00()


def _jpeg_w(did):
    return ((F.pmod(did, F.lit(8)) + 1) * 8).cast("int")


def _jpeg_h(did):
    return ((F.pmod(did, F.lit(6)) + 1) * 8).cast("int")


def _jpeg_hdr_payloads(
    spark: SparkSession, sf_dir: str, sof: str = "FFC0", prefix: str = "j",
    exif: bool = False,
) -> DataFrame:
    """Deterministic JPEG headers synthesized JVM-side: SOI + SOFn
    (precision 8, h, w, 1 component) — 15 bytes each, enough for mime
    sniff + SOF dimension parse.  ``sof='FFC2'`` makes progressive
    headers (media_id prefix 'p').  ``exif=True`` inserts a real APP1
    EXIF block (little-endian TIFF, single IFD, Orientation tag 274 =
    1 + doc_id % 8 — 36 bytes) between SOI and SOF, so the EXIF walk
    is driver-checked."""
    did = F.col("doc_id")
    exif_hex = (
        F.concat(
            # FFE1 len=0x22 'Exif\0\0' 'II*\0' ifd@8 n_tags=1
            F.lit("FFE10022" "457869660000" "49492A00" "08000000" "0100"
                  # tag 274 (0x0112 LE), type SHORT, count 1
                  "12010300" "01000000"),
            # orientation value: short LE + 2 pad bytes
            F.lit("0"), F.hex(F.lit(1) + F.pmod(did, F.lit(8))),
            F.lit("000000" "00000000"),
        )
        if exif
        else F.lit("")
    )
    hexstr = F.concat(
        F.lit("FFD8"),
        exif_hex,
        F.lit(sof + "000B" + "08"),
        F.lpad(F.hex(_jpeg_h(did)), 4, "0"),
        F.lpad(F.hex(_jpeg_w(did)), 4, "0"),
        F.lit("01" + "011100"),
    )
    return _spread(_docs(spark, sf_dir), spark).select(
        F.concat(F.lit(prefix), did.cast("string")).alias("media_id"),
        F.unhex(hexstr).alias("payload"),
    )


def _jpeg_full_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE baseline JPEGs (DQT/SOF0/DHT/SOS, huffman-coded MCUs)
    from the in-repo encoder: constant gray c = doc_id % 256 at
    quality _JPEG_Q, so the decoded level has the closed form of
    ``constant_gray_decoded_level`` (pure integer math, SQL twin)."""
    import numpy as np

    from hquery_php_spark.operators.jpeg import encode_jpeg

    def gen(did):
        w, h = 8 * (1 + did % 8), 8 * (1 + did % 6)
        c = did % 256
        px = np.full((h, w, 3), c, dtype=np.uint8)
        yield f"j{did}", encode_jpeg(px, quality=_JPEG_Q)
        # entropy-stage twins: progressive huffman ('p'),
        # sequential arithmetic ('a'), progressive arithmetic
        # ('q') — each recodes the SAME coefficients →
        # identical decoded pixels, sharing the 'j' rows'
        # closed-form oracle
        yield f"p{did}", encode_jpeg(px, quality=_JPEG_Q, progressive=True)
        yield f"a{did}", encode_jpeg(px, quality=_JPEG_Q, arithmetic=True)
        yield f"q{did}", encode_jpeg(
            px, quality=_JPEG_Q, progressive=True, arithmetic=True
        )
        # 12-bit leg ('t'): grayscale constant in 0..4095,
        # sequential arithmetic — its own closed form (level
        # shift 2048); decode_image presents the >>4 view
        c12 = (did * 16 + 7) % 4096
        px12 = np.full((h, w), c12, dtype=np.uint16)
        yield f"t{did}", encode_jpeg(
            px12, quality=_JPEG_Q, arithmetic=True, precision=12
        )

    return _doc_payloads(spark, sf_dir, gen)


def _gif_w(did):
    return (F.pmod(did, F.lit(40)) + 5).cast("int")


def _gif_h(did):
    return (F.pmod(did, F.lit(30)) + 5).cast("int")


def _gif_hdr_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GIF89a headers synthesized JVM-side: signature +
    logical screen descriptor — 13 bytes, enough for mime sniff +
    dimension parse (media_id = 'g'<doc_id>).  Little-endian dims."""
    did = F.col("doc_id")

    def le16(col):
        # little-endian u16 as hex; dims here are < 256, so high byte 00
        return F.concat(F.lpad(F.hex(col), 2, "0"), F.lit("00"))

    hexstr = F.concat(
        F.lit("474946383961"),  # "GIF89a"
        le16(_gif_w(did)),
        le16(_gif_h(did)),
        F.lit("F70000"),  # GCT flag + size 256, bg 0, aspect 0
    )
    return _spread(_docs(spark, sf_dir), spark).select(
        F.concat(F.lit("g"), did.cast("string")).alias("media_id"),
        F.unhex(hexstr).alias("payload"),
    )


def _gif_full_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE GIFs (real LZW compression) from the in-repo encoder:
    constant gray c = doc_id % 256 — GIF is lossless, so the decoded
    pixel sums are exactly w·h·c (the SQL twin)."""
    import numpy as np

    from hquery_php_spark.operators.gif import encode_gif

    def gen(did):
        w, h = 5 + did % 40, 5 + did % 30
        g = np.full((h, w), did % 256, dtype=np.uint8)
        yield f"g{did}", encode_gif(g)

    return _doc_payloads(spark, sf_dir, gen)


def _webp_w(did):
    return (F.pmod(did, F.lit(37)) + 3).cast("int")


def _webp_h(did):
    return (F.pmod(did, F.lit(23)) + 3).cast("int")


def _webp_hdr_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic VP8L headers synthesized JVM-side: RIFF/WEBP/VP8L
    + the 32-bit (w-1, h-1) field — 25 bytes, enough for mime sniff +
    dimension parse (media_id = 'w'<doc_id>)."""
    did = F.col("doc_id")
    bits = (_webp_w(did) - 1).cast("long") + (_webp_h(did) - 1).cast("long") * 16384

    def byte_hex(v):
        return F.lpad(F.hex(v), 2, "0")

    hexstr = F.concat(
        F.lit("52494646" + "11000000" + "57454250" + "5650384C" + "05000000" + "2F"),
        byte_hex(F.pmod(bits, F.lit(256))),
        byte_hex(F.pmod((bits / 256).cast("long"), F.lit(256))),
        byte_hex((bits / 65536).cast("long")),
        F.lit("00"),
    )
    return _spread(_docs(spark, sf_dir), spark).select(
        F.concat(F.lit("w"), did.cast("string")).alias("media_id"),
        F.unhex(hexstr).alias("payload"),
    )


def _webp_full_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE lossless-WebP (VP8L) payloads from the in-repo encoder:
    constant gray c = doc_id % 256, encoded through subtract-green +
    color cache + LZ77 so the decode exercises the transform and
    backward-reference paths.  Lossless → decoded sums are exactly
    w·h·c (the SQL twin)."""
    import numpy as np

    from hquery_php_spark.operators.webp import encode_webp_lossless

    def gen(did):
        w, h = 3 + did % 37, 3 + did % 23
        px = np.full((h, w, 3), did % 256, dtype=np.uint8)
        yield f"w{did}", encode_webp_lossless(
            px, subtract_green=True, use_lz77=True, use_cache_bits=4
        )

    return _doc_payloads(spark, sf_dir, gen)


def _vp8_full_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE lossy-WebP (VP8 key frame) payloads from the in-repo
    stream writer: a Y2-DC-only frame (level L = 1 + doc_id % 24 at
    qi=100, all macroblocks DC-predicted) whose reconstruction is the
    uniform luma 128 + ((L*196 + 3)//8 + 4)//8 — the iWHT/iDCT DC
    closed form, so the decode (bool decoder, header, mode parse,
    token decode, dequant, transforms, prediction) is value-checked in
    SQL.  Every payload also decodes bit-exact in libwebp (pinned by
    tests/test_vp8_conformance.py)."""
    from hquery_php_spark.operators.vp8 import (
        MBSpec,
        encode_vp8_stream,
        wrap_webp,
    )

    def gen(did):
        w, h = 5 + did % 44, 4 + did % 37
        lvl = 1 + did % 24
        mbw, mbh = (w + 15) // 16, (h + 15) // 16
        mbs = [MBSpec(y2_block=[lvl] + [0] * 15)] + [
            MBSpec() for _ in range(mbw * mbh - 1)
        ]
        yield f"v{did}", wrap_webp(encode_vp8_stream(w, h, mbs, qi=100))

    return _doc_payloads(spark, sf_dir, gen)


def _tiff_full_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE uncompressed TIFFs from the in-repo codec — constant
    gray c = doc_id % 256, alternating II/MM byte order, 4-row strips
    (media_id = 't'<doc_id>).  Lossless → sums are exactly w·h·c."""
    import numpy as np

    from hquery_php_spark.operators.tiff import encode_tiff

    def gen(did):
        w, h = 6 + did % 21, 4 + did % 17
        g = np.full((h, w), did % 256, dtype=np.uint8)
        yield f"t{did}", encode_tiff(g, big_endian=bool(did % 2), rows_per_strip=4)

    return _doc_payloads(spark, sf_dir, gen)


def _wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE RIFF/WAVE PCM payloads from the in-repo encoder
    (operators/wav.py) — per doc the bit depth cycles 8/16/24/32, the
    channel count 1/2, so every decode branch runs.  Sample values are
    the affine-mod formula v(i, c) = (doc_id·7 + i·13 + c·5) % 251 − 125
    (fits all depths incl. 8-bit), making every decoded statistic a
    closed-form SQL sum (media_id = 'a'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.wav import encode_wav

    def gen(did):
        bits = (8, 16, 24, 32)[did % 4]
        ch = 1 + did % 2
        rate = 8000 + (did % 4) * 4000
        n = 16 + did % 49
        i = np.arange(n)[:, None]
        c = np.arange(ch)[None, :]
        v = (did * 7 + i * 13 + c * 5) % 251 - 125
        yield f"a{did}", encode_wav(v, rate, bits)

    return _doc_payloads(spark, sf_dir, gen)


def _flac_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE FLAC payloads (operators/flac.py: fixed predictors +
    rice residuals, CRC-8/16) over the SAME affine-mod sample formula
    as the WAV rows — FLAC is lossless, so both codec families share
    one closed-form twin (media_id = 'f'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.flac import encode_flac

    def gen(did):
        ch = 1 + did % 2
        rate = 8000 + (did % 4) * 4000
        n = 16 + did % 49
        i = np.arange(n)[:, None]
        c = np.arange(ch)[None, :]
        v = (did * 7 + i * 13 + c * 5) % 251 - 125
        yield f"f{did}", encode_flac(v, rate, bits=16)

    return _doc_payloads(spark, sf_dir, gen)


def _g711_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE G.711 WAVs, BOTH companding laws (operators/wav.py
    format tags 7=µ-law and 6=A-law) — the telephony-archive audio a
    crawl corpus actually carries.  Code bytes are the affine-mod
    stream c(i, ch) = (doc_id·3 + i·7 + ch·11) % 256; the CCITT
    expansion is pure integer arithmetic, so the decoded statistics are
    written directly in SQL by the twin (media_id = 'u'<doc_id> µ-law,
    'l'<doc_id> A-law)."""
    import numpy as np

    from hquery_php_spark.operators.wav import encode_wav_g711

    def gen(did):
        ch = 1 + did % 2
        n = 20 + did % 41
        i = np.arange(n)[:, None]
        c = np.arange(ch)[None, :]
        codes = ((did * 3 + i * 7 + c * 11) % 256).astype(np.uint8)
        yield f"u{did}", encode_wav_g711(codes, 8000, "u")
        yield f"l{did}", encode_wav_g711(codes, 8000, "a")

    return _doc_payloads(spark, sf_dir, gen)


# IMA-ADPCM oracle constants: with the fixed 64-nibble pattern below and
# step index 30, the decode never clamps for pred0 ∈ [3000, 4500), so
# sample j = pred0 + P_j where P is a fixed prefix-sum walk.  The twin
# needs only ΣP, ΣP², max(P) (tests/test_wav.py re-derives these from
# the decoder and pins them against this table).
_ADPCM_NIBBLES = [4, 12, 1, 9, 0, 8, 2, 10] * 8
_ADPCM_N = 65          # header sample + 64 nibbles
_ADPCM_S1 = -1616      # Σ P_j
_ADPCM_S2 = 154008     # Σ P_j²
_ADPCM_PMAX = 146      # max P_j   (min P_j = -66 > -3000: all positive)


def _adpcm_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE IMA/DVI-ADPCM WAVs (operators/wav.py format tag 17:
    block header + 4-bit differential nibbles, step/index tables) —
    built from a FIXED nibble stream with a per-doc initial predictor
    pred0 = 3000 + (doc_id·37) % 1500, chosen clamp-free so every
    decoded sample is pred0 + P_j and the statistics are closed-form
    (media_id = 'd'<doc_id>; constants pinned in tests/test_wav.py)."""
    from hquery_php_spark.operators.wav import build_adpcm_wav

    def gen(did):
        pred0 = 3000 + (did * 37) % 1500
        yield f"d{did}", build_adpcm_wav(_ADPCM_NIBBLES, pred0, 30, 11025)

    return _doc_payloads(spark, sf_dir, gen)


def _avi_audio_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE AVIs carrying a PCM16 AUDIO stream next to the DIB
    video (operators/avi.py: two strl entries, '01wb' chunks split on
    block boundaries and interleaved with the frames) — the demuxed
    samples reuse the WAV rows' affine-mod formula, so the twin shares
    the same closed-form aggregate (media_id = 'b'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.avi import encode_avi

    def gen(did):
        ch = 1 + did % 2
        rate = 8000 + (did % 4) * 4000
        n = 16 + did % 49
        i = np.arange(n)[:, None]
        c = np.arange(ch)[None, :]
        v = (did * 7 + i * 13 + c * 5) % 251 - 125
        frames = [
            np.full((3, 4, 3), (did + f * 31) % 256, np.uint8)
            for f in range(2)
        ]
        yield f"b{did}", encode_avi(frames, audio=v, audio_rate=rate)

    return _doc_payloads(spark, sf_dir, gen)


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, four codec families and two containers:
    WAV/PCM (8/16/24/32-bit, mono+stereo), compressed FLAC (rice +
    fixed predictors), G.711 µ-law/A-law telephony WAVs, IMA/DVI-ADPCM
    block-coded WAVs, and the PCM audio TRACK of AVI containers (auds
    stream demux) → exact integer sample statistics — the audio leg of
    the multimodal column contract."""
    from hquery_php_spark.operators.multimodal import audio_pcm_stats_df

    payloads = (
        _wav_payloads(spark, sf_dir)
        .unionByName(_flac_payloads(spark, sf_dir))
        .unionByName(_g711_payloads(spark, sf_dir))
        .unionByName(_adpcm_payloads(spark, sf_dir))
        .unionByName(_avi_audio_payloads(spark, sf_dir))
    )
    return audio_pcm_stats_df(payloads)


def _gif_anim_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE animated GIFs (2-6 full-screen frames, real LZW, per-
    frame graphic-control blocks) — frame f is the constant color
    (doc_id·11 + f·17) % 256, so every composited frame's pixel sums
    are closed-form (media_id = 'v'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.gif import encode_gif_animation

    def gen(did):
        w, h = 4 + did % 9, 3 + did % 7
        nf = 2 + did % 5
        frames = [
            np.full((h, w), (did * 11 + f * 17) % 256, np.uint8)
            for f in range(nf)
        ]
        yield f"v{did}", encode_gif_animation(frames, delays_cs=range(1, nf + 1))

    return _doc_payloads(spark, sf_dir, gen)


def _webp_anim_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE animated WebPs (ANIM/ANMF; 2-5 full-canvas VP8L frames,
    overwrite blending) — frame f is the constant color
    (doc_id·13 + f·19) % 256, so every composited frame's pixel sums
    are closed-form (media_id = 'y'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.webp import encode_webp_anim

    def gen(did):
        w, h = 3 + did % 8, 2 + did % 6
        nf = 2 + did % 4
        frames = [
            (0, 0,
             np.full((h, w, 3), (did * 13 + f * 19) % 256, np.uint8),
             10 * (f + 1), 1, 0)
            for f in range(nf)
        ]
        yield f"y{did}", encode_webp_anim(w, h, frames)

    return _doc_payloads(spark, sf_dir, gen)


def _avi_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE uncompressed-DIB AVIs (operators/avi.py: real RIFF
    hdrl/strl/movi structure, bottom-up BGR rows, 4-byte alignment) —
    frame f of doc d is the constant RGB (d·3+f·5, d·5+f·7, d·9+f·11)
    % 256, so sampled-frame sums are closed-form (media_id =
    'x'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.avi import encode_avi

    def gen(did):
        w, h = 4 + did % 6, 2 + did % 5
        nf = 1 + did % 4
        frames = [
            np.broadcast_to(
                np.array(
                    [
                        (did * 3 + f * 5) % 256,
                        (did * 5 + f * 7) % 256,
                        (did * 9 + f * 11) % 256,
                    ],
                    np.uint8,
                ),
                (h, w, 3),
            )
            for f in range(nf)
        ]
        yield f"x{did}", encode_avi(frames)

    return _doc_payloads(spark, sf_dir, gen)


def _webm_vp8_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE WebM videos (mediameta.py: real EBML mux — Segment/
    Tracks/Cluster/SimpleBlock) carrying 2-4 V_VP8 KEY frames from the
    in-repo RFC 6386 stream writer.  Frame f is the Y2-DC-only constant
    frame at level L = 1 + (doc_id·5 + f·9) % 24, so each decoded frame
    is the uniform gray r = (298·(112 + ((L·196+3)//8+4)//8) + 128)//256
    — the same closed form the lossy-WebP oracle pins, now exercised
    through the WebM demux + keyframe-sampler path (media_id =
    'z'<doc_id>)."""
    from hquery_php_spark.operators.mediameta import encode_webm_vp8
    from hquery_php_spark.operators.vp8 import MBSpec, encode_vp8_stream

    def gen(did):
        w, h = 5 + did % 28, 4 + did % 21
        nf = 2 + did % 3
        mbw, mbh = (w + 15) // 16, (h + 15) // 16
        streams = []
        for f in range(nf):
            lvl = 1 + (did * 5 + f * 9) % 24
            mbs = [MBSpec(y2_block=[lvl] + [0] * 15)] + [
                MBSpec() for _ in range(mbw * mbh - 1)
            ]
            streams.append(encode_vp8_stream(w, h, mbs, qi=100))
        yield f"z{did}", encode_webm_vp8(w, h, streams)

    return _doc_payloads(spark, sf_dir, gen)


def _avi_mjpeg_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE MJPEG AVIs (operators/avi.py: 'vids'/MJPG stream, one
    '00dc' baseline JPEG per frame from the in-repo T.81 encoder) —
    frame f is constant gray c = (doc_id·7 + f·3) % 256 at quality
    _JPEG_Q, dims multiples of 8, so each decoded frame follows the
    same constant-gray closed form as the baseline-JPEG oracle rows.
    Odd doc_ids write table-less frames (omit_dht) so the driver also
    pins the Annex-K default-Huffman injection path (media_id =
    'mj'<doc_id>)."""
    import numpy as np

    from hquery_php_spark.operators.avi import encode_avi_mjpeg

    def gen(did):
        w, h = 8 * (1 + did % 6), 8 * (1 + did % 4)
        nf = 1 + did % 3
        frames = [
            np.full((h, w, 3), (did * 7 + f * 3) % 256, np.uint8)
            for f in range(nf)
        ]
        yield f"mj{did}", encode_avi_mjpeg(
            frames, quality=_JPEG_Q, omit_dht=bool(did % 2)
        )

    return _doc_payloads(spark, sf_dir, gen)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-column frame sampling over FIVE real container paths:
    animated GIFs (GIF89a disposal compositing), animated WebPs
    (ANIM/ANMF canvas composition over VP8L frames), uncompressed-DIB
    AVIs (RIFF demux), MJPEG AVIs ('00dc' frames through the in-repo
    T.81 JPEG codec, incl. table-less Annex-K injection), and WebM with
    V_VP8 key frames (EBML cluster walk + the RFC 6386 VP8 decoder).
    Every 2nd source frame is re-encoded as a standalone PNG by
    video_frame_sample_df, and the sampled PNGs are decoded AGAIN for
    exact pixel sums — the whole demux → decode → sample →
    per-frame-feature path, end to end."""
    from hquery_php_spark.operators.multimodal import (
        image_pixel_stats_df,
        video_frame_sample_df,
    )

    payloads = (
        _gif_anim_payloads(spark, sf_dir)
        .unionByName(_webp_anim_payloads(spark, sf_dir))
        .unionByName(_avi_payloads(spark, sf_dir))
        .unionByName(_webm_vp8_payloads(spark, sf_dir))
        .unionByName(_avi_mjpeg_payloads(spark, sf_dir))
    )
    frames = video_frame_sample_df(payloads, every_n=2, max_frames=8)
    keyed = frames.select(
        F.concat_ws(":", "media_id", "frame_no").alias("media_id"),
        F.col("frame").alias("payload"),
    )
    stats = image_pixel_stats_df(keyed, allow_stub=False)
    parts = F.split("media_id", ":")
    return stats.select(
        parts.getItem(0).alias("media_id"),
        parts.getItem(1).cast("int").alias("frame_no"),
        "n_px",
        "sum_r",
        "sum_a",
    )


def _container_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal-but-valid MP4 (ISO-BMFF boxes, version-0 AND version-1
    mvhd/tkhd) and WebM (EBML) containers with deterministic metadata —
    media_id 'm'<doc_id> / 'k'<doc_id>.  Frame data is out of scope by
    design: container-walk metadata is the pre-decode filter operator."""
    from hquery_php_spark.operators.mediameta import (
        encode_mp4_stub,
        encode_webm_stub,
    )
    from hquery_php_spark.operators.mpegts import encode_ts_stub

    def gen(did):
        # video codec family cycles with did%4; profile/level/
        # depth parameters derive from did//4 so they vary
        # independently of the family parity.  Audio exists iff
        # n_tracks == 2 (odd did): mp4a under hev1, Opus under
        # vp09.  The codec_tags twin inverts this closed-form.
        vfam = did % 4
        sel = did // 4
        if vfam == 0:
            vc, vp = "avc1", {
                "profile": (66, 77, 100)[did % 3],
                "level": 10 + did % 42,
            }
        elif vfam == 1:
            p = 1 + sel % 2
            vc, vp = "hev1", {
                "profile": p, "level": 93 if p == 1 else 120,
            }
        elif vfam == 2:
            vc, vp = "av01", {
                "level": sel % 14, "high_bitdepth": bool(sel % 2),
            }
        else:
            vc, vp = "vp09", {
                "profile": sel % 4,
                "level": (10, 20, 30, 41)[sel % 4],
                "bit_depth": 10 if sel % 2 else 8,
            }
        yield f"m{did}", encode_mp4_stub(
            1000 + did % 9000,
            16 * (1 + did % 40),
            16 * (1 + did % 30),
            n_tracks=1 + did % 2,
            version1=(did % 3 == 0),
            video_codec=vc,
            video_params=vp,
            audio_codec="mp4a" if vfam == 1 else "Opus",
        )
        # WebM video codec cycles did%3 (V_VP8 bare / V_VP9
        # feature-list CodecPrivate / V_AV1 av1C CodecPrivate
        # whose sequence header carries the coded dims);
        # audio tracks are A_OPUS with a real OpusHead
        wfam = did % 3
        wsel = did // 3
        if wfam == 1:
            wc, wp = b"V_VP9", {
                "profile": wsel % 4,
                "level": (10, 20, 30, 41)[wsel % 4],
                "bit_depth": 10 if wsel % 2 else 8,
            }
        elif wfam == 2:
            wc, wp = b"V_AV1", {
                "level": wsel % 14,
                "high_bitdepth": bool(wsel % 2),
            }
        else:
            wc, wp = b"V_VP8", None
        yield f"k{did}", encode_webm_stub(
            100000 * (1 + did % 10),
            2 + did % 1919,
            2 + did % 1079,
            n_tracks=1 + did % 3,
            video_codec=wc,
            video_params=wp,
        )
        # HLS media segment ('s'): MPEG-2 transport stream —
        # PAT/PMT (CRC-verified), H.264 PES whose SPS carries
        # the coded dims, ADTS-AAC / MP3 / video-only audio
        # cycle, PCR span pinning the duration exactly
        yield f"s{did}", encode_ts_stub(
            1000 + did % 9000,
            2 * (1 + did % 959),
            2 * (1 + did % 539),
            avc_profile=(66, 77, 100)[did % 3],
            avc_level=10 + did % 42,
            audio=("aac", "mp3", None)[did % 3],
            aac_rate=(44100, 48000, 32000, 24000, 16000,
                      8000)[did % 6],
            aac_channels=1 + did % 2,
        )

    return _doc_payloads(spark, sf_dir, gen)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container metadata walk (MP4 boxes incl. per-track
    stsd codec fourccs AND the codec-configuration records — avcC with
    genuine SPS parse, hvcC, av1C sequence-header OBU, vpcC, esds, dOps
    — rendered as RFC 6381 codec strings with SPS-authoritative coded
    dims; WebM EBML incl. per-TrackEntry CodecID; AVI avih +
    stream-aware strl) — the filter-before-decode operator.  Fields a
    container does not carry are coalesced to 0/'' for the integer twin
    (the operator itself emits honest NULLs)."""
    from hquery_php_spark.operators.multimodal import video_meta_df

    payloads = _container_payloads(spark, sf_dir).unionByName(
        _avi_payloads(spark, sf_dir)
    )
    m = video_meta_df(payloads)
    z = F.lit(0)
    return m.select(
        "media_id",
        "mime",
        F.coalesce("width", z).alias("width"),
        F.coalesce("height", z).alias("height"),
        F.coalesce("n_tracks", z).alias("n_tracks"),
        F.coalesce("duration_ms", z).alias("duration_ms"),
        F.coalesce("timescale", z).alias("timescale"),
        F.coalesce("codecs", F.lit("")).alias("codecs"),
        F.coalesce("codec_tags", F.lit("")).alias("codec_tags"),
        F.coalesce("coded_width", z).alias("coded_width"),
        F.coalesce("coded_height", z).alias("coded_height"),
    )


def _ogg_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal valid Ogg streams with CRC-correct pages: an Opus one
    ('oa'<doc_id>) and a Vorbis one ('ob'<doc_id>) per doc, each
    carrying deterministic channel/rate/page/granule metadata."""
    from hquery_php_spark.operators.mediameta import encode_ogg_stub

    def gen(did):
        yield f"oa{did}", encode_ogg_stub(
            "opus", 1 + did % 2, 8000 * (1 + did % 6),
            n_pages=1 + did % 3,
            last_granule=960 * (1 + did % 50),
        )
        yield f"ob{did}", encode_ogg_stub(
            "vorbis", 1 + did % 8, 11025 * (1 + did % 4),
            n_pages=2 + did % 2,
            last_granule=1024 * (1 + did % 30),
        )

    return _doc_payloads(spark, sf_dir, gen)


def _mp3_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal valid MPEG Layer III streams ('p3'<doc_id>): version/
    bitrate/channel/frame-count parameters all derive from doc_id, with
    an ID3v2 prefix every 3rd doc and a Xing tag every 4th, so the
    frame-header walk's metadata inverts to closed-form SQL."""
    from hquery_php_spark.operators.mediameta import encode_mp3_stub

    rates = (44100, 48000, 32000, 22050, 24000, 16000)
    br_v1 = (64, 128, 192, 320)
    br_v2 = (32, 64, 96, 160)

    def gen(did):
        rate = rates[did % 6]
        br = (br_v1 if did % 6 < 3 else br_v2)[did % 4]
        yield f"p3{did}", encode_mp3_stub(
            1 + did % 5, br, rate, 1 + did % 2,
            id3v2_tag_size=(16 + did % 40) if did % 3 == 0 else None,
            xing=did % 4 == 0,
        )
        # 'pv': Xing-declared VBR duration on a short/truncated
        # stream — the walked count covers only the fetched
        # frames, the Xing frames field is the duration signal
        yield f"pv{did}", encode_mp3_stub(
            1 + did % 4, 128, rates[did % 3], 1 + did % 2,
            xing=True, declared_frames=20 + did % 30,
        )
        # 'pw': Fraunhofer VBRI header (MPEG-2 rates, spf 576)
        yield f"pw{did}", encode_mp3_stub(
            2 + did % 3, 96, rates[3 + did % 3],
            1 + (did + 1) % 2, vbri=True,
            declared_frames=50 + did % 20,
        )

    return _doc_payloads(spark, sf_dir, gen)


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio container metadata: Ogg page walk (CRC
    verified) + Opus/Vorbis identification headers, plus the MP3
    Layer III frame-header walk (ID3v2 skip, size arithmetic, Xing
    detection) — the pre-decode filter for audio, symmetric with
    media_meta's video walk."""
    from hquery_php_spark.operators.multimodal import audio_container_meta_df

    return audio_container_meta_df(
        _ogg_payloads(spark, sf_dir).unionByName(_mp3_payloads(spark, sf_dir))
    )


def _pagemeta_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured head-metadata extraction driver rows: synthesize a
    metadata-rich page per doc (OpenGraph, Twitter card, canonical
    against a per-doc base URL, JSON-LD incl. a deliberately broken
    block, RSS feed link), run operators/pagemeta.page_meta_rows —
    the hquery engine end to end — and emit (media_id, ord, kind,
    key, value) rows whose twin is pure string arithmetic."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from hquery_php_spark.operators.pagemeta import page_meta_rows

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("long").alias("did")
    )
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("ord", IntegerType()),
            StructField("kind", StringType()),
            StructField("key", StringType()),
            StructField("value", StringType()),
        ]
    )

    def gen(did):
        did = int(did)
        jsonld = (
            '<script type="application/ld+json">{broken'
            "</script>"
            if did % 4 == 3
            else '<script type="application/ld+json">'
            '{"@type": "%s"}</script>'
            % ("Article", "Product", "NewsArticle")[did % 3]
        )
        html = (
            '<html><head><meta charset="utf-8">'
            f"<title>Doc {did} Meta</title>"
            f'<link rel="canonical" href="/c/{did}">'
            + (
                f'<meta name="description" content="Desc {did}.">'
                if did % 2 == 0
                else ""
            )
            + f'<meta property="og:title" content="OG {did}">'
            + (
                '<meta property="og:image" content='
                f'"https://cdn.example.com/i/{did}.png">'
                if did % 3 != 0
                else ""
            )
            + '<meta name="twitter:card" content='
            + (
                '"summary">' if did % 2 == 0
                else '"summary_large_image">'
            )
            + (
                '<link rel="alternate" type="application/rss+xml"'
                ' href="/feed.xml">'
                if did % 5 == 0
                else ""
            )
            + jsonld
            + f"</head><body><p>Doc {did}</p></body></html>"
        )
        rows = page_meta_rows(
            html, f"https://ex{did % 7}.com/page/{did}"
        )
        return [
            (f"p{did}", i, r["kind"], r["key"], r["value"])
            for i, r in enumerate(rows)
        ]

    return map_rows(d, schema, gen)


def q_media_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio PCM statistics + sampled-video-frame statistics in one
    driver row: the non-image legs of the multimodal contract."""
    a = q_audio_stats(spark, sf_dir).select(
        F.lit("audio").alias("fam"),
        F.col("media_id").alias("k1"),
        F.col("sample_rate").cast("int").alias("k2"),
        F.col("n_channels").cast("long").alias("a"),
        F.col("n_samples").cast("long").alias("b"),
        F.col("sum_val").alias("c"),
        F.col("sum_abs").alias("d"),
        F.col("sum_sq").alias("e"),
        F.col("peak").cast("long").alias("f"),
    )
    v = q_frame_sample(spark, sf_dir).select(
        F.lit("frame").alias("fam"),
        F.col("media_id").alias("k1"),
        F.col("frame_no").alias("k2"),
        F.col("n_px").cast("long").alias("a"),
        F.col("sum_r").alias("b"),
        F.col("sum_a").alias("c"),
        F.lit(0).cast("long").alias("d"),
        F.lit(0).cast("long").alias("e"),
        F.lit(0).cast("long").alias("f"),
    )
    m = q_media_meta(spark, sf_dir).select(
        F.lit("vmeta").alias("fam"),
        F.concat_ws(":", "media_id", "codecs", "codec_tags").alias("k1"),
        F.col("width").cast("int").alias("k2"),
        F.col("height").cast("long").alias("a"),
        F.col("n_tracks").cast("long").alias("b"),
        F.col("duration_ms").cast("long").alias("c"),
        F.col("timescale").cast("long").alias("d"),
        F.col("coded_width").cast("long").alias("e"),
        F.col("coded_height").cast("long").alias("f"),
    )
    am = q_audio_meta(spark, sf_dir).select(
        F.lit("ameta").alias("fam"),
        F.concat_ws(":", "media_id", "codec").alias("k1"),
        F.col("sample_rate").cast("int").alias("k2"),
        F.col("channels").cast("long").alias("a"),
        F.col("n_pages").cast("long").alias("b"),
        F.col("n_streams").cast("long").alias("c"),
        F.col("last_granule").cast("long").alias("d"),
        F.lit(0).cast("long").alias("e"),
        F.lit(0).cast("long").alias("f"),
    )
    pm = _pagemeta_rows(spark, sf_dir).select(
        F.lit("pmeta").alias("fam"),
        F.concat_ws(":", "media_id", "kind", "key", "value").alias("k1"),
        F.col("ord").cast("int").alias("k2"),
        *[F.lit(0).cast("long").alias(c) for c in "abcdef"],
    )
    return (
        a.unionByName(v).unionByName(m).unionByName(am).unionByName(pm)
    )


def _heif_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structurally honest AVIF/HEIC containers (operators/heif.py:
    real ftyp/meta/iinf/iprp/ipco/ispe trees, garbage mdat padded to a
    deterministic size) — two of three are AVIF/av01, every third is
    HEIC/hvc1 (media_id = 'h'<doc_id>).  The meta walk is conformance-
    pinned against real libavif output in tests/test_heif.py."""
    from hquery_php_spark.operators.heif import encode_heif_stub

    def gen(did):
        heic = did % 3 == 0
        yield f"h{did}", encode_heif_stub(
            8 + did % 53,
            6 + did % 41,
            brand=b"heic" if heic else b"avif",
            codec=b"hvc1" if heic else b"av01",
            total_bytes=220 + did % 37,
        )

    return _doc_payloads(spark, sf_dir, gen)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte sniff + header dimension parse (PNG IHDR / JPEG SOF0 +
    SOF2 / GIF logical screen descriptor / WebP VP8L header / AVIF+HEIC
    ispe via the ISO-BMFF meta walk) over binary payload columns —
    every image family per doc."""
    from hquery_php_spark.operators.multimodal import image_meta_df

    payloads = (
        _png_payloads(spark, sf_dir)
        .unionByName(_jpeg_hdr_payloads(spark, sf_dir, exif=True))
        .unionByName(_jpeg_hdr_payloads(spark, sf_dir, sof="FFC2", prefix="p"))
        .unionByName(_gif_hdr_payloads(spark, sf_dir))
        .unionByName(_webp_hdr_payloads(spark, sf_dir))
        .unionByName(_tiff_full_payloads(spark, sf_dir))
        .unionByName(_heif_payloads(spark, sf_dir))
    )
    return image_meta_df(payloads)


# RGBA pixel template for the synthesized full PNGs — every pixel derives
# from (x, y, doc_id), so the decoded statistics invert to closed-form SQL
_PX_R = "(3*X + 5*Y + {d}) % 256"
_PX_G = "(7*X + 11*Y + 2*{d}) % 256"
_PX_B = "(13*X + 17*Y + 3*{d}) % 256"


def _png_full_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE deterministic PNGs (signature/IHDR/IDAT/IEND, valid
    CRCs, zlib-compressed pixel data): w,h and every RGBA pixel derive
    from doc_id via the _PX_* template; the scanline filter cycles
    0,1,2,3,4 by row so decoding exercises every unfilter path."""
    import numpy as np

    from hquery_php_spark.operators.multimodal import encode_png

    def gen(did):
        w, h = 16 + did % 64, 16 + did % 48
        y, x = np.mgrid[0:h, 0:w]
        px = np.stack(
            [
                (3 * x + 5 * y + did) % 256,
                (7 * x + 11 * y + 2 * did) % 256,
                (13 * x + 17 * y + 3 * did) % 256,
                np.full((h, w), 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        # every 7th payload is Adam7-interlaced: same pixels,
        # same oracle — the seven-pass decode path gets
        # driver-checked for free
        yield str(did), encode_png(
            px, row_filter=lambda yy: yy % 5,
            interlace=did % 7 == 0,
        )

    return _doc_payloads(spark, sf_dir, gen)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image features end-to-end, ALL SEVEN codec families: full
    PNGs (stdlib zlib + all five scanline unfilters), baseline AND
    progressive JPEGs (the numpy huffman+IDCT codec), GIFs (real LZW),
    lossless WebP (VP8L), lossy WebP (the RFC 6386 VP8 key-frame
    decoder, bit-exact vs libwebp), and uncompressed TIFFs (both byte
    orders) are synthesized, decoded, and reduced to exact per-channel
    pixel sums + dimensions.  PNG sums invert the pixel template; JPEG
    and VP8 sums follow constant-gray DC closed forms; GIF/VP8L/TIFF
    are lossless (sums = w·h·c) — all value-checked in SQL.
    allow_stub=False: every payload MUST decode (no silent NULL row).
    Means derive from the sums JVM-side (identical rounding semantics
    in both engines)."""
    from hquery_php_spark.operators.multimodal import image_pixel_stats_df

    payloads = (
        _png_full_payloads(spark, sf_dir)
        .unionByName(_jpeg_full_payloads(spark, sf_dir))
        .unionByName(_gif_full_payloads(spark, sf_dir))
        .unionByName(_webp_full_payloads(spark, sf_dir))
        .unionByName(_vp8_full_payloads(spark, sf_dir))
        .unionByName(_tiff_full_payloads(spark, sf_dir))
    )
    stats = image_pixel_stats_df(payloads, allow_stub=False)
    npx = F.col("n_px").cast("double")
    return stats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        "sum_a",
        F.round(F.col("sum_r") / npx, 4).alias("mean_r"),
        F.round(F.col("sum_g") / npx, 4).alias("mean_g"),
        F.round(F.col("sum_b") / npx, 4).alias("mean_b"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document paragraph dedup: texts are chunked
    into 10-word paragraphs (deterministic, SQL-invertible), every
    occurrence after the corpus-wide first is removed, docs reassembled
    in position order."""
    from hquery_php_spark.operators.dedup import paragraph_dedup

    norm = F.translate(
        F.trim(F.regexp_replace(F.col("text"), r"[ \t\n\x0B\f\r]+", " ")),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    toks = F.split(norm, " ")
    paras = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(toks) / F.lit(10.0)).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
    )
    d = _spread(_docs(spark, sf_dir), spark).select("doc_id", paras.alias("paras"))
    out = paragraph_dedup(d, para_col="paras", id_col="doc_id")
    return out.select(
        "id",
        "n_paras",
        "n_kept",
        F.concat_ws("|", "kept").alias("kept"),
    )


_CLF_BUCKETS = 32
_CLF_EPOCHS = 3


def _clf_label(col):
    """Weak supervision for classifier training: the (already exact)
    Gopher pass flag at the synthetic corpus's relaxed thresholds."""
    from hquery_php_spark.functions.text import gopher_quality

    return gopher_quality(col, min_words=10, min_stop_hits=1)["passes"]


def _clf_label_sql() -> str:
    return TSQL.gopher_fields("text", min_words=10, min_stop_hits=1)["passes"]


_CLF_WEIGHT_CACHE: dict = {}


def _clf_weights(spark: SparkSession, sf_dir: str):
    key = _docs_cache_key(sf_dir)
    got = _CLF_WEIGHT_CACHE.get(key)
    if got is not None:
        return got
    from hquery_php_spark.operators.perceptron import train_perceptron

    d = _docs(spark, sf_dir).select(
        "doc_id", "text", _clf_label(F.col("text")).alias("label")
    )
    got = train_perceptron(d, n_buckets=_CLF_BUCKETS, epochs=_CLF_EPOCHS)
    _CLF_WEIGHT_CACHE[key] = got
    return got


def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed integer-perceptron training of the hashed-linear
    quality classifier (weak labels = Gopher pass flag): per epoch one
    vocab-bounded score agg + one delta agg; the ≤ n_buckets + 1 delta
    rows are all the driver collects."""
    w = _clf_weights(spark, sf_dir)
    return spark.createDataFrame(
        [(i, int(x)) for i, x in enumerate(w)], "b long, w long"
    )


def q_classifier_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference with the TRAINED weight table — the same zero-shuffle
    expression tree as quality_classifier, trained weights as an array
    literal."""
    from hquery_php_spark.operators.perceptron import score_with_weights

    w = _clf_weights(spark, sf_dir)
    s = score_with_weights(F.col("text"), w, _CLF_BUCKETS)
    return (
        _docs(spark, sf_dir)
        .withColumn("s", s)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("s.n_tokens").alias("n_tokens"),
            F.col("s.score_micro").alias("score_micro"),
            F.col("s.keep").alias("keep"),
        )
    )


def q_classifier_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering end to end in one driver row:
    fam='score' rows the stand-in hashed-linear scores, fam='w' the
    perceptron-trained integer weight table (bias at b = n_buckets),
    fam='pred' predictions under the trained weights."""
    from hquery_php_spark.operators.perceptron import score_with_weights

    score = q_quality_classifier(spark, sf_dir).select(
        F.lit("score").alias("fam"),
        F.col("doc_id").cast("string").alias("id"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("score_micro").cast("long").alias("score_micro"),
        F.col("keep").cast("int").alias("keep"),
    )
    w = _clf_weights(spark, sf_dir)
    wdf = spark.createDataFrame(
        [("w", str(i), 0, int(x), 0) for i, x in enumerate(w)],
        "fam string, id string, n_tokens int, score_micro long, keep int",
    )
    s = score_with_weights(F.col("text"), w, _CLF_BUCKETS)
    pred = (
        _docs(spark, sf_dir)
        .withColumn("s", s)
        .select(
            F.lit("pred").alias("fam"),
            F.col("doc_id").cast("string").alias("id"),
            F.col("s.n_tokens").cast("int").alias("n_tokens"),
            F.col("s.score_micro").cast("long").alias("score_micro"),
            F.col("s.keep").cast("int").alias("keep"),
        )
    )
    return score.unionByName(wdf).unionByName(pred)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over texts with deterministic synthetic PII appended
    (template inversion: doc_id%3 selects email / phone+ip / clean), so
    the redaction does real work and the oracle is closed-form."""
    from hquery_php_spark.functions.text import redact_pii

    suffix = (
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com")),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 1,
            F.concat(F.lit(" call +1 555-000-"), F.col("doc_id").cast("string"),
                     F.lit(" from 10.1.2.3")),
        )
        .otherwise(F.lit(""))
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("t")
    )
    r = d.select("doc_id", redact_pii(F.col("t")).alias("r"))
    return r.select(
        "doc_id",
        F.col("r.redacted").alias("redacted"),
        F.col("r.n_email").alias("n_email"),
        F.col("r.n_ip").alias("n_ip"),
        F.col("r.n_phone").alias("n_phone"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 8-gram
    with the benchmark slice (doc_id % 10 == 0) — broadcast the (small)
    benchmark gram set, one scan of the training side."""
    from hquery_php_spark.operators.decontaminate import ngram_decontaminate

    d = _spread(_docs(spark, sf_dir), spark)
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    train = d.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    return ngram_decontaminate(train, bench, n=8)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature resample of the domain mixture: per-domain
    integer keep-thresholds (⌊√n⌋ arithmetic, engine-exact) applied as
    portable-hash cuts — corpus size preserved in expectation, head
    domains dampened, tails boosted.

    The testdata's real `source` column is uniform (every threshold
    would cap at mod and nothing drops), so the mixture under test is a
    DERIVED skewed bucketing of the id — 4 domains with expected sizes
    ∝ 1:3:5:7 via floor(sqrt(hash mod 16)) — computed by the identical
    expression in the DuckDB twin."""
    from hquery_php_spark.functions.text import (
        portable_row_hash,
        temperature_sample,
    )

    h16 = F.pmod(portable_row_hash(F.col("doc_id"), mod=_MOD), F.lit(16))
    dom = F.concat(
        F.lit("d"), F.floor(F.sqrt(h16)).cast("int").cast("string")
    )
    docs = _docs(spark, sf_dir).withColumn("domain", dom)
    return temperature_sample(docs, domain_col="domain").select(
        "doc_id", "domain"
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (fastText shape): hashed bag-of-words
    linear score in exact integer micro-units — zero shuffle, bit-exact
    SQL twin (no float summation drift, no libm sigmoid)."""
    from hquery_php_spark.functions.classify import hashed_linear_score

    s = hashed_linear_score(F.col("text"), threshold_micro=0)
    return (
        _docs(spark, sf_dir)
        .withColumn("s", s)
        .select(
            "doc_id",
            F.col("s.n_tokens").alias("n_tokens"),
            F.col("s.score_micro").alias("score_micro"),
            F.col("s.keep").alias("keep"),
        )
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup spans (Lee et al. 2021 shape): every 10-word
    window occurring ≥2 times in the corpus, merged per doc into maximal
    word-position islands — md5 window keys, linear shuffles only."""
    from hquery_php_spark.operators.dedup import substring_dup_spans

    d = _spread(_docs(spark, sf_dir), spark).select("doc_id", "text")
    reg: list = []
    out = substring_dup_spans(d, window=10, persist_registry=reg).withColumnRenamed(
        "id", "doc_id"
    )
    return _materialize_release(spark, out, reg)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality gates (distinct-token ratio,
    duplicate/top bigram fractions) — pure JVM expressions."""
    from hquery_php_spark.functions.text import repetition_stats

    r = _docs(spark, sf_dir).select(
        "doc_id", repetition_stats(F.col("text")).alias("r")
    )
    return r.select(
        "doc_id",
        F.col("r.n_tokens").alias("n_tokens"),
        F.col("r.n_distinct_tokens").alias("n_distinct_tokens"),
        F.col("r.distinct_ratio").alias("distinct_ratio"),
        F.col("r.dup_bigram_frac").alias("dup_bigram_frac"),
        F.col("r.top_bigram_frac").alias("top_bigram_frac"),
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (word-count / mean-word-length /
    symbol-ratio / bullet- and ellipsis-line / alpha-word / stopword
    gates).  Deterministic line-suffix templates (doc_id % 4 selects
    bullet list / ellipsis teasers / symbol spam / clean) give every
    rule real work; the oracle applies the same template inversion."""
    from hquery_php_spark.functions.text import gopher_quality

    suffix = (
        F.when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 0,
            F.lit("\n- item one\n- item two\n* item three"),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 1,
            F.lit("\nread more...\nsee also..."),
        )
        .when(
            F.pmod(F.col("doc_id"), F.lit(4)) == 2,
            F.lit(" ### #### ... ... ..."),
        )
        .otherwise(F.lit(""))
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("t")
    )
    g = d.select(
        "doc_id", gopher_quality(F.col("t"), min_words=10).alias("g")
    )
    return g.select("doc_id", "g.*")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep <=10 docs per source, chosen by the
    portable row hash — deterministic on any engine / cluster size, and
    skew-safe via the two-phase salted window (see per_domain_cap)."""
    from hquery_php_spark.functions.text import per_domain_cap

    d = _spread(_docs(spark, sf_dir), spark).select("doc_id", "source")
    return per_domain_cap(d, cap=10).select("doc_id", "source", "rk")


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: dense 0-based position under
    (portable_hash, doc_id) without a single-partition window — explicit
    hash-range buckets + per-bucket offsets (global_order_index)."""
    from hquery_php_spark.operators.pipeline import global_order_index

    d = _spread(_docs(spark, sf_dir), spark).select("doc_id")
    reg: list = []
    out = global_order_index(d, n_ranges=16, persist_registry=reg).select(
        "doc_id", "pos"
    )
    return _materialize_release(spark, out, reg)


def _materialize_release(spark: SparkSession, out: DataFrame, reg: list) -> DataFrame:
    """The q_dedup_minhash release discipline: materialize the (small)
    output, unpersist every registered cache, hand back the rows — no
    cached frame outlives its query in a long-lived session.  A scale
    deployment writes `out` to a table and then unpersists instead."""
    try:
        rows = out.collect()
    finally:
        # a failed collect must still release the caches — leaking them
        # defeats the release discipline in a long-lived session
        for cached in reg:
            cached.unpersist()
    return spark.createDataFrame(rows, out.schema)


def q_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: tf shuffle → df derived from the
    tf table (no second corpus scan) → join + per-doc window."""
    from hquery_php_spark.functions.text import tfidf_top_terms

    reg: list = []
    out = tfidf_top_terms(
        _spread(_docs(spark, sf_dir), spark), top_k=3, persist_registry=reg
    )
    return _materialize_release(spark, out, reg)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus rollup (docs, tokens, chars, alpha ratio,
    English share, Gopher pass count).  All INTEGER aggregates — ratios
    derive from the summed counts afterwards, so the result is exact on
    any engine and any summation order (avg over per-doc doubles would
    not be)."""
    from hquery_php_spark.functions.text import (
        gopher_quality,
        lang_id_en,
        norm_ws,
        token_count,
    )

    c = F.col("text")
    norm = norm_ws(c)
    alpha = F.length(F.regexp_replace(norm, r"[^a-zA-Z]", ""))
    per = _docs(spark, sf_dir).select(
        "source",
        token_count(c).alias("t"),
        F.length(norm).alias("ch"),
        alpha.alias("al"),
        (lang_id_en(c) == "en").cast("int").alias("en"),
        gopher_quality(c, min_words=10, min_stop_hits=1)["passes"].alias("ps"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("sum_tokens"),
            F.sum("ch").cast("long").alias("sum_chars"),
            F.sum("al").cast("long").alias("sum_alpha"),
            F.sum("en").cast("long").alias("n_en"),
            F.sum("ps").cast("long").alias("n_pass"),
        )
        .withColumn(
            "alpha_ratio",
            F.when(
                F.col("sum_chars") > 0,
                F.round(F.col("sum_alpha") / F.col("sum_chars"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the first gate of a crawl pipeline: synthesize
    the messy re-crawl variants deterministically from doc_id (case,
    default port, tracking params, fragment, param order), canonicalize
    with pure JVM expressions (zero shuffle until the group-by), keep
    min-id per canonical URL."""
    from hquery_php_spark.functions.url import canonical_url

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("doc_id DIV 5").cast("string").alias("g"),
        F.expr("CAST(doc_id % 5 AS INT)").alias("v"),
    )
    base = F.concat(F.lit("https://example.com/docs/"), F.col("g"), F.lit(".html"))
    messy = (
        F.when(
            F.col("v") == 0,
            F.concat(F.lit("https://Example.COM/docs/"), F.col("g"), F.lit(".html")),
        )
        .when(
            F.col("v") == 1,
            F.concat(
                F.lit("https://example.com:443/docs/"), F.col("g"), F.lit(".html")
            ),
        )
        .when(F.col("v") == 2, F.concat(base, F.lit("?utm_source=news&utm_campaign=a")))
        .when(F.col("v") == 3, F.concat(base, F.lit("#frag")))
        .otherwise(F.concat(base, F.lit("?b=2&a=1")))
    )
    from hquery_php_spark.functions.url import url_features

    deduped = (
        d.select("doc_id", canonical_url(messy).alias("url"))
        .groupBy("url")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )
    # crawl-prioritization features of the surviving canonical URL
    return deduped.select(
        "url", "keep_id", "n_dups", url_features(F.col("url")).alias("f")
    ).select("url", "keep_id", "n_dups", "f.*")


_BM25_TERMS = ["spark", "join", "window"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed 3-term keyword query: per-doc term
    frequencies straight from the token array (no explode/shuffle), a
    single-row corpus-stats lookup, partial top-k."""
    from hquery_php_spark.functions.rank import bm25_topk

    reg: list = []
    out = bm25_topk(
        _spread(_docs(spark, sf_dir), spark).select("doc_id", "text"),
        terms=_BM25_TERMS,
        k=10,
        persist_registry=reg,
    )
    return _materialize_release(spark, out, reg)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI: one scan emits the
    combined unigram+bigram event stream (one shuffle for both count
    tables), log-space scoring avoids N² integer overflow."""
    from hquery_php_spark.functions.rank import pmi_collocations

    reg: list = []
    out = pmi_collocations(
        _spread(_docs(spark, sf_dir), spark),
        min_count=5,
        top_k=20,
        persist_registry=reg,
    )
    return _materialize_release(spark, out, reg)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy filter signals: per-document unigram
    log-probability with per-TERM fixed-point quantization so the
    per-doc reduction is an exact integer sum (order-independent on any
    engine or partitioning)."""
    from hquery_php_spark.functions.rank import unigram_logprob

    reg: list = []
    out = unigram_logprob(
        _spread(_docs(spark, sf_dir), spark), persist_registry=reg
    )
    return _materialize_release(spark, out, reg)


def _curate_df(spark: SparkSession, sf_dir: str, registry: list | None) -> DataFrame:
    """The LAZY composed curation program behind q_curate (and tools/dump_plans.py's PLANS.md exhibit).  Every DataFrame it
    persists is appended to ``registry`` (None: nothing is persisted)."""
    from hquery_php_spark.operators.curate import CurateOptions, curate_corpus

    d = _spread(_docs(spark, sf_dir), spark).select("doc_id", "text", "source")
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    train = d.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0)
    opts = CurateOptions(
        min_words=10,
        gopher_kwargs=dict(min_stop_hits=1),
        num_perm=16,
        shingle_k=8,
        lsh_bands=2,
        rows_per_band=8,
        jaccard_threshold=0.6,
        decontaminate_n=8,
        cap_per_domain=20,
        n_ranges=16,
    )
    return curate_corpus(train, benchmark=bench, opts=opts, persist_registry=registry)


def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline end-to-end in one value-checked
    query: Gopher+repetition gates → exact dedup → MinHash/LSH
    near-dup clusters (keep cluster min) → benchmark decontamination →
    PII redaction → per-domain cap → deterministic global order.  Twin:
    curate_oracle_sql (each stage reuses its already-pinned oracle)."""
    reg: list = []
    out = _curate_df(spark, sf_dir, reg)
    return _materialize_release(spark, out, reg)


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified DETERMINISTIC sampling on the portable row hash: the
    same sample falls out on any engine / partitioning / cluster size
    (df.sample cannot promise that) — value-checked against the SQL
    threshold twin."""
    from hquery_php_spark.functions.text import deterministic_sample

    return deterministic_sample(
        _docs(spark, sf_dir), strata=_SAMPLE_STRATA
    ).select("doc_id", "source")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: shard → deterministic
    order → running-token-count pack cuts, value-checked in SQL."""
    from hquery_php_spark.operators.pipeline import pack_sequences

    d = _docs(spark, sf_dir).select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return pack_sequences(d, max_tokens=512, n_shards=8)


def q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sequence packing over the interleaved spans table:
    cost = text tokens + 64 per media span (fixed vision-token budget);
    oversize docs flagged pack_no = -1, the rest cut at running-cost
    boundaries with the pack_sequences recurrence."""
    from hquery_php_spark.operators.pipeline import pack_interleaved

    spans = extract_spans_df(_synth(spark, sf_dir)).select(
        F.col("doc_id").cast("string").alias("doc_id"), "spans"
    )
    return pack_interleaved(
        spans, max_tokens=512, media_token_cost=64, n_shards=8
    )


def q_pack_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly family in one driver row: fam='seq' rows
    are text-only sequence packing (cost = token count), fam='mm' rows
    multimodal interleaved packing (cost charges each media span a fixed
    vision-token budget; oversize docs → pack_no = -1)."""
    seq = q_pack_sequences(spark, sf_dir).select(
        F.lit("seq").alias("fam"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("cost"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_no").cast("long").alias("pack_no"),
    )
    mm = q_pack_interleaved(spark, sf_dir).select(
        F.lit("mm").alias("fam"),
        "doc_id",
        F.col("cost").cast("long").alias("cost"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pack_no").cast("long").alias("pack_no"),
    )
    return seq.unionByName(mm)


def q_interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule interleaved assembly: the ordered span sequence with
    every img media ref RESOLVED against the media table (png header
    metadata joined in; text spans pass through with NULL media columns).
    The media table is corpus-proportional, so no forced broadcast —
    AQE/the planner broadcasts it while it is actually small."""
    from hquery_php_spark.operators.multimodal import image_meta_df
    from hquery_php_spark.operators.pipeline import resolve_media_refs

    spans = explode_spans(extract_spans_df(_synth(spark, sf_dir))).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "ord",
        "kind",
        "text",
        "media_ref",
        "offset",
    )
    meta = image_meta_df(_png_payloads(spark, sf_dir))
    return resolve_media_refs(
        spans,
        meta.select("media_id", "mime", "width", "height"),
        key_expr=F.regexp_extract(F.col("media_ref"), r"/(\d+)\.png$", 1),
    ).select(
        "doc_id", "ord", "kind", "text", "media_ref", "offset",
        "mime", "width", "height",
    )


def q_interleaved_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the north-rule interleaved table shape directly:
    (doc_id, spans:array<struct<kind,text,media_ref,offset>>) → per-doc
    text reassembly, media-ref join, span/char accounting — one pass of
    JVM array expressions, no explode, no shuffle."""
    from hquery_php_spark.operators.pipeline import interleaved_doc_stats

    spans = extract_spans_df(_synth(spark, sf_dir)).select(
        F.col("doc_id").cast("string").alias("doc_id"), "spans"
    )
    return interleaved_doc_stats(spans)


def q_find_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level selector probe via plans.compile.find_count_df:
    selectors compiled/validated driver-side, each doc indexed once."""
    from hquery_php_spark.plans.compile import find_count_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _wordwise_html().alias("html"),
    )
    return find_count_df(
        d, ["span", "span.w0", "div > span", "span + span", "span:lt(3)"]
    )


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule PDF/layout parse: deterministic TWO-PAGE PDFs, each
    doc written through one of the 19 differential container families
    (incl. RC4 / AES-128 / AES-256 encryption with empty user password
    AND `pwrc4` — a NON-empty user password opened via the operator's
    password parameter) (classic xref / xref stream / object streams;
    Flate / LZW / RL / AHx / A85∘Flate filters; literal / octal /
    hex+ToUnicode strings; Td / Tm / TD-T*-' positioning; q-cm-Q
    translation; incremental update), then structurally parsed back.
    Every family must yield the same spans — the closed-form oracle
    checks them all at once; only `version` varies (1.5/1.6/1.7
    xref-stream/AES families)."""
    from hquery_php_spark.operators.pdf import build_pdf, pdf_extract_df
    from hquery_php_spark.operators.pdfwrite import PDF_FAMILIES
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    fams = sorted(PDF_FAMILIES)  # 19 families, index = doc_id % 19
    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")).alias("norm"),
    )
    gen_schema = StructType(
        [StructField("doc_id", StringType()), StructField("payload", BinaryType())]
    )

    def gen(doc_id, norm):
        pages = [
            [
                (50.0, 750.0, f"Doc {doc_id}"),
                (50.0, 700.0, norm),
                (50.0, 50.0, "page footer"),
            ],
            [(72.0, 720.0, f"p2 {doc_id}")],
        ]
        fam = fams[int(doc_id) % len(fams)]
        return [(doc_id, build_pdf(pages, **PDF_FAMILIES[fam]))]

    pdfs = map_rows(d, gen_schema, gen)
    # one corpus-wide password: opens the pwrc4 family; every other
    # family falls back to the empty user password transparently
    return pdf_extract_df(pdfs, password=b"s3cret")


# --------------------------------------------------------------------- #
# Embedding near-dup (exact oracle pairs + LSH-bucketed scale path)

def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Original vectors (as double) + a perturbed copy of every 10th one
    (id + 1000000, first component shifted by +0.1) — deterministic
    near-duplicates, reproducible in SQL."""
    base = _spread(_embs(spark, sf_dir), spark, key="vec_id").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    dup = base.where(F.pmod(F.col("id"), F.lit(10)) == 0).select(
        (F.col("id") + 1000000).alias("id"),
        F.concat(
            F.array(F.element_at(F.col("v"), 1) + F.lit(0.1)),
            F.slice(F.col("v"), 2, 10_000),
        ).alias("v"),
    )
    return base.unionByName(dup)


def q_embed_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (≥0.98) on the augmented set — the
    ground truth for the LSH path, with a SQL oracle."""
    from hquery_php_spark.operators.dedup import cosine_sim

    e = _augmented_embeddings(spark, sf_dir)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cos", cosine_sim(F.col("a.v"), F.col("b.v")))
        .where(F.col("cos") >= 0.98)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("cos", 4).alias("cos_r"),
        )
    )


_CMS_PROBES = [
    "table", "row", "scan", "spark", "the", "hash", "value",
    "shuffle", "nosuchtokenever",
]


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates for a probe token set: the
    sketch is one partial-agg shuffle whose reducer state is d·w cells
    (independent of vocabulary size — the reason to sketch at 100 TB);
    (token, est, exact) with the one-sided guarantee est ≥ exact.
    Counters are exact integers of a deterministic hash family, so the
    DuckDB twin reproduces the sketch bit for bit."""
    from hquery_php_spark.operators.sketches import cms_estimates

    return cms_estimates(_docs(spark, sf_dir), _CMS_PROBES)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct-token estimates with EXACT
    register math (integer ranks, power-of-two harmonic sums — every
    partial sum exactly representable, so the float result is
    order-independent and engine-identical).  Register state per group
    is 2^p bytes — the mergeable, shuffle-light distinct counter."""
    from hquery_php_spark.operators.sketches import hll_distinct

    return hll_distinct(_docs(spark, sf_dir))


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM perplexity proxy — the conditional-
    probability rung toward CCNet's 5-gram KenLM filter; per-bigram
    micro-nat quantization, exact integer per-doc sums."""
    from hquery_php_spark.functions.rank import bigram_logprob

    reg: list = []
    out = bigram_logprob(_docs(spark, sf_dir), persist_registry=reg)
    return _materialize_release(spark, out, reg)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: fixed token windows with overlap — the
    long-document prep for a fixed-context model, entirely expression-
    level (tokens materialized once, sequence+transform+explode, no
    shuffle)."""
    from hquery_php_spark.operators.pipeline import chunk_documents

    return chunk_documents(_docs(spark, sf_dir))


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length percentiles from a fixed-width
    histogram — the engine-exact percentile sketch (approx_percentile's
    sketch values are not reproducible across engines); state = the
    histogram, one partial-agg shuffle regardless of row count."""
    from hquery_php_spark.operators.sketches import binned_quantiles

    return binned_quantiles(_docs(spark, sf_dir), "n_chars")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank over a deterministic 53-node host
    graph derived from doc ids (quadratic map → skewed in-degree, so
    ranks actually spread) — the crawl host-authority prior, exact
    integer rounds with an unrolled-CTE twin.  In deployment the edge
    list is host(base_url) → host(href) from the extraction stage."""
    from hquery_php_spark.operators.graph import pagerank_fixed_point

    d = _docs(spark, sf_dir).select("doc_id")
    edges = d.select(
        F.pmod("doc_id", F.lit(53)).alias("src"),
        F.pmod(F.col("doc_id") * F.col("doc_id") + 3, F.lit(53)).alias("dst"),
    )
    return pagerank_fixed_point(edges)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every raw doc scored
    by how much more likely its hashed word-bigram buckets are under the
    TARGET distribution (here: the English-labeled subset) than under
    the raw distribution — per-bucket micro-nat log ratios quantized
    once on a B-row table, per-doc weights exact integer sums.  The
    data-selection step for targeted pretraining mixes."""
    from hquery_php_spark.operators.dsir import dsir_weights

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    target = d.where(F.col("lang") == "en").select("doc_id", "text")
    raw = d.select("doc_id", "text")
    reg: list = []
    out = dsir_weights(raw, target, persist_registry=reg)
    return _materialize_release(spark, out, reg)


def q_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership ledger: the accepted corpus sets kh bit
    positions per fingerprint in an m-bit filter (compact regardless of
    corpus size, mergeable by OR/UNION, broadcastable); a new batch doc
    survives iff some bit is unset.  NO false negatives — every
    re-keyed ledger copy always drops; false positives are the bounded
    price of the m-bit ledger.  Same batch construction as
    incremental_dedup, so the two ledgers are directly comparable."""
    from hquery_php_spark.operators.sketches import bloom_build, bloom_screen

    d = _docs(spark, sf_dir).select("doc_id", "text")
    ledger_src = d.where(F.pmod("doc_id", F.lit(2)) == 0)
    batch = d.where(F.pmod("doc_id", F.lit(2)) == 1).unionByName(
        ledger_src.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return bloom_screen(batch, bloom_build(ledger_src))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch dedup against a fingerprint ledger — the incremental
    crawl-ingest contract: even-id docs are the already-accepted corpus
    (16-byte md5 ledger), the new batch is the odd-id docs plus re-keyed
    copies of some ledgered docs (must drop via the ledger anti-join)
    and re-keyed copies of some batch docs (must merge batch-internally,
    keep-min-id).  Shuffle ∝ batch, never the corpus."""
    from hquery_php_spark.operators.incremental import (
        incremental_dedup_exact,
        ledger_fingerprints,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    ledger = ledger_fingerprints(d.where(F.pmod("doc_id", F.lit(2)) == 0))
    batch = (
        d.where(F.pmod("doc_id", F.lit(2)) == 1)
        .unionByName(
            d.where(F.pmod("doc_id", F.lit(4)) == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.where(F.pmod("doc_id", F.lit(4)) == 1).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return incremental_dedup_exact(batch, ledger)


def q_incremental_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup screening of a new batch against a compact (band,
    bucket) MinHash ledger of the accepted corpus: a batch doc drops
    when ANY of its portable-signature band slices is already ledgered.
    Even-id docs are the corpus; the batch is odd-id docs plus re-keyed
    exact copies of some corpus docs (collide in every band → drop)."""
    from hquery_php_spark.operators.incremental import (
        incremental_dedup_near,
        ledger_band_keys,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    ledger = ledger_band_keys(d.where(F.pmod("doc_id", F.lit(2)) == 0))
    batch = d.where(F.pmod("doc_id", F.lit(2)) == 1).unionByName(
        d.where(F.pmod("doc_id", F.lit(4)) == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return incremental_dedup_near(batch, ledger)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: fixed-point integer k-means over the augmented vector
    set (2 unrolled rounds, engine-exact floor-mean centroids), then
    exact integer-cosine near-dup pairs searched WITHIN clusters only —
    the n²→Σn_c² reduction that makes semantic pruning feasible at
    corpus scale.  Value-checked against an unrolled-CTE DuckDB twin."""
    from hquery_php_spark.operators.semantic import semantic_dedup

    reg: list = []
    out = semantic_dedup(
        _augmented_embeddings(spark, sf_dir),
        vec_col="v",
        id_col="id",
        k=8,  # explicit: the SQL twin's CTE chain is unrolled for k=8;
        # production default is auto-k (ceil(n/target_cluster_size))
        persist_registry=reg,
    )
    return _materialize_release(spark, out, reg)


def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: per-subspace integer codebooks (one
    shuffle per training round covers all subspaces), map-side encoding
    to M codes per vector, and query-time ADC scoring = M table lookups
    + an integer sum — the memory-bounded ANN path that composes with
    the IVF partition pruning.  Value-checked against an unrolled-CTE
    DuckDB twin."""
    from hquery_php_spark.operators.pq import pq_topk

    embs = _embs(spark, sf_dir)
    qvec = (
        embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    reg: list = []
    out = pq_topk(
        embs.where(F.col("vec_id") != 0), qvec, persist_registry=reg
    )
    return _materialize_release(spark, out, reg)


def q_similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED 100-TB ANN path: PQ codes written into the sign-LSH
    bucket-partitioned layout (write once; codebooks persist as a JSON
    sidecar), queried with planning-time partition pruning + integer
    ADC lookups — no vector payload is read at query time.  Same
    size+mtime cache key discipline as the IVF index."""
    import os

    from hquery_php_spark.operators.pq import ivf_pq_topk, write_ivf_pq_index

    embs = _embs(spark, sf_dir)
    qvec = (
        embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    src = f"{sf_dir}/embeddings.parquet"
    st_ = os.stat(src)
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_pq_"
        f"{st_.st_size}_{int(st_.st_mtime)}"
    )
    idx = f"/tmp/spark_graft_ivfpq/{tag}"
    if not os.path.exists(os.path.join(idx, "_pq_books.json")):
        write_ivf_pq_index(_spread(embs, spark, key="vec_id"), idx)
    return ivf_pq_topk(spark, idx, qvec, hamming_radius=2, exclude_id=0)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: portable near-dup pairs → connected
    components (min-label propagation) → (id, cluster_id), the keep-one-
    per-cluster closer.  Value-checked against a recursive-CTE oracle."""
    from hquery_php_spark.operators.dedup import (
        connected_components,
        embedding_near_dup,
    )

    e = _augmented_embeddings(spark, sf_dir)
    pairs = embedding_near_dup(
        e, vec_col="v", id_col="id", n_planes=8, threshold=0.98
    )
    return connected_components(pairs)


def q_embed_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-dup — the n²-free scale path, on the
    portable plane family so the bucketed pair set is value-checked in
    DuckDB (same buckets, same pairs, same cosines)."""
    from hquery_php_spark.operators.dedup import embedding_near_dup

    e = _augmented_embeddings(spark, sf_dir)
    return embedding_near_dup(
        e, vec_col="v", id_col="id", n_planes=8, threshold=0.98
    ).select("id_a", "id_b", F.round("cos", 4).alias("cos_r"))


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall measurement of the bucketed LSH near-dup path against the
    exact n² ground truth on the augmented set — the calibration row a
    production dedup config ships with (one integer-arithmetic summary
    row: n_exact, n_lsh, n_common, recall_pct)."""
    ex = q_embed_near_dup_exact(spark, sf_dir).select("id_a", "id_b")
    ls = q_embed_near_dup_lsh(spark, sf_dir).select("id_a", "id_b")
    common = ex.join(ls, ["id_a", "id_b"], "inner")
    n_ex, n_ls, n_co = ex.count(), ls.count(), common.count()
    return spark.createDataFrame(
        [(n_ex, n_ls, n_co, (100 * n_co) // n_ex if n_ex else 100)],
        "n_exact long, n_lsh long, n_common long, recall_pct long",
    )


# --------------------------------------------------------------------- #
# Consolidated suites — the driver's correctness artifact holds at most
# ~50 rows (CORRECTNESS_r03 stopped at exactly the first 50 registry
# keys, leaving 22 operators with no driver evidence).  Same-grain
# queries join into one wide frame (every per-row value still checked);
# different-grain families union under a `part` discriminator with
# explicit casts so the pandas dtype of every column is identical across
# Spark and DuckDB (the driver's hash is dtype-exact — see r3's
# quality_classifier HUGEINT red row).  The original per-operator
# queries stay available via all_queries() for bench row-name stability.

def q_warc_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC leg with a closed-form value oracle: per doc, a synthetic
    one-response archive exercising six envelope families by doc_id%6 —
    0 plain record, 1 gzip-member layout, 2 chunked Transfer-Encoding,
    3 obs-fold Content-Type header (RFC 7230 §3.2.4) + ISO-8859-1 body,
    4 <meta charset> windows-1251 HTML body with no header charset,
    5 zstd-frame layout — parsed back through the SAME record-framing +
    HTTP-envelope + charset-handoff code the file reader uses
    (sources/warc.py parse_warc + core/charset.detect_charset, i.e.
    _response_rows' exact path; the range-split file layer stays
    pytest-pinned in tests/test_warc.py).  Every output column is
    closed-form in doc_id + documents.text, so the DuckDB twin checks
    record framing, dechunking, header folding, and the charset
    handoff value-exactly."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from hquery_php_spark.core.charset import _codec_for, detect_charset
    from hquery_php_spark.sources.warc import make_warc, parse_warc

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")).alias("norm"),
    )
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("fam", IntegerType()),
            StructField("url", StringType()),
            StructField("warc_date", StringType()),
            StructField("status", IntegerType()),
            StructField("content_type", StringType()),
            StructField("charset", StringType()),
            StructField("text", StringType()),
            StructField("n_bytes", IntegerType()),
        ]
    )

    def row(doc_id, norm):
        fam = int(doc_id) % 6
        base = f"W{doc_id} {norm}"
        url = f"https://warc.example/{doc_id}"
        opts: dict = {}
        gz = zs = False
        if fam == 2:
            ctype = "text/plain; charset=utf-8"
            body = base.encode("utf-8")
            opts = {"chunked": True}
        elif fam == 3:
            ctype = "text/html; charset=ISO-8859-1"
            body = ("é " + base).encode("iso-8859-1")
            opts = {"obs_fold": True}
        elif fam == 4:
            html = (
                '<html><head><meta charset="windows-1251"></head>'
                f"<body>Ж {base}</body></html>"
            )
            ctype = "text/html"
            body = html.encode("cp1251")
        else:
            ctype = "text/html; charset=UTF-8"
            body = base.encode("utf-8")
            gz = fam == 1
            zs = fam == 5
        archive = make_warc(
            [(url, 200, ctype, body, opts)],
            gzip_members=gz,
            zstd_frames=zs,
        )
        rec = [
            r for r in parse_warc(archive) if r.warc_type == "response"
        ][0]
        hdrs = (
            {"content-type": rec.http_content_type}
            if rec.http_content_type
            else None
        )
        cs = detect_charset(rec.payload, hdrs)
        codec = _codec_for(cs) if cs else None
        return [(
            doc_id,
            fam,
            rec.target_uri,
            rec.warc_date,
            rec.http_status,
            rec.http_content_type,
            cs,
            rec.payload.decode(codec or "utf-8", "replace"),
            len(rec.payload),
        )]

    return map_rows(d, schema, row)


def q_charset_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 charset sniff + T13 fault-tolerant convert + the WARC
    envelope leg in one row per doc: `sniffed` from the 3-charset meta
    mix, `text`/`offset`/`decoded_from` from the ISO-8859-1-bytes
    end-to-end decode path, and the warc_* columns from the six-family
    archive roundtrip (record framing / dechunk / obs-fold / charset
    handoff, q_warc_envelope)."""
    det = q_charset_detect(spark, sf_dir).withColumnRenamed("charset", "sniffed")
    ext = q_charset_extract(spark, sf_dir).withColumnRenamed(
        "charset", "decoded_from"
    )
    wrc = q_warc_envelope(spark, sf_dir).select(
        "doc_id",
        F.col("fam").alias("warc_fam"),
        F.col("url").alias("warc_url"),
        F.col("warc_date"),
        F.col("status").alias("warc_status"),
        F.col("content_type").alias("warc_ct"),
        F.col("charset").alias("warc_charset"),
        F.col("text").alias("warc_text"),
        F.col("n_bytes").alias("warc_n_bytes"),
    )
    return det.join(ext, "doc_id").join(wrc, "doc_id")


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-analysis profile in ONE scan: whitespace + BPE-ish
    token counts, language id (en-detector + 6-language marker argmax),
    literal-needle occurrence, fingerprint, and the full quality-score
    struct — zero shuffles, one row per doc."""
    from hquery_php_spark.functions.text import (
        bpe_token_count,
        lang_id_multi,
        occurrence_count,
    )

    q = quality_score(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        lang_id_en(F.col("text")).alias("lang"),
        lang_id_multi(F.col("text")).alias("lang_multi"),
        occurrence_count(F.col("text"), "the").alias("n_the"),
        fingerprint(F.col("text")).alias("fp"),
        q["n_chars"].alias("n_chars"),
        q["avg_token_len"].alias("avg_token_len"),
        q["alpha_ratio"].alias("alpha_ratio"),
        q["digit_ratio"].alias("digit_ratio"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["n_spaces"].alias("n_spaces"),
    )


def q_interleaved_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule interleaved coverage in one frame: the per-span
    media-resolved rows joined with the per-doc no-explode rollup
    (reassembled main_text, span/char accounting)."""
    docs = q_interleaved_docs(spark, sf_dir)
    stats = q_interleaved_stats(spark, sf_dir).withColumnRenamed(
        "media_refs", "all_media_refs"
    )
    return docs.join(stats, "doc_id")


def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→LSH→verified pairs AND their connected-component closure
    in one artifact: part='pair' rows carry (id_a, id_b, jaccard),
    part='cluster' rows carry (id, cluster_id, NULL).  The pair set is
    computed once and feeds both."""
    from hquery_php_spark.operators.dedup import connected_components

    pairs = q_dedup_minhash(spark, sf_dir)
    clusters = connected_components(pairs)
    p = pairs.select(
        F.lit("pair").alias("part"),
        F.col("id_a").cast("long").alias("a"),
        F.col("id_b").cast("long").alias("b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )
    c = clusters.select(
        F.lit("cluster").alias("part"),
        F.col("id").cast("long").alias("a"),
        F.col("cluster_id").cast("long").alias("b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    return p.unionByName(c)


def q_incremental_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch ledger dedup, exact + near screening: part='exact'
    rows are (fp, keep_id, n_dups) survivors of the fingerprint ledger;
    part='near' rows are (id-as-key, id, 1) survivors of the (band,
    bucket) MinHash ledger."""
    ex = q_incremental_dedup(spark, sf_dir).select(
        F.lit("exact").alias("part"),
        F.col("fp").alias("k"),
        F.col("keep_id").cast("long").alias("keep_id"),
        F.col("n_dups").cast("long").alias("n_dups"),
    )
    near = q_incremental_dedup_near(spark, sf_dir).select(
        F.lit("near").alias("part"),
        F.col("id").cast("string").alias("k"),
        F.col("id").cast("long").alias("keep_id"),
        F.lit(1).cast("long").alias("n_dups"),
    )
    return ex.unionByName(near)


def q_embed_near_dup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, all four artifacts from ONE pair computation:
    part='exact' the n² ground-truth pairs, part='lsh' the bucketed
    pairs, part='cluster' the connected-component closure of the LSH
    pairs, part='recall'/'recall_common' the calibration counters
    (n_exact, n_lsh) / (n_common, recall_pct)."""
    from hquery_php_spark.operators.dedup import (
        connected_components,
        embedding_near_dup,
    )

    e = _augmented_embeddings(spark, sf_dir)
    lsh_pairs = embedding_near_dup(
        e, vec_col="v", id_col="id", n_planes=8, threshold=0.98
    ).persist()
    ex_pairs = q_embed_near_dup_exact(spark, sf_dir).persist()
    clusters = connected_components(lsh_pairs)

    def row(part, a, b, cosr):
        return (
            F.lit(part).alias("part"),
            a.cast("long").alias("a"),
            b.cast("long").alias("b"),
            cosr.cast("double").alias("cos_r"),
        )

    ex = ex_pairs.select(*row("exact", F.col("id_a"), F.col("id_b"), F.col("cos_r")))
    ls = lsh_pairs.select(
        *row("lsh", F.col("id_a"), F.col("id_b"), F.round("cos", 4))
    )
    cl = clusters.select(
        *row("cluster", F.col("id"), F.col("cluster_id"), F.lit(None))
    )
    exk = ex_pairs.select("id_a", "id_b")
    lsk = lsh_pairs.select("id_a", "id_b")
    n_ex, n_ls = exk.count(), lsk.count()
    n_co = exk.join(lsk, ["id_a", "id_b"], "inner").count()
    recall = spark.createDataFrame(
        [
            ("recall", n_ex, n_ls, None),
            ("recall_common", n_co, (100 * n_co) // n_ex if n_ex else 100, None),
        ],
        "part string, a long, b long, cos_r double",
    )
    out = ex.unionByName(ls).unionByName(cl).unionByName(recall)
    return _materialize_release(spark, out, [lsh_pairs, ex_pairs])


def q_similarity_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k next to the IVF (materialized
    sign-LSH-partitioned index, planning-time pruning) top-k."""
    brute = q_similarity_topk(spark, sf_dir).select(
        F.lit("brute").alias("method"), "id", "cos_r"
    )
    ivf = q_similarity_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "id", "cos_r"
    )
    return brute.unionByName(ivf)


def q_similarity_pq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k next to the composed IVF-PQ (partition-pruned
    integer-code) top-k."""
    pq = q_similarity_pq(spark, sf_dir).select(
        F.lit("pq").alias("method"), "id", "adc_dist"
    )
    ivfpq = q_similarity_ivf_pq(spark, sf_dir).select(
        F.lit("ivf_pq").alias("method"), "id", "adc_dist"
    )
    return pq.unionByName(ivfpq)


def q_sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four sketch/ledger operators in one typed union: CMS point
    estimates ('cms', token, est, exact), HLL per-source distincts
    ('hll', source, exact, 0, est), Bloom survivors ('bloom', id, id),
    and binned percentiles ('q50'/'q90'/'q99', source, value)."""
    cms = q_cms_heavy_hitters(spark, sf_dir).select(
        F.lit("cms").alias("sketch"),
        F.col("token").alias("k"),
        F.col("est").cast("long").alias("a"),
        F.col("exact").cast("long").alias("b"),
        F.lit(None).cast("double").alias("est_f"),
    )
    hll = q_hll_distinct(spark, sf_dir).select(
        F.lit("hll").alias("sketch"),
        F.col("source").alias("k"),
        F.col("exact_distinct").cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
        F.col("est").cast("double").alias("est_f"),
    )
    bloom = q_bloom_screen(spark, sf_dir).select(
        F.lit("bloom").alias("sketch"),
        F.col("id").cast("string").alias("k"),
        F.col("id").cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
        F.lit(None).cast("double").alias("est_f"),
    )
    # one quantile computation unpivoted to three rows per group — a
    # union of three selects over `quant` would re-run the histogram
    # aggregation per branch (no common-subplan reuse)
    quant = q_length_quantiles(spark, sf_dir)
    qrows = quant.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"q{p}").alias("sketch"),
                        F.col("source").alias("k"),
                        F.col(f"p{p}").cast("long").alias("a"),
                    )
                    for p in (50, 90, 99)
                ]
            )
        ).alias("s")
    ).select(
        F.col("s.sketch").alias("sketch"),
        F.col("s.k").alias("k"),
        F.col("s.a").alias("a"),
        F.lit(0).cast("long").alias("b"),
        F.lit(None).cast("double").alias("est_f"),
    )
    return cms.unionByName(hll).unionByName(bloom).unionByName(qrows)


def q_logprob_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram + interpolated-bigram LM signals per doc, inner-joined on
    id (bigram evidence needs ≥2 tokens; every testdata doc qualifies)."""
    uni = q_unigram_logprob(spark, sf_dir).select(
        "id",
        F.col("n_toks").alias("uni_n_toks"),
        F.col("sum_lp_micro").alias("uni_sum_lp_micro"),
        F.col("avg_logprob").alias("uni_avg_logprob"),
        F.col("ppl_proxy").alias("uni_ppl_proxy"),
    )
    bi = q_bigram_logprob(spark, sf_dir).select(
        "id",
        F.col("n_bigrams").alias("bi_n_bigrams"),
        F.col("sum_lp_micro").alias("bi_sum_lp_micro"),
        F.col("avg_logprob").alias("bi_avg_logprob"),
        F.col("ppl_proxy").alias("bi_ppl_proxy"),
    )
    return uni.join(bi, "id")


def q_sample_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling, both flavors: part='strat' the stratified
    per-source keep set, part='temp' the α=0.5 temperature resample of
    the derived skewed domain mixture."""
    strat = q_corpus_sample(spark, sf_dir).select(
        F.lit("strat").alias("part"), "doc_id", F.col("source").alias("bucket")
    )
    temp = q_mixture_sample(spark, sf_dir).select(
        F.lit("temp").alias("part"), "doc_id", F.col("domain").alias("bucket")
    )
    return strat.unionByName(temp)


def q_multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing end-to-end: header metadata sniff (mime,
    n_bytes, dims) FULL-joined with the decode→pixel-stats path on
    media_id — full, not inner, so one-sided families stay in the
    driver hash (the lossy-VP8 features rows have no header-stub twin,
    the AVIF/HEIC metadata rows have no decodable pixels)."""
    meta = q_multimodal_meta(spark, sf_dir).select(
        "media_id", "mime", "n_bytes", "orientation"
    )
    feats = q_multimodal_features(spark, sf_dir)
    return feats.join(meta, "media_id", "full")


# --------------------------------------------------------------------- #
# Structured-extraction + web-policy operators (round-4 session 13):
# HTML→Markdown rendering, table-grid extraction, sentence segmentation,
# RSS/Atom + sitemap parsing, robots.txt rules at corpus scale.


def _struct_html() -> F.Column:
    """Deterministic structure-rich page per doc: heading, paragraph,
    list with emphasis, 2-col table, trailing link — every Markdown
    block family, invertible in closed-form SQL."""
    sid = F.col("doc_id").cast("string")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return F.concat(
        F.lit("<html><head><title>Doc "), sid,
        F.lit("</title></head><body>\n<h1>Doc "), sid,
        F.lit("</h1>\n<p>"), norm,
        F.lit("</p>\n<h2>Facts</h2>\n<ul><li>id "), sid,
        F.lit("</li><li>src <b>"), F.col("source"),
        F.lit("</b></li></ul>\n<table><tr><th>k</th><th>v</th></tr>"
              "<tr><td>id</td><td>"), sid,
        F.lit("</td></tr><tr><td>source</td><td>"), F.col("source"),
        F.lit('</td></tr></table>\n<p>See <a href="/docs/'), sid,
        F.lit('.html">Doc '), sid, F.lit("</a>.</p>\n</body></html>"),
    )


def q_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content Markdown render of the structure-rich page (the
    operators/markdown.py engine walk), one row per doc."""
    from hquery_php_spark.operators.markdown import markdown_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _struct_html().alias("html"),
        F.lit(BASE_URL).alias("url"),
    )
    return markdown_df(d, url_col="url")


def q_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-resolved table cells of the structure-rich page: 6 cells
    per doc (header row + two data rows)."""
    from hquery_php_spark.operators.tables import html_tables_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _struct_html().alias("html"),
    )
    return html_tables_df(d).select(
        "doc_id", "table_no", "row_no", "col_no", "is_header", "text"
    )


def q_sentence_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable sentence segmentation over the raw document text —
    zero-shuffle expression tree (functions/segment.py)."""
    from hquery_php_spark.functions.segment import sentence_stats

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        sentence_stats(F.col("text")).alias("s"),
    ).select("doc_id", "s.*")


def q_section_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outline extraction + structure-aware chunking over the
    structure-rich page (operators/sections.py): one row per section
    with its breadcrumb path and greedy chunk assignment."""
    from hquery_php_spark.operators.sections import (
        chunk_sections_df,
        section_rows_df,
    )

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _struct_html().alias("html"),
    )
    return chunk_sections_df(section_rows_df(d), max_tokens=16).select(
        "doc_id", "section_no", "level", "title", "path", "text",
        "n_tokens", "chunk_no", "oversize",
    )


def q_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-parse multi-surface stage (operators/extract_all.py):
    spans + main_text + markdown + outline + table cells + head
    metadata from ONE HDoc per document.  Rows-only: each surface is
    value-pinned by its own driver row (extract_spans, struct_suite,
    media_suite's pagemeta family) and by the equality test in
    tests/test_markdown.py; this row benches the amortized cost."""
    from hquery_php_spark.operators.extract_all import extract_all_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _struct_html().alias("html"),
        F.lit(BASE_URL).alias("url"),
    )
    return extract_all_df(d, url_col="url")


def q_struct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-extraction coverage in one row per doc: the full
    Markdown render + ordered table-cell inventory + sentence stats."""
    md = q_html_markdown(spark, sf_dir)
    cells = (
        q_table_extract(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_cells"),
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("table_no", "row_no", "col_no", "text")
                        )
                    ),
                    lambda s: s["text"],
                ),
            ).alias("cells"),
        )
    )
    sent = q_sentence_segment(spark, sf_dir)
    secs = (
        q_section_chunks(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_sections"),
            F.max(F.when(F.col("section_no") == 0, F.col("title")))
                .alias("sec1_title"),
            F.max(F.when(F.col("section_no") == 1, F.col("path")))
                .alias("sec2_path"),
            F.max(F.when(F.col("section_no") == 1, F.col("text")))
                .alias("sec2_text"),
            (F.max("chunk_no") + 1).cast("int").alias("n_chunks"),
            F.sum(F.col("oversize").cast("int")).cast("int")
                .alias("n_oversize"),
        )
    )
    return (
        md.join(cells, "doc_id").join(sent, "doc_id").join(secs, "doc_id")
    )


def _feed_xml() -> F.Column:
    """RSS 2.0 (even doc_id) / Atom 1.0 (odd) feed with two entries;
    the second entry omits optional fields (NULL path)."""
    sid = F.col("doc_id").cast("string")
    rss = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel><title>'
              "Feed "), sid, F.lit("</title>\n<item><title>Post "), sid,
        F.lit(" A</title><link>https://feeds.example.com/"), sid,
        F.lit("/a</link><guid>g"), sid,
        F.lit("a</guid><pubDate>Mon, 01 Jan 2024</pubDate><description>d "),
        sid, F.lit(" a</description></item>\n<item><title>Post "), sid,
        F.lit(" B</title><link>https://feeds.example.com/"), sid,
        F.lit("/b</link></item>\n</channel></rss>"),
    )
    atom = F.concat(
        F.lit("<feed><title>Feed "), sid,
        F.lit("</title>\n<entry><title>Post "), sid,
        F.lit(' A</title><link href="https://feeds.example.com/'), sid,
        F.lit('/a"/><id>i'), sid,
        F.lit("a</id><updated>2024-01-01T00:00:00Z</updated><summary>s "),
        sid, F.lit(" a</summary></entry>\n<entry><title>Post "), sid,
        F.lit(' B</title><link href="https://feeds.example.com/'), sid,
        F.lit('/b"/></entry>\n</feed>'),
    )
    return F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, rss).otherwise(atom)


def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom entries (operators/feeds.py over the hquery engine):
    two rows per doc."""
    from hquery_php_spark.operators.feeds import feed_entries_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _feed_xml().alias("xml"),
    )
    return feed_entries_df(d)


def _sitemap_xml() -> F.Column:
    """sitemapindex every 5th doc, urlset (2 urls, second minimal)
    otherwise."""
    sid = F.col("doc_id").cast("string")
    # first url carries the Google image extension (and a video one on
    # every 3rd doc) — the sitemap_media discovery surface
    video = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 0,
        F.concat(
            F.lit("<video:video><video:content_loc>https://v.example.com/"),
            sid, F.lit(".mp4</video:content_loc></video:video>"),
        ),
    ).otherwise(F.lit(""))
    urlset = F.concat(
        F.lit("<urlset><url><loc>https://example.com/docs/"), sid,
        F.lit(".html</loc><lastmod>2024-01-01</lastmod><changefreq>daily"
              "</changefreq><priority>0.8</priority>"
              "<image:image><image:loc>https://img.example.com/"), sid,
        F.lit("-a.jpg</image:loc><image:title>Img "), sid,
        F.lit("</image:title></image:image>"), video,
        F.lit("</url><url><loc>https://example.com/alt/"), sid,
        F.lit("</loc></url></urlset>"),
    )
    smidx = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://example.com/sm/"), sid,
        F.lit(".xml</loc><lastmod>2024-02-02</lastmod></sitemap>"
              "</sitemapindex>"),
    )
    return F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, smidx).otherwise(urlset)


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hquery_php_spark.operators.feeds import sitemap_entries_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _sitemap_xml().alias("xml"),
    )
    return sitemap_entries_df(d)


def q_sitemap_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google image/video sitemap extensions: one row per declared
    media resource (operators/feeds.parse_sitemap_media — namespaced
    tags read off the engine's tag index, owners resolved by interval
    containment)."""
    from hquery_php_spark.operators.feeds import sitemap_media_df

    d = _spread(_docs(spark, sf_dir), spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _sitemap_xml().alias("xml"),
    )
    return sitemap_media_df(d)


_ROBOTS_HOSTS = 97  # distinct robots.txt hosts in the synthetic corpus


def _robots_host() -> F.Column:
    return F.concat(
        F.lit("h"),
        F.pmod(F.col("doc_id"), F.lit(_ROBOTS_HOSTS)).cast("string"),
        F.lit(".example.com"),
    )


def _robots_txt(h: F.Column) -> F.Column:
    """Per-host rules: literal prefix deny, longer literal allow, a
    wildcard deny, a crawl delay — exercises every match family."""
    return F.concat(
        F.lit("User-agent: crawler\nDisallow: /x/\n"
              "User-agent: *\nDisallow: /private/\nAllow: /private/ok"),
        h, F.lit(".html\nDisallow: /t/*/z\nCrawl-delay: "),
        F.pmod(h.cast("long"), F.lit(5)).cast("string"),
        F.lit("\nSitemap: https://example.com/sm.xml\n"),
    )


def _robots_url() -> F.Column:
    """doc_id%4 selects the decision family: 0 allowed (longest-match
    Allow), 1 denied (prefix), 2 denied (wildcard), 3 allowed (no
    rule)."""
    sid = F.col("doc_id").cast("string")
    h = F.pmod(F.col("doc_id"), F.lit(_ROBOTS_HOSTS)).cast("string")
    base = F.concat(F.lit("https://"), _robots_host())
    fam = F.pmod(F.col("doc_id"), F.lit(4))
    path = (
        F.when(fam == 0, F.concat(F.lit("/private/ok"), h, F.lit(".html")))
        .when(fam == 1, F.concat(F.lit("/private/no"), sid))
        .when(fam == 2, F.concat(F.lit("/t/a"), sid, F.lit("/z")))
        .otherwise(F.concat(F.lit("/pub/"), sid))
    )
    return F.concat(base, path)


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale allow-filter END-TO-END: per-host robots.txt
    parsed once (mapInPandas ∝ hosts), URLs joined on host (plain
    shuffle join, AQE-broadcastable), longest-match decision as a
    map-side expression fold (operators/robots.py)."""
    from hquery_php_spark.operators.robots import (
        filter_allowed,
        robots_rules_df,
    )

    docs = _docs(spark, sf_dir)
    hosts = (
        docs.select(
            F.pmod(F.col("doc_id"), F.lit(_ROBOTS_HOSTS)).cast("string").alias("h")
        )
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("h"), F.lit(".example.com")).alias("host"),
            _robots_txt(F.col("h")).alias("robots_txt"),
        )
    )
    rules = robots_rules_df(hosts)
    urls = _spread(docs, spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _robots_host().alias("host"),
        _robots_url().alias("url"),
    )
    return filter_allowed(urls, rules, keep_denied=True).select(
        "doc_id", "host", "url", "allowed"
    )


def _frontier_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic candidate set: each doc contributes its sitemap
    loc (on example.com) and its first feed link (feeds.example.com)."""
    docs = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    five = F.pmod(F.col("doc_id"), F.lit(5)) == 0
    sm_loc = F.when(
        five, F.concat(F.lit("https://example.com/sm/"), sid, F.lit(".xml"))
    ).otherwise(
        F.concat(F.lit("https://example.com/docs/"), sid, F.lit(".html"))
    )
    sm_pri = F.when(five, F.lit(0)).otherwise(F.lit(800_000)).cast("long")
    feed_link = F.concat(F.lit("https://feeds.example.com/"), sid, F.lit("/a"))
    return docs.select(
        sm_loc.alias("url"),
        F.lit("sitemap").alias("source_kind"),
        sm_pri.alias("priority_micro"),
    ).unionByName(
        docs.select(
            feed_link.alias("url"),
            F.lit("feed").alias("source_kind"),
            F.lit(0).cast("long").alias("priority_micro"),
        )
    )


def q_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl-frontier assembly (operators/frontier.py):
    canonicalize → dedup → prioritize → per-host politeness layout;
    one row per candidate URL with its within-host fetch rank."""
    from hquery_php_spark.operators.frontier import frontier_df

    fr = frontier_df(_frontier_cands(spark, sf_dir))
    return fr.select("url", "host", "source_kind", "priority", "fetch_order")


def q_webfeed_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-discovery coverage in one row per doc: the parsed feed
    (kind, title, both entries), the parsed sitemap, and the robots
    allow decision for the doc's URL."""
    feeds = (
        q_feed_parse(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.max("kind").alias("feed_kind"),
            F.max("feed_title").alias("feed_title"),
            F.count("*").cast("int").alias("n_entries"),
            F.max(F.when(F.col("ord") == 0, F.col("title"))).alias("e1_title"),
            F.max(F.when(F.col("ord") == 0, F.col("link"))).alias("e1_link"),
            F.max(F.when(F.col("ord") == 0, F.col("entry_id"))).alias("e1_id"),
            F.max(F.when(F.col("ord") == 1, F.col("title"))).alias("e2_title"),
            F.max(F.when(F.col("ord") == 1, F.col("updated"))).alias("e2_updated"),
        )
    )
    sm = (
        q_sitemap_parse(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.max("kind").alias("sm_kind"),
            F.count("*").cast("int").alias("n_locs"),
            F.max(F.when(F.col("ord") == 0, F.col("loc"))).alias("loc1"),
            F.max(F.when(F.col("ord") == 0, F.col("lastmod"))).alias("lastmod1"),
            F.max(F.when(F.col("ord") == 0, F.col("priority"))).alias("priority1"),
        )
    )
    md = (
        q_sitemap_media(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_media_locs"),
            F.max(F.when(F.col("kind") == "image", F.col("loc"))).alias(
                "img1_loc"
            ),
            F.max(F.when(F.col("kind") == "video", F.col("loc"))).alias(
                "vid1_loc"
            ),
        )
    )
    rb = q_robots_filter(spark, sf_dir).select("doc_id", "url", "allowed")
    fr = q_frontier(spark, sf_dir)
    f1 = fr.select(
        F.col("url").alias("loc1"),
        F.col("priority").alias("f_priority"),
        F.col("fetch_order").alias("f_rank"),
    )
    f2 = fr.select(
        F.col("url").alias("e1_link"), F.col("fetch_order").alias("f2_rank")
    )
    return (
        feeds.join(sm, "doc_id")
        .join(md, "doc_id", "left")  # sitemapindex docs declare no media
        .withColumn("n_media_locs", F.coalesce("n_media_locs", F.lit(0)))
        .join(rb, "doc_id")
        .join(f1, "loc1")
        .join(f2, "e1_link")
    )


def q_strip_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip span rows + the selector-algebra exclude view
    of the same page, one consolidated driver row."""
    b = q_boilerplate_strip(spark, sf_dir)
    x = q_exclude_text(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "main_text"
    )
    return b.join(x, "doc_id")


def q_docquality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality gates in one row: Gopher rules + repetition
    stats (both zero-shuffle expression trees)."""
    return q_repetition_stats(spark, sf_dir).join(
        q_gopher_quality(spark, sf_dir), "doc_id"
    )


# The one driver registry, in driver order: (row name, row query,
# {member name: member query}).  The driver checks the first 50 rows,
# so every operator family gets a CORRECTNESS row; a row with members
# is a suite whose twin value-checks each member's twin, a row without
# members is its own per-operator query.  queries(), SUITE_COVERS and
# all_queries() are all read off this table.
_REGISTRY = (
    ("extract_spans", q_extract_spans, {}),
    ("selector_counts", q_selector_counts, {}),
    ("media_refs", q_media_refs, {}),
    ("charset_suite", q_charset_suite, {
        "charset_detect": q_charset_detect,
        "charset_extract": q_charset_extract,
        "warc_envelope": q_warc_envelope,
    }),
    ("find_counts", q_find_counts, {}),
    ("pseudo_slices", q_pseudo_slices, {}),
    ("strip_suite", q_strip_suite, {
        "boilerplate_strip": q_boilerplate_strip,
        "exclude_text": q_exclude_text,
    }),
    ("dl_extract", q_dl_extract, {}),
    ("struct_suite", q_struct_suite, {
        "html_markdown": q_html_markdown,
        "table_extract": q_table_extract,
        "sentence_segment": q_sentence_segment,
        "section_chunks": q_section_chunks,
        # the single-parse composition of surfaces the suite (and
        # extract_spans / media_suite) already value-pins individually
        "extract_all": q_extract_all,
    }),
    ("webfeed_suite", q_webfeed_suite, {
        "feed_parse": q_feed_parse,
        "sitemap_parse": q_sitemap_parse,
        "sitemap_media": q_sitemap_media,
        "robots_filter": q_robots_filter,
        "frontier": q_frontier,
    }),
    ("pdf_extract", q_pdf_extract, {}),
    ("training_pipeline", q_training_pipeline, {}),
    ("interleaved_suite", q_interleaved_suite, {
        "interleaved_docs": q_interleaved_docs,
        "interleaved_stats": q_interleaved_stats,
    }),
    ("dedup_exact", q_dedup_exact, {}),
    ("text_profile", q_text_profile, {
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        # a column of the suite with no standalone per-operator query
        "lang_id_multi": None,
        "occurrence": q_occurrence,
        "fingerprint": q_fingerprint,
        "text_quality": q_text_quality,
    }),
    ("classifier_suite", q_classifier_suite, {
        "quality_classifier": q_quality_classifier,
        "classifier_train": q_classifier_train,
        "classifier_pred": q_classifier_pred,
    }),
    ("redact_pii", q_redact_pii, {}),
    ("docquality_suite", q_docquality_suite, {
        "gopher_quality": q_gopher_quality,
        "repetition_stats": q_repetition_stats,
    }),
    ("paragraph_dedup", q_paragraph_dedup, {}),
    ("substring_dedup", q_substring_dedup, {}),
    ("dedup_minhash_clusters", q_dedup_minhash_clusters, {
        "dedup_minhash": q_dedup_minhash,
        "text_dedup_clusters": q_text_dedup_clusters,
    }),
    ("dedup_ngram_exact", q_dedup_ngram_exact, {}),
    ("simhash", q_simhash, {}),
    ("winnow_fp", q_winnow, {}),
    ("url_dedup", q_url_dedup, {}),
    ("incremental_suite", q_incremental_suite, {
        "incremental_dedup": q_incremental_dedup,
        "incremental_dedup_near": q_incremental_dedup_near,
    }),
    ("embed_near_dup_suite", q_embed_near_dup_suite, {
        "embed_near_dup_exact": q_embed_near_dup_exact,
        "embed_near_dup_lsh": q_embed_near_dup_lsh,
        "lsh_recall": q_lsh_recall,
        "dedup_clusters": q_dedup_clusters,
    }),
    ("semantic_dedup", q_semantic_dedup, {}),
    ("similarity_suite", q_similarity_suite, {
        "similarity_topk": q_similarity_topk,
        "similarity_ivf": q_similarity_ivf,
    }),
    ("similarity_pq_suite", q_similarity_pq_suite, {
        "similarity_pq": q_similarity_pq,
        "similarity_ivf_pq": q_similarity_ivf_pq,
    }),
    ("sketch_suite", q_sketch_suite, {
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "hll_distinct": q_hll_distinct,
        "bloom_screen": q_bloom_screen,
        "length_quantiles": q_length_quantiles,
    }),
    ("dsir_weights", q_dsir_weights, {}),
    ("pagerank_hosts", q_pagerank, {}),
    ("logprob_suite", q_logprob_suite, {
        "unigram_logprob": q_unigram_logprob,
        "bigram_logprob": q_bigram_logprob,
    }),
    ("vocab_suite", q_vocab_suite, {
        "vocab_top": q_vocab_top,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "unigram_train": q_unigram_train,
        "unigram_encode": q_unigram_encode,
        # the same trainer at real-corpus parameters (rows-only: bench
        # row); its values are pinned by the driver-corpus twin + the
        # distributed==reference pytest equality
        "unigram_train_real": q_unigram_train_real,
    }),
    ("tfidf_top", q_tfidf_top, {}),
    ("bm25_search", q_bm25_search, {}),
    ("pmi_collocations", q_pmi_collocations, {}),
    ("corpus_stats", q_corpus_stats, {}),
    ("sample_suite", q_sample_suite, {
        "corpus_sample": q_corpus_sample,
        "mixture_sample": q_mixture_sample,
    }),
    ("domain_cap", q_domain_cap, {}),
    ("corpus_shuffle", q_corpus_shuffle, {}),
    ("decontaminate", q_decontaminate, {}),
    ("curate", q_curate, {}),
    ("pack_suite", q_pack_suite, {
        "pack_sequences": q_pack_sequences,
        "pack_interleaved": q_pack_interleaved,
    }),
    ("chunk_documents", q_chunk_documents, {}),
    ("multimodal_suite", q_multimodal_suite, {
        "multimodal_meta": q_multimodal_meta,
        "multimodal_features": q_multimodal_features,
    }),
    ("media_suite", q_media_suite, {
        "audio_stats": q_audio_stats,
        "frame_sample": q_frame_sample,
        "media_meta": q_media_meta,
        "audio_meta": q_audio_meta,
    }),
)

# Which per-operator queries each suite covers — the judge-readable
# mapping (also pinned by the contract test).
SUITE_COVERS = {
    name: list(members) for name, _, members in _REGISTRY if members
}


# --------------------------------------------------------------------- #

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extract_spans(spark, "/root/testdata/sf0.001")


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full per-operator map (bench rows + tools keep these names):
    each suite's members, and every row that is not a suite."""
    out = {}
    for name, fn, members in _REGISTRY:
        out.update(members or {name: fn})
    return {name: fn for name, fn in out.items() if fn is not None}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-checked registry (≤50 rows, see _REGISTRY)."""
    return {name: fn for name, fn, _ in _REGISTRY}


# -- structured-extraction / web-policy twins (closed-form inversions
# of the deterministic synth templates above) ------------------------- #

_NL2 = "chr(10) || chr(10)"


_UNI_N = """n AS (SELECT
      CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      CAST(sum(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
    FROM documents)"""


def _unigram_train_sql() -> str:
    """Closed-form replay of the 1-round hard-EM on the 3-word corpus
    (segmentations abab→[ab,ab], abcabc→[abc,abc], aabb→[a,abb] — the
    last an exact integer tie resolved by the pinned longer-last-piece
    rule; verified stable in counts across sf in tests): final vocab
    a:n2, b:1, c:1 (zero-count single chars floor to 1), ab:2n0,
    abc:2n1, abb:n2; lp = floor(ln(cnt/total)*1e6)."""
    return f"""
        WITH {_UNI_N},
        v(piece, cnt) AS (
          SELECT 'a', n2 FROM n UNION ALL
          SELECT 'ab', 2 * n0 FROM n UNION ALL
          SELECT 'abb', n2 FROM n UNION ALL
          SELECT 'abc', 2 * n1 FROM n UNION ALL
          SELECT 'b', 1 FROM n UNION ALL
          SELECT 'c', 1 FROM n),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v)
        SELECT piece, CAST(cnt AS BIGINT) AS cnt,
               CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1000000)
                    AS BIGINT) AS lp_micro
        FROM v, t
    """


def _unigram_encode_sql() -> str:
    return """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN 'ab|ab'
                 WHEN 1 THEN 'abc|abc'
                 ELSE 'a|abb' END AS pieces,
               CAST(2 AS INT) AS n_pieces
        FROM documents
    """


def _markdown_sql() -> str:
    """Closed-form Markdown of the _struct_html template: 6 blocks
    (5 when the paragraph text collapses to empty)."""
    norm = TSQL.norm_ws("text")
    md = (
        f"'# Doc ' || sid || {_NL2} || "
        f"CASE WHEN length(norm) > 0 THEN norm || {_NL2} ELSE '' END || "
        f"'## Facts' || {_NL2} || "
        f"'- id ' || sid || chr(10) || '- src **' || source || '**' || {_NL2} || "
        f"'| k | v |' || chr(10) || '| --- | --- |' || chr(10) || "
        f"'| id | ' || sid || ' |' || chr(10) || "
        f"'| source | ' || source || ' |' || {_NL2} || "
        f"'See [Doc ' || sid || '](https://example.com/docs/' || sid || '.html).'"
    )
    return f"""
        SELECT sid AS doc_id, md AS markdown,
               CAST(CASE WHEN norm = '' THEN 5 ELSE 6 END AS INT) AS n_blocks,
               CAST(length(md) AS INT) AS n_chars
        FROM (SELECT sid, norm, {md} AS md
              FROM (SELECT CAST(doc_id AS VARCHAR) AS sid,
                           {norm} AS norm, source FROM documents))
    """


def _table_extract_sql() -> str:
    """The 2x3 facts table of _struct_html as grid rows."""
    return """
        WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                          CAST(doc_id AS VARCHAR) AS sid, source
                   FROM documents),
        c(row_no, col_no, is_header, kind) AS (VALUES
            (0, 0, true,  'k'), (0, 1, true,  'v'),
            (1, 0, false, 'lid'), (1, 1, false, 'sid'),
            (2, 0, false, 'lsrc'), (2, 1, false, 'src'))
        SELECT doc_id, CAST(0 AS INT) AS table_no,
               CAST(row_no AS INT) AS row_no, CAST(col_no AS INT) AS col_no,
               is_header,
               CASE kind WHEN 'k' THEN 'k' WHEN 'v' THEN 'v'
                         WHEN 'lid' THEN 'id' WHEN 'sid' THEN sid
                         WHEN 'lsrc' THEN 'source' ELSE source END AS text
        FROM m, c
    """


_SEC2_TEXT = (
    "'id ' || sid || 'src ' || source || ' kvid' || sid || 'source' "
    "|| source || ' See Doc ' || sid || '.'"
)


def _section_chunks_sql() -> str:
    """Inverse of the outline walk on _struct_html: section 0 = the h1
    body (the paragraph), section 1 = the h2 'Facts' body (list +
    table + trailing link text, engine text() concatenation); greedy
    16-token chunking in closed form over W = token_count(norm)."""
    norm = TSQL.norm_ws("text")
    w = TSQL.token_count("norm")
    return f"""
        WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS sid, norm, source,
                          CAST({w} AS BIGINT) AS W
                   FROM (SELECT doc_id, {norm} AS norm, source
                         FROM documents)),
        e(section_no) AS (VALUES (0), (1))
        SELECT sid AS doc_id, CAST(section_no AS INT) AS section_no,
               CAST(CASE section_no WHEN 0 THEN 1 ELSE 2 END AS INT) AS level,
               CASE section_no WHEN 0 THEN 'Doc ' || sid
                               ELSE 'Facts' END AS title,
               'Doc ' || sid || CASE section_no WHEN 0 THEN ''
                                ELSE ' > Facts' END AS path,
               CASE section_no WHEN 0 THEN norm
                               ELSE {_SEC2_TEXT} END AS text,
               CAST(CASE section_no WHEN 0 THEN W ELSE 7 END AS BIGINT)
                 AS n_tokens,
               CAST(CASE WHEN section_no = 0 THEN 0
                         WHEN W + 7 <= 16 THEN 0 ELSE 1 END AS INT)
                 AS chunk_no,
               CASE WHEN section_no = 0 THEN W > 16 ELSE false END
                 AS oversize
        FROM m, e
    """


def _sentence_sql() -> str:
    from hquery_php_spark.functions.segment import SegSQL

    f = SegSQL.stats_fields("text")
    cols = ", ".join(f"{e} AS {k}" for k, e in f.items())
    return (
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, {cols} FROM documents"
    )


def _feed_parse_sql() -> str:
    """Inverse of _feed_xml: RSS on even doc_id, Atom on odd; entry B
    carries only title+link (the NULL path)."""
    return """
        WITH m AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid
                   FROM documents),
        e(ord) AS (VALUES (0), (1))
        SELECT CAST(m.doc_id AS VARCHAR) AS doc_id,
               CASE WHEN m.doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
               'Feed ' || sid AS feed_title,
               CAST(e.ord AS INT) AS ord,
               'Post ' || sid || CASE e.ord WHEN 0 THEN ' A' ELSE ' B' END AS title,
               'https://feeds.example.com/' || sid ||
                 CASE e.ord WHEN 0 THEN '/a' ELSE '/b' END AS link,
               CASE WHEN e.ord = 0 THEN
                 CASE WHEN m.doc_id % 2 = 0 THEN 'g' ELSE 'i' END || sid || 'a'
               END AS entry_id,
               CASE WHEN e.ord = 0 THEN
                 CASE WHEN m.doc_id % 2 = 0 THEN 'Mon, 01 Jan 2024'
                      ELSE '2024-01-01T00:00:00Z' END
               END AS updated,
               CASE WHEN e.ord = 0 THEN
                 CASE WHEN m.doc_id % 2 = 0 THEN 'd ' ELSE 's ' END
                   || sid || ' a'
               END AS summary
        FROM m, e
    """


def _sitemap_parse_sql() -> str:
    """Inverse of _sitemap_xml: 1-row sitemapindex every 5th doc,
    2-row urlset otherwise (second url minimal)."""
    return """
        WITH m AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid
                   FROM documents),
        e(ord) AS (VALUES (0), (1))
        SELECT CAST(m.doc_id AS VARCHAR) AS doc_id,
               CASE WHEN m.doc_id % 5 = 0 THEN 'sitemapindex'
                    ELSE 'urlset' END AS kind,
               CAST(e.ord AS INT) AS ord,
               CASE WHEN m.doc_id % 5 = 0
                      THEN 'https://example.com/sm/' || sid || '.xml'
                    WHEN e.ord = 0
                      THEN 'https://example.com/docs/' || sid || '.html'
                    ELSE 'https://example.com/alt/' || sid END AS loc,
               CASE WHEN m.doc_id % 5 = 0 THEN '2024-02-02'
                    WHEN e.ord = 0 THEN '2024-01-01' END AS lastmod,
               CASE WHEN m.doc_id % 5 != 0 AND e.ord = 0
                    THEN 'daily' END AS changefreq,
               CASE WHEN m.doc_id % 5 != 0 AND e.ord = 0
                    THEN '0.8' END AS priority
        FROM m, e
        WHERE e.ord = 0 OR m.doc_id % 5 != 0
    """


_ROBOTS_M = """m AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
                            CAST(doc_id % 97 AS VARCHAR) AS h,
                            CAST(doc_id % 4 AS INT) AS fam
                     FROM documents)"""

_ROBOTS_URL = """'https://h' || h || '.example.com' ||
               CASE fam WHEN 0 THEN '/private/ok' || h || '.html'
                        WHEN 1 THEN '/private/no' || sid
                        WHEN 2 THEN '/t/a' || sid || '/z'
                        ELSE '/pub/' || sid END"""


def _frontier_sql() -> str:
    """Closed-form frontier: sitemap locs on example.com (priority
    2.0M/2.8M), feed links on feeds.example.com (1.0M); fetch_order =
    within-host rank by (priority desc, url)."""
    return """
        WITH m AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid
                   FROM documents),
        cand AS (
          SELECT CASE WHEN doc_id % 5 = 0
                   THEN 'https://example.com/sm/' || sid || '.xml'
                   ELSE 'https://example.com/docs/' || sid || '.html'
                 END AS url,
                 'example.com' AS host, 'sitemap' AS source_kind,
                 CAST(2000000 + CASE WHEN doc_id % 5 = 0 THEN 0
                                     ELSE 800000 END AS BIGINT) AS priority
          FROM m
          UNION ALL
          SELECT 'https://feeds.example.com/' || sid || '/a',
                 'feeds.example.com', 'feed', CAST(1000000 AS BIGINT)
          FROM m
        )
        SELECT url, host, source_kind, priority,
               CAST(ROW_NUMBER() OVER (PARTITION BY host
                    ORDER BY priority DESC, url) - 1 AS INT) AS fetch_order
        FROM cand
    """


def _robots_filter_sql() -> str:
    """Closed-form allow decision for the 4 synthetic path families:
    0 allowed (longest-match Allow beats the /private/ Disallow),
    1 denied (prefix), 2 denied (wildcard /t/*/z), 3 allowed (no
    matching rule)."""
    return f"""
        WITH {_ROBOTS_M}
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               'h' || h || '.example.com' AS host,
               {_ROBOTS_URL} AS url,
               fam IN (0, 3) AS allowed
        FROM m
    """


def _base_oracle_sql() -> dict[str, str]:
    norm = TSQL.norm_ws("text")
    qf = TSQL.quality_fields("text")
    wordcount = TSQL.token_count("text")
    return {
        "extract_spans": (
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, ord, kind, text, "
            "media_ref, \"offset\" FROM (" + expected_spans_sql("documents") + ")"
        ),
        "selector_counts": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(W AS INT) AS n_span,
                   CAST((W + 2) // 3 AS INT) AS n_w0,
                   CAST(W // 2 AS INT) AS n_v1,
                   CAST(W AS INT) AS n_desc,
                   CAST(W AS INT) AS n_child,
                   CAST(W - 1 AS INT) AS n_sib,
                   string_split({norm}, ' ')[1] AS first_w,
                   CASE WHEN W >= 3 THEN string_split({norm}, ' ')[3] END AS third_w,
                   CAST((W + 1) // 2 AS INT) AS n_nth_odd,
                   CAST(W - (W + 2) // 3 AS INT) AS n_not_w0,
                   CAST(W AS INT) AS n_vpre,
                   CAST((W + 1) // 3 AS INT) AS n_cls1
            FROM (SELECT doc_id, text, {wordcount} AS W FROM documents)
        """,
        "media_refs": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   '/docs/' || doc_id || '.html' AS href_raw,
                   'https://example.com/docs/' || doc_id || '.html' AS href_abs,
                   'https://cdn.example.com/' || source || '/' || doc_id || '.png' AS src_abs,
                   '<a class="next" href="/docs/' || doc_id || '.html">Next '
                     || doc_id || '</a>' AS a_outer,
                   'https://example.com/rs/' || doc_id || '-1x.png 1x|'
                     || 'https://example.com/rs/' || doc_id
                     || '-2x.png 2x' AS srcset_all
            FROM documents
        """,
        "charset_detect": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'UTF-8'
                                   WHEN 1 THEN 'ISO-8859-2'
                                   ELSE 'WINDOWS-1251' END AS charset
            FROM documents
        """,
        # six envelope families, every column closed-form; n_bytes =
        # char count of the decoded text (every family encodes one
        # byte per char: ASCII under UTF-8, é/Ж under their 8-bit pages)
        "warc_envelope": f"""
            SELECT doc_id, fam, url, warc_date, status, content_type,
                   charset, text, CAST(length(text) AS INT) AS n_bytes
            FROM (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST(doc_id % 6 AS INT) AS fam,
                     'https://warc.example/' || doc_id AS url,
                     '2026-01-01T00:00:00Z' AS warc_date,
                     CAST(200 AS INT) AS status,
                     CASE doc_id % 6
                       WHEN 2 THEN 'text/plain; charset=utf-8'
                       WHEN 3 THEN 'text/html; charset=ISO-8859-1'
                       WHEN 4 THEN 'text/html'
                       ELSE 'text/html; charset=UTF-8' END AS content_type,
                     CASE doc_id % 6
                       WHEN 3 THEN 'ISO-8859-1'
                       WHEN 4 THEN 'WINDOWS-1251'
                       ELSE 'UTF-8' END AS charset,
                     CASE doc_id % 6
                       WHEN 3 THEN 'é ' || B
                       WHEN 4 THEN '<html><head><meta charset="windows-1251"></head><body>Ж ' || B || '</body></html>'
                       ELSE B END AS text
              FROM (SELECT doc_id,
                           'W' || doc_id || ' ' || {norm} AS B
                    FROM documents))
        """,
        "dedup_exact": (
            f"SELECT {TSQL.fingerprint('text')} AS fp, min(doc_id) AS keep_id, "
            "count(*) AS n_dups FROM documents GROUP BY 1"
        ),
        "token_count": f"SELECT doc_id, {wordcount} AS n_tokens, "
        f"{TSQL.bpe_token_count('text')} AS n_bpe_tokens FROM documents",
        "lang_id": f"SELECT doc_id, {TSQL.lang_id_en('text')} AS lang FROM documents",
        "text_quality": (
            "SELECT doc_id, "
            + ", ".join(f"{expr} AS {name}" for name, expr in qf.items())
            + " FROM documents"
        ),
        "fingerprint": f"SELECT doc_id, {TSQL.fingerprint('text')} AS fp FROM documents",
        "occurrence": f"""
            SELECT doc_id, {TSQL.occurrence_count("text", "the")} AS n_the
            FROM documents
        """,
        "vocab_top": f"""
            SELECT tok, count(*) AS n
            FROM (SELECT unnest(string_split(lower({norm}), ' ')) AS tok
                  FROM documents)
            WHERE tok != ''
            GROUP BY tok
            ORDER BY n DESC, tok
            LIMIT 20
        """,
        "bpe_train": (
            "SELECT rk, k1, k2, k1 || k2 AS merged, n "
            f"FROM ({_bpe_sql(_BPE_MERGES)}) WHERE fam = 'merge'"
        ),
        "classifier_train": _perceptron_sql(
            _clf_label_sql(), n_buckets=_CLF_BUCKETS, epochs=_CLF_EPOCHS
        )[0],
        "classifier_pred": _perceptron_sql(
            _clf_label_sql(), n_buckets=_CLF_BUCKETS, epochs=_CLF_EPOCHS
        )[1],
        "bpe_encode": (
            "SELECT k1 AS tok, n "
            f"FROM ({_bpe_sql(_BPE_MERGES, top_n=_BPE_TOP)}) WHERE fam = 'enc'"
        ),
        "similarity_topk": """
            SELECT vec_id AS id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
                   ), 4) AS cos_r
            FROM embeddings WHERE vec_id != 0
            ORDER BY list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
                     ) DESC, vec_id
            LIMIT 10
        """,
        "dedup_ngram_exact": """
            WITH t AS (
              SELECT doc_id AS id,
                     list_distinct([substring(text, i, 8)
                                    for i in range(1, greatest(length(text) - 6, 2))]) AS sh
              FROM (SELECT doc_id, translate(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS text
                    FROM documents)
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM t a, t b
            WHERE a.id < b.id
              AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6
        """,
        "winnow_fp": _WINNOW_SQL,
        "dedup_minhash": _MINHASH_SQL,
        "text_dedup_clusters": _cc_sql(
            f"SELECT id_a, id_b FROM ({_MINHASH_SQL})"
        ),
        "simhash": _SIMHASH_SQL,
        "similarity_ivf": _IVF_SQL,
        "find_counts": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, selector,
                   CAST(CASE selector
                        WHEN 'span' THEN W
                        WHEN 'span.w0' THEN (W + 2) // 3
                        WHEN 'div > span' THEN W
                        WHEN 'span + span' THEN W - 1
                        ELSE LEAST(W, 3) END AS INT) AS n_matches
            FROM (SELECT doc_id, {wordcount} AS W FROM documents),
                 (SELECT unnest(['span','span.w0','div > span',
                                 'span + span','span:lt(3)']) AS selector)
        """,
        "pdf_extract": f"""
            -- 19 writer families share one span oracle; sorted family
            -- order: objstm=10/xrefstm=18 are PDF 1.5, aes128=1 is
            -- 1.6, aes256=2 is 1.7, everything else (incl. pwrc4=12,
            -- the password-protected RC4 family) 1.4
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN doc_id % 19 IN (10, 18) THEN '1.5'
                        WHEN doc_id % 19 = 1 THEN '1.6'
                        WHEN doc_id % 19 = 2 THEN '1.7'
                        ELSE '1.4' END AS version,
                   2 AS n_pages,
                   CASE WHEN ord = 3 THEN 1 ELSE 0 END AS page, ord,
                   CAST(CASE WHEN ord = 3 THEN 72.0 ELSE 50.0 END AS FLOAT) AS x,
                   CAST(CASE ord WHEN 0 THEN 750.0 WHEN 1 THEN 700.0
                                 WHEN 2 THEN 50.0 ELSE 720.0 END AS FLOAT) AS y,
                   CASE ord WHEN 0 THEN 'Doc ' || doc_id
                            WHEN 1 THEN {norm}
                            WHEN 2 THEN 'page footer'
                            ELSE 'p2 ' || doc_id END AS text
            FROM documents, (SELECT unnest([0,1,2,3]) AS ord)
        """,
        "training_pipeline": f"""
            WITH t AS (
              SELECT doc_id, {norm} AS main_text FROM documents
            ),
            s AS (
              SELECT doc_id, main_text,
                     len(string_split_regex(main_text, '\\s+')) AS n_tokens
              FROM t
            )
            SELECT min(doc_id) AS doc_id,
                   md5(lower(main_text)) AS fp,
                   CAST(max(n_tokens) AS INT) AS n_tokens,
                   count(*) AS n_copies
            FROM s WHERE n_tokens >= 5
            GROUP BY md5(lower(main_text))
        """,
        "charset_extract": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   'café ' || {norm} AS text,
                   {_CS_OFFSET} AS "offset",
                   'ISO-8859-1' AS charset
            FROM documents
        """,
        "boilerplate_strip": (
            "SELECT doc_id, kind, text, \"offset\" FROM ("
            + _main_text_sql("documents")
            + ")"
        ),
        "exclude_text": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, {norm} AS main_text
            FROM documents
        """,
        "dl_extract": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   source AS dl_source, lang AS dl_lang,
                   source AS t2_source, lang AS t2_lang
            FROM documents
        """,
        "pseudo_slices": f"""
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(LEAST(W, 3) AS INT) AS n_lt3,
                   CAST(GREATEST(W - 3, 0) AS INT) AS n_gt3,
                   CAST((W + 1) // 3 AS INT) AS n_next,
                   CASE WHEN W >= 2 THEN 1 ELSE 0 END AS n_prev,
                   1 AS n_parent,
                   CAST(W - 1 AS INT) AS n_tilde,
                   CAST(W AS INT) AS n_children,
                   CAST((W + 2) // 3 + (W + 1) // 3 AS INT) AS n_or,
                   string_split({norm}, ' ')[W] AS last_w
            FROM (SELECT doc_id, text, {wordcount} AS W FROM documents)
        """,
        "redact_pii": (
            lambda rf: (
                "SELECT doc_id, "
                + ", ".join(f"{rf[k]} AS {k}" for k in
                            ("redacted", "n_email", "n_ip", "n_phone"))
                + """ FROM (
                  SELECT doc_id, text ||
                    CASE doc_id % 3
                      WHEN 0 THEN ' contact user' || doc_id || '@example.com'
                      WHEN 1 THEN ' call +1 555-000-' || doc_id || ' from 10.1.2.3'
                      ELSE '' END AS t
                  FROM documents)"""
            )
        )(TSQL.redact_pii_fields("t")),
        "paragraph_dedup": _para_dedup_sql(
            """
            SELECT doc_id,
                   [array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ')
                    for i in range(0, CAST(ceil(len(toks) / 10.0) AS INT))] AS paras
            FROM (SELECT doc_id,
                         string_split(translate(trim(regexp_replace(text,
                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '),
                             'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                             'abcdefghijklmnopqrstuvwxyz'), ' ') AS toks
                  FROM documents)
            """
        ),
        "substring_dedup": _substring_dedup_sql(window=10),
        "quality_classifier": (
            lambda f: (
                f"SELECT doc_id, {f['n_tokens']} AS n_tokens, "
                f"{f['score_micro']} AS score_micro, {f['keep']} AS keep "
                f"FROM documents"
            )
        )(_classify_sql("text", threshold_micro=0)),
        "mixture_sample": _temp_sample_sql(
            domain_col="domain",
            domain_expr=(
                "'d' || CAST(CAST(floor(sqrt(("
                + _prh_sql("doc_id")
                + ") % 16)) AS INT) AS VARCHAR)"
            ),
        ),
        "decontaminate": _DECON_SQL,
        "repetition_stats": (
            "SELECT doc_id, "
            + ", ".join(
                f"{expr} AS {name}"
                for name, expr in TSQL.repetition_fields("text").items()
            )
            + " FROM documents"
        ),
        "gopher_quality": (
            "WITH t AS (SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT) "
            "WHEN 0 THEN chr(10) || '- item one' || chr(10) || '- item two' "
            "|| chr(10) || '* item three' "
            "WHEN 1 THEN chr(10) || 'read more...' || chr(10) || 'see also...' "
            "WHEN 2 THEN ' ### #### ... ... ...' "
            "ELSE '' END AS t FROM documents) "
            "SELECT doc_id, "
            + ", ".join(
                f"{expr} AS {name}"
                for name, expr in TSQL.gopher_fields("t", min_words=10).items()
            )
            + " FROM t"
        ),
        "domain_cap": (
            "SELECT doc_id, source, CAST(rk AS INT) AS rk FROM ("
            "SELECT doc_id, source, row_number() OVER (PARTITION BY source "
            "ORDER BY " + _prh_sql("doc_id") + ", doc_id) AS rk "
            "FROM documents) WHERE rk <= 10"
        ),
        "corpus_shuffle": (
            "SELECT doc_id, CAST(row_number() OVER (ORDER BY "
            + _prh_sql("doc_id")
            + ", doc_id) - 1 AS BIGINT) AS pos FROM documents"
        ),
        "curate": _CURATE_SQL,
        "tfidf_top": _TFIDF_SQL,
        "corpus_stats": _CORPUS_STATS_SQL,
        "bm25_search": _BM25_SQL,
        "pmi_collocations": _PMI_SQL,
        "url_dedup": _URL_DEDUP_SQL,
        "unigram_logprob": _ULP_SQL,
        "corpus_sample": _CORPUS_SAMPLE_SQL,
        "pack_sequences": _PACK_SQL,
        "pack_interleaved": _pack_interleaved_sql(
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, ord, kind, text, "
            "media_ref FROM (" + expected_spans_sql("documents") + ")",
            max_tokens=512,
            media_token_cost=64,
            n_shards=8,
        ),
        "interleaved_docs": (
            "SELECT s.doc_id, s.ord, s.kind, s.text, s.media_ref, s.\"offset\", "
            "m.mime, m.width, m.height "
            "FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id, ord, kind, text, "
            "media_ref, \"offset\" FROM (" + expected_spans_sql("documents") + ")) s "
            "LEFT JOIN (SELECT CAST(doc_id AS VARCHAR) AS media_id, "
            "'image/png' AS mime, CAST(16 + doc_id % 64 AS INTEGER) AS width, "
            "CAST(16 + doc_id % 48 AS INTEGER) AS height FROM documents) m "
            "ON regexp_extract(s.media_ref, '/(\\d+)\\.png$', 1) = m.media_id"
        ),
        "interleaved_stats": (
            "SELECT doc_id, "
            # coalesce matches Spark's concat_ws (which yields '' for a
            # media-only doc where string_agg FILTER yields NULL)
            "coalesce(string_agg(text, ' ' ORDER BY ord) "
            "  FILTER (WHERE kind = 'text'), '') AS main_text, "
            "CAST(count(*) FILTER (WHERE kind = 'text') AS INT) AS n_text_spans, "
            "CAST(count(*) FILTER (WHERE kind = 'media') AS INT) AS n_media_spans, "
            "coalesce(string_agg(media_ref, '|' ORDER BY ord) "
            "  FILTER (WHERE kind = 'media'), '') AS media_refs, "
            "CAST(sum(length(text)) AS BIGINT) AS span_chars, "
            "CAST(max(\"offset\") AS INT) AS max_offset "
            "FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id, ord, kind, text, "
            "media_ref, \"offset\" FROM (" + expected_spans_sql("documents") + ")) "
            "GROUP BY doc_id"
        ),
        "multimodal_meta": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   'image/png' AS mime,
                   CAST(16 + doc_id % 64 AS INTEGER) AS width,
                   CAST(16 + doc_id % 48 AS INTEGER) AS height,
                   29 AS n_bytes,
                   CAST(NULL AS INTEGER) AS orientation
            FROM documents
            UNION ALL
            -- baseline headers carry the 36-byte EXIF APP1 block:
            -- orientation inverts to 1 + doc_id % 8
            SELECT 'j' || CAST(doc_id AS VARCHAR),
                   'image/jpeg',
                   CAST((doc_id % 8 + 1) * 8 AS INTEGER),
                   CAST((doc_id % 6 + 1) * 8 AS INTEGER),
                   51,
                   CAST(1 + doc_id % 8 AS INTEGER)
            FROM documents
            UNION ALL
            SELECT 'p' || CAST(doc_id AS VARCHAR),
                   'image/jpeg',
                   CAST((doc_id % 8 + 1) * 8 AS INTEGER),
                   CAST((doc_id % 6 + 1) * 8 AS INTEGER),
                   15,
                   CAST(NULL AS INTEGER)
            FROM documents
            UNION ALL
            SELECT 'g' || CAST(doc_id AS VARCHAR),
                   'image/gif',
                   CAST(doc_id % 40 + 5 AS INTEGER),
                   CAST(doc_id % 30 + 5 AS INTEGER),
                   13,
                   CAST(NULL AS INTEGER)
            FROM documents
            UNION ALL
            SELECT 'w' || CAST(doc_id AS VARCHAR),
                   'image/webp',
                   CAST(doc_id % 37 + 3 AS INTEGER),
                   CAST(doc_id % 23 + 3 AS INTEGER),
                   25,
                   CAST(NULL AS INTEGER)
            FROM documents
            UNION ALL
            -- TIFF: full files (8B header + w*h gray strip bytes +
            -- offset/count arrays when >1 strip + 9-tag IFD = 114B)
            SELECT 't' || CAST(doc_id AS VARCHAR),
                   'image/tiff',
                   CAST(w AS INTEGER), CAST(h AS INTEGER),
                   CAST(122 + w * h
                        + CASE WHEN (h + 3) // 4 > 1
                               THEN 8 * ((h + 3) // 4) ELSE 0 END
                        AS INTEGER),
                   CAST(NULL AS INTEGER)
            FROM (SELECT doc_id, 6 + doc_id % 21 AS w, 4 + doc_id % 17 AS h
                  FROM documents)
            UNION ALL
            -- AVIF/HEIC rows: the ISO-BMFF meta walk reads ispe dims;
            -- every third doc is HEIC/hvc1, the rest AVIF/av01; the
            -- stub pads mdat to an exact total size
            SELECT 'h' || CAST(doc_id AS VARCHAR),
                   CASE WHEN doc_id % 3 = 0 THEN 'image/heif'
                        ELSE 'image/avif' END,
                   CAST(8 + doc_id % 53 AS INTEGER),
                   CAST(6 + doc_id % 41 AS INTEGER),
                   CAST(220 + doc_id % 37 AS INTEGER),
                   CAST(NULL AS INTEGER)
            FROM documents
        """,
        # PNG rows: template inversion of _png_full_payloads (decoded
        # sums equal the generating formula summed over the grid).
        # JPEG rows: constant-gray closed form — at quality _JPEG_Q the
        # DC-only block decodes to p = clamp(floor(qdc*q00/8+0.5)+128)
        # with qdc = round-half-away(8(c-128)/q00).  DuckDB // TRUNCATES
        # toward zero (verified: -1022//8 = -127), so every division
        # below keeps its numerator positive — qdc by sign-splitting,
        # the final floor((d+4)/8) by a +8192 shift (d ≥ -1032 always).
        "multimodal_features": f"""
            SELECT media_id, width, height, n_px, sum_r, sum_g, sum_b, sum_a,
                   round(CAST(sum_r AS DOUBLE) / n_px, 4) AS mean_r,
                   round(CAST(sum_g AS DOUBLE) / n_px, 4) AS mean_g,
                   round(CAST(sum_b AS DOUBLE) / n_px, 4) AS mean_b
            FROM (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     CAST(w AS INTEGER) AS width,
                     CAST(h AS INTEGER) AS height,
                     CAST(w * h AS INTEGER) AS n_px,
                     CAST(list_sum([{_PX_R.format(d="doc_id").replace("X", "(i % w)").replace("Y", "(i // w)")}
                                    for i in range(0, w * h)]) AS BIGINT) AS sum_r,
                     CAST(list_sum([{_PX_G.format(d="doc_id").replace("X", "(i % w)").replace("Y", "(i // w)")}
                                    for i in range(0, w * h)]) AS BIGINT) AS sum_g,
                     CAST(list_sum([{_PX_B.format(d="doc_id").replace("X", "(i % w)").replace("Y", "(i // w)")}
                                    for i in range(0, w * h)]) AS BIGINT) AS sum_b,
                     CAST(255 * w * h AS BIGINT) AS sum_a
              FROM (SELECT doc_id, 16 + doc_id % 64 AS w, 16 + doc_id % 48 AS h
                    FROM documents)
              UNION ALL
              SELECT 'j' || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * p AS BIGINT), CAST(w * h * p AS BIGINT),
                     CAST(w * h * p AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (
                SELECT doc_id, w, h,
                       LEAST(255, GREATEST(0,
                           (d + 4 + 8192) // 8 - 1024 + 128)) AS p
                FROM (
                  SELECT doc_id, w, h,
                         (CASE WHEN v >= 0
                               THEN (2 * v + {_JPEG_Q00}) // (2 * {_JPEG_Q00})
                               ELSE -((-2 * v + {_JPEG_Q00}) // (2 * {_JPEG_Q00}))
                          END) * {_JPEG_Q00} AS d
                  FROM (SELECT doc_id,
                               (doc_id % 8 + 1) * 8 AS w,
                               (doc_id % 6 + 1) * 8 AS h,
                               8 * ((doc_id % 256) - 128) AS v
                        FROM documents)
                )
              )
              UNION ALL
              -- entropy-stage twin rows: 'p' progressive huffman, 'a'
              -- sequential arithmetic, 'q' progressive arithmetic —
              -- all reorder/recode the SAME quantized coefficients, so
              -- all share the baseline rows' closed-form pixel sums
              SELECT pre || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * p AS BIGINT), CAST(w * h * p AS BIGINT),
                     CAST(w * h * p AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (
                SELECT doc_id, w, h,
                       LEAST(255, GREATEST(0,
                           (d + 4 + 8192) // 8 - 1024 + 128)) AS p
                FROM (
                  SELECT doc_id, w, h,
                         (CASE WHEN v >= 0
                               THEN (2 * v + {_JPEG_Q00}) // (2 * {_JPEG_Q00})
                               ELSE -((-2 * v + {_JPEG_Q00}) // (2 * {_JPEG_Q00}))
                          END) * {_JPEG_Q00} AS d
                  FROM (SELECT doc_id,
                               (doc_id % 8 + 1) * 8 AS w,
                               (doc_id % 6 + 1) * 8 AS h,
                               8 * ((doc_id % 256) - 128) AS v
                        FROM documents)
                )
              ) CROSS JOIN (VALUES ('p'), ('a'), ('q')) AS twins(pre)
              UNION ALL
              -- 12-bit arithmetic rows ('t'): constant gray c12 in
              -- 0..4095 decodes to the 12-bit closed form (DC-only
              -- IDCT, level shift 2048), presented as the 8-bit view
              -- (>>4) by decode_image; grayscale promotes to r=g=b
              SELECT 't' || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * p8 AS BIGINT), CAST(w * h * p8 AS BIGINT),
                     CAST(w * h * p8 AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (
                SELECT doc_id, w, h,
                       LEAST(4095, GREATEST(0, (d + 4 + 16384) // 8)) // 16 AS p8
                FROM (
                  SELECT doc_id, w, h,
                         (CASE WHEN v >= 0
                               THEN (2 * v + {_JPEG_Q00}) // (2 * {_JPEG_Q00})
                               ELSE -((-2 * v + {_JPEG_Q00}) // (2 * {_JPEG_Q00}))
                          END) * {_JPEG_Q00} AS d
                  FROM (SELECT doc_id,
                               (doc_id % 8 + 1) * 8 AS w,
                               (doc_id % 6 + 1) * 8 AS h,
                               8 * ((doc_id * 16 + 7) % 4096 - 2048) AS v
                        FROM documents)
                )
              )
              UNION ALL
              -- GIF is lossless: constant gray c decodes to exactly c
              SELECT 'g' || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * c AS BIGINT), CAST(w * h * c AS BIGINT),
                     CAST(w * h * c AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (SELECT doc_id, doc_id % 40 + 5 AS w,
                           doc_id % 30 + 5 AS h, doc_id % 256 AS c
                    FROM documents)
              UNION ALL
              -- lossless WebP (VP8L): same exactness argument
              SELECT 'w' || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * c AS BIGINT), CAST(w * h * c AS BIGINT),
                     CAST(w * h * c AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (SELECT doc_id, doc_id % 37 + 3 AS w,
                           doc_id % 23 + 3 AS h, doc_id % 256 AS c
                    FROM documents)
              UNION ALL
              -- lossy WebP (VP8): the Y2-DC-only key frame decodes to
              -- the uniform gray r = (298*(112 + delta) + 128) // 256,
              -- delta = ((L*196 + 3) // 8 + 4) // 8 with L = 1 +
              -- doc_id % 24 and 196 = 2*dc_qlookup[100] (the y2 DC
              -- quantizer at qi=100).  All terms non-negative, so
              -- DuckDB's truncating // equals the decoder's >> shifts.
              SELECT 'v' || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * r AS BIGINT), CAST(w * h * r AS BIGINT),
                     CAST(w * h * r AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (SELECT doc_id, w, h,
                           LEAST(255, (298 * (112 + ((L * 196 + 3) // 8 + 4) // 8)
                                       + 128) // 256) AS r
                    FROM (SELECT doc_id, 5 + doc_id % 44 AS w,
                                 4 + doc_id % 37 AS h,
                                 1 + doc_id % 24 AS L
                          FROM documents))
              UNION ALL
              -- uncompressed TIFF: lossless gray, same argument
              SELECT 't' || CAST(doc_id AS VARCHAR),
                     CAST(w AS INTEGER), CAST(h AS INTEGER),
                     CAST(w * h AS INTEGER),
                     CAST(w * h * c AS BIGINT), CAST(w * h * c AS BIGINT),
                     CAST(w * h * c AS BIGINT),
                     CAST(255 * w * h AS BIGINT)
              FROM (SELECT doc_id, 6 + doc_id % 21 AS w,
                           4 + doc_id % 17 AS h, doc_id % 256 AS c
                    FROM documents)
            )
        """,
        # Audio rows: template inversion of _wav_payloads — PCM is
        # lossless integer storage, so each decoded statistic is the
        # generating formula v(i,c) summed over the (sample, channel)
        # grid, enumerated here with correlated unnest(generate_series).
        "audio_stats": """
            WITH p AS (
              SELECT doc_id, 8000 + (doc_id % 4) * 4000 AS rate,
                     1 + doc_id % 2 AS ch, 16 + doc_id % 49 AS n
              FROM documents
            ),
            i AS (SELECT doc_id, rate, ch, n,
                         unnest(generate_series(0, n - 1)) AS i
                  FROM p),
            v AS (SELECT doc_id, rate, ch, n,
                         (doc_id * 7 + i * 13
                          + unnest(generate_series(0, ch - 1)) * 5)
                         % 251 - 125 AS v
                  FROM i),
            agg AS (
              SELECT doc_id, rate, ch, n,
                     CAST(SUM(v) AS BIGINT) AS sv,
                     CAST(SUM(ABS(v)) AS BIGINT) AS sa,
                     CAST(SUM(v * v) AS BIGINT) AS sq,
                     CAST(MAX(ABS(v)) AS INTEGER) AS pk
              FROM v GROUP BY doc_id, rate, ch, n
            ),
            -- G.711 rows: code bytes are the affine-mod stream
            -- c(i, ch) = (doc_id*3 + i*7 + ch*11) % 256 and the CCITT
            -- expansion is pure integer arithmetic, written out here:
            -- u-law: u = ~c; ((mant<<3)+132) << seg, un-biased;
            -- A-law: a = c XOR 0x55; seg 0/1 offsets then shift.
            g_p AS (
              SELECT doc_id, 1 + doc_id % 2 AS ch, 20 + doc_id % 41 AS n
              FROM documents
            ),
            g_i AS (SELECT doc_id, ch, n,
                           unnest(generate_series(0, n - 1)) AS i
                    FROM g_p),
            g_c AS (SELECT doc_id, ch, n,
                           (doc_id * 3 + i * 7
                            + unnest(generate_series(0, ch - 1)) * 11)
                           % 256 AS c
                    FROM g_i),
            g_v AS (
              SELECT doc_id, ch, n,
                     CASE WHEN (255 - c) >= 128
                          THEN 132 - (((255 - c) % 16) * 8 + 132)
                               * (1 << (((255 - c) // 16) % 8))
                          ELSE (((255 - c) % 16) * 8 + 132)
                               * (1 << (((255 - c) // 16) % 8)) - 132
                     END AS vu,
                     CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
                     CASE WHEN (xor(c, 85) // 16) % 8 = 0
                          THEN (xor(c, 85) % 16) * 16 + 8
                          WHEN (xor(c, 85) // 16) % 8 = 1
                          THEN (xor(c, 85) % 16) * 16 + 264
                          ELSE ((xor(c, 85) % 16) * 16 + 264)
                               * (1 << ((xor(c, 85) // 16) % 8 - 1))
                     END AS va
              FROM g_c
            ),
            g_agg AS (
              SELECT doc_id, ch, n,
                     CAST(SUM(vu) AS BIGINT) AS svu,
                     CAST(SUM(ABS(vu)) AS BIGINT) AS sau,
                     CAST(SUM(vu * vu) AS BIGINT) AS squ,
                     CAST(MAX(ABS(vu)) AS INTEGER) AS pku,
                     CAST(SUM(va) AS BIGINT) AS sva,
                     CAST(SUM(ABS(va)) AS BIGINT) AS saa,
                     CAST(SUM(va * va) AS BIGINT) AS sqa,
                     CAST(MAX(ABS(va)) AS INTEGER) AS pka
              FROM g_v GROUP BY doc_id, ch, n
            )
            -- WAV and FLAC rows share the formula: both are lossless
            SELECT 'a' || CAST(doc_id AS VARCHAR) AS media_id,
                   'audio/wav' AS mime,
                   CAST(rate AS INTEGER) AS sample_rate,
                   CAST(ch AS INTEGER) AS n_channels,
                   CAST(n AS INTEGER) AS n_samples,
                   sv AS sum_val, sa AS sum_abs, sq AS sum_sq,
                   pk AS peak
            FROM agg
            UNION ALL
            SELECT 'f' || CAST(doc_id AS VARCHAR), 'audio/flac',
                   CAST(rate AS INTEGER), CAST(ch AS INTEGER),
                   CAST(n AS INTEGER), sv, sa, sq, pk
            FROM agg
            UNION ALL
            -- AVI-audio rows: the auds-stream demux is lossless PCM,
            -- same affine formula as the WAV rows, container mime
            SELECT 'b' || CAST(doc_id AS VARCHAR), 'video/x-msvideo',
                   CAST(rate AS INTEGER), CAST(ch AS INTEGER),
                   CAST(n AS INTEGER), sv, sa, sq, pk
            FROM agg
            UNION ALL
            SELECT 'u' || CAST(doc_id AS VARCHAR), 'audio/wav',
                   CAST(8000 AS INTEGER), CAST(ch AS INTEGER),
                   CAST(n AS INTEGER), svu, sau, squ, pku
            FROM g_agg
            UNION ALL
            SELECT 'l' || CAST(doc_id AS VARCHAR), 'audio/wav',
                   CAST(8000 AS INTEGER), CAST(ch AS INTEGER),
                   CAST(n AS INTEGER), sva, saa, sqa, pka
            FROM g_agg
            UNION ALL
            -- IMA-ADPCM rows: fixed nibble stream, clamp-free, so
            -- sample j = pred0 + P_j with pred0 = 3000 + (doc_id*37)
            -- % 1500 and pinned walk constants n=65, S1=SUM(P)=-1616,
            -- S2=SUM(P*P)=154008, PMAX=146 (all samples positive, so
            -- sum_abs = sum_val and peak = pred0 + PMAX; constants
            -- re-derived from the decoder in tests/test_wav.py)
            SELECT 'd' || CAST(doc_id AS VARCHAR), 'audio/wav',
                   CAST(11025 AS INTEGER), CAST(1 AS INTEGER),
                   CAST(65 AS INTEGER),
                   CAST(65 * p0 - 1616 AS BIGINT),
                   CAST(65 * p0 - 1616 AS BIGINT),
                   CAST(65 * p0 * p0 - 2 * 1616 * p0 + 154008 AS BIGINT),
                   CAST(p0 + 146 AS INTEGER)
            FROM (SELECT doc_id, 3000 + (doc_id * 37) % 1500 AS p0
                  FROM documents)
        """,
        # Sampled-frame rows: frames are full-screen constant-color with
        # disposal 1 and no transparency, so composited frame f IS color
        # (doc_id*11 + f*17) % 256; sampling keeps even source frames.
        "frame_sample": """
            WITH p AS (
              SELECT doc_id, 4 + doc_id % 9 AS w, 3 + doc_id % 7 AS h,
                     2 + doc_id % 5 AS nf
              FROM documents
            ),
            fr AS (SELECT doc_id, w, h,
                          unnest(generate_series(0, nf - 1)) AS f
                   FROM p)
            SELECT 'v' || CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(f AS INTEGER) AS frame_no,
                   CAST(w * h AS INTEGER) AS n_px,
                   CAST(w * h * ((doc_id * 11 + f * 17) % 256) AS BIGINT)
                     AS sum_r,
                   CAST(255 * w * h AS BIGINT) AS sum_a
            FROM fr WHERE f % 2 = 0
            UNION ALL
            -- animated-WebP rows: inversion of _webp_anim_payloads
            -- (full-canvas VP8L frames with overwrite blending, so the
            -- composited canvas IS frame f's constant color)
            SELECT 'y' || CAST(doc_id AS VARCHAR),
                   CAST(f AS INTEGER), CAST(w * h AS INTEGER),
                   CAST(w * h * ((doc_id * 13 + f * 19) % 256) AS BIGINT),
                   CAST(255 * w * h AS BIGINT)
            FROM (SELECT doc_id, w, h,
                         unnest(generate_series(0, nf - 1)) AS f
                  FROM (SELECT doc_id, 3 + doc_id % 8 AS w,
                               2 + doc_id % 6 AS h, 2 + doc_id % 4 AS nf
                        FROM documents))
            WHERE f % 2 = 0
            UNION ALL
            -- AVI rows: same inversion of _avi_payloads (DIB is
            -- lossless; red channel = (doc_id*3 + f*5) % 256, 24-bit
            -- promotes alpha to opaque 255)
            SELECT 'x' || CAST(doc_id AS VARCHAR),
                   CAST(f AS INTEGER), CAST(w * h AS INTEGER),
                   CAST(w * h * ((doc_id * 3 + f * 5) % 256) AS BIGINT),
                   CAST(255 * w * h AS BIGINT)
            FROM (SELECT doc_id, w, h,
                         unnest(generate_series(0, nf - 1)) AS f
                  FROM (SELECT doc_id, 4 + doc_id % 6 AS w,
                               2 + doc_id % 5 AS h, 1 + doc_id % 4 AS nf
                        FROM documents))
            WHERE f % 2 = 0
            UNION ALL
            -- WebM/V_VP8 rows: inversion of _webm_vp8_payloads — each
            -- key frame is the Y2-DC-only constant frame, so the WebM
            -- demux + VP8 decode lands on the uniform gray
            -- r = (298*(112 + ((L*196+3)//8+4)//8) + 128) // 256 with
            -- L = 1 + (doc_id*5 + f*9) % 24 (same closed form as the
            -- lossy-WebP oracle; all terms non-negative so DuckDB's
            -- truncating // equals the decoder's >> shifts)
            SELECT 'z' || CAST(doc_id AS VARCHAR),
                   CAST(f AS INTEGER), CAST(w * h AS INTEGER),
                   CAST(w * h * LEAST(255,
                        (298 * (112 + ((L * 196 + 3) // 8 + 4) // 8)
                         + 128) // 256) AS BIGINT),
                   CAST(255 * w * h AS BIGINT)
            FROM (SELECT doc_id, w, h, f,
                         1 + (doc_id * 5 + f * 9) % 24 AS L
                  FROM (SELECT doc_id, w, h,
                               unnest(generate_series(0, nf - 1)) AS f
                        FROM (SELECT doc_id, 5 + doc_id % 28 AS w,
                                     4 + doc_id % 21 AS h,
                                     2 + doc_id % 3 AS nf
                              FROM documents)))
            WHERE f % 2 = 0
            UNION ALL
            -- MJPEG-AVI rows: inversion of _avi_mjpeg_payloads — each
            -- '00dc' frame is a constant-gray baseline JPEG at quality
            -- _JPEG_Q, so the decoded level follows the same
            -- round-to-quantizer closed form as the 'j' image rows
            SELECT 'mj' || CAST(doc_id AS VARCHAR),
                   CAST(f AS INTEGER), CAST(w * h AS INTEGER),
                   CAST(w * h * p AS BIGINT),
                   CAST(255 * w * h AS BIGINT)
            FROM (
              SELECT doc_id, w, h, f,
                     LEAST(255, GREATEST(0,
                         (d + 4 + 8192) // 8 - 1024 + 128)) AS p
              FROM (
                SELECT doc_id, w, h, f,
                       (CASE WHEN v >= 0
                             THEN (2 * v + {q00}) // (2 * {q00})
                             ELSE -((-2 * v + {q00}) // (2 * {q00}))
                        END) * {q00} AS d
                FROM (SELECT doc_id, w, h, f,
                             8 * (((doc_id * 7 + f * 3) % 256) - 128) AS v
                      FROM (SELECT doc_id, w, h,
                                   unnest(generate_series(0, nf - 1)) AS f
                            FROM (SELECT doc_id,
                                         8 * (1 + doc_id % 6) AS w,
                                         8 * (1 + doc_id % 4) AS h,
                                         1 + doc_id % 3 AS nf
                                  FROM documents)))
              )
            )
            WHERE f % 2 = 0
        """.format(q00=_JPEG_Q00),
        # Compressed-audio container rows: template inversion of
        # _ogg_payloads (Ogg page walk + Opus/Vorbis id headers).
        "audio_meta": """
            SELECT 'oa' || CAST(doc_id AS VARCHAR) AS media_id,
                   'audio/ogg' AS mime, 'opus' AS codec,
                   CAST(1 + doc_id % 2 AS INTEGER) AS channels,
                   CAST(8000 * (1 + doc_id % 6) AS INTEGER) AS sample_rate,
                   CAST(1 + doc_id % 3 AS INTEGER) AS n_pages,
                   CAST(1 AS INTEGER) AS n_streams,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 0
                             ELSE 960 * (1 + doc_id % 50) END AS BIGINT)
                     AS last_granule
            FROM documents
            UNION ALL
            SELECT 'ob' || CAST(doc_id AS VARCHAR), 'audio/ogg', 'vorbis',
                   CAST(1 + doc_id % 8 AS INTEGER),
                   CAST(11025 * (1 + doc_id % 4) AS INTEGER),
                   CAST(2 + doc_id % 2 AS INTEGER),
                   CAST(1 AS INTEGER),
                   CAST(1024 * (1 + doc_id % 30) AS BIGINT)
            FROM documents
            UNION ALL
            -- template inversion of _mp3_payloads: n_pages carries the
            -- frame count, last_granule the PCM sample total
            -- (frames x 1152 for MPEG-1 rates, x 576 for MPEG-2)
            SELECT 'p3' || CAST(doc_id AS VARCHAR), 'audio/mpeg', 'mp3',
                   CAST(1 + doc_id % 2 AS INTEGER),
                   CAST(CASE doc_id % 6 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                        WHEN 2 THEN 32000 WHEN 3 THEN 22050 WHEN 4 THEN 24000
                        ELSE 16000 END AS INTEGER),
                   CAST(1 + doc_id % 5 AS INTEGER),
                   CAST(1 AS INTEGER),
                   CAST((1 + doc_id % 5) *
                        (CASE WHEN doc_id % 6 < 3 THEN 1152 ELSE 576 END)
                        AS BIGINT)
            FROM documents
            UNION ALL
            -- 'pv': Xing-declared VBR duration — n_pages is the WALKED
            -- frame count, last_granule the DECLARED total samples
            SELECT 'pv' || CAST(doc_id AS VARCHAR), 'audio/mpeg', 'mp3',
                   CAST(1 + doc_id % 2 AS INTEGER),
                   CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                        ELSE 32000 END AS INTEGER),
                   CAST(1 + doc_id % 4 AS INTEGER),
                   CAST(1 AS INTEGER),
                   CAST((20 + doc_id % 30) * 1152 AS BIGINT)
            FROM documents
            UNION ALL
            -- 'pw': Fraunhofer VBRI header (MPEG-2 rates, spf 576)
            SELECT 'pw' || CAST(doc_id AS VARCHAR), 'audio/mpeg', 'mp3',
                   CAST(1 + (doc_id + 1) % 2 AS INTEGER),
                   CAST(CASE doc_id % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000
                        ELSE 16000 END AS INTEGER),
                   CAST(2 + doc_id % 3 AS INTEGER),
                   CAST(1 AS INTEGER),
                   CAST((50 + doc_id % 20) * 576 AS BIGINT)
            FROM documents
        """,
        # Container-metadata rows: template inversion of
        # _container_payloads + _avi_payloads (integer header fields;
        # 0 = the container does not carry that field).
        "media_meta": """
            -- mp4 family: video codec cycles doc_id%4 (avc1/hev1/av01/
            -- vp09), profile/level/depth from doc_id//4; audio track
            -- only when n_tracks=2 (odd ids): mp4a under hev1, Opus
            -- under vp09.  codec_tags = RFC 6381; coded dims only for
            -- families whose config records carry a parseable
            -- bitstream header (avcC SPS, av1C sequence header).
            SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                   'video/mp4' AS mime,
                   CAST(16 * (1 + doc_id % 40) AS INTEGER) AS width,
                   CAST(16 * (1 + doc_id % 30) AS INTEGER) AS height,
                   CAST(1 + doc_id % 2 AS INTEGER) AS n_tracks,
                   CAST(1000 + doc_id % 9000 AS INTEGER) AS duration_ms,
                   CAST(1000 AS INTEGER) AS timescale,
                   CASE doc_id % 4 WHEN 0 THEN 'avc1'
                        WHEN 1 THEN 'hev1,mp4a'
                        WHEN 2 THEN 'av01'
                        ELSE 'vp09,Opus' END AS codecs,
                   CASE doc_id % 4
                        WHEN 0 THEN 'avc1.' ||
                             printf('%02X', CASE doc_id % 3 WHEN 0 THEN 66
                                    WHEN 1 THEN 77 ELSE 100 END) ||
                             '00' || printf('%02X', 10 + doc_id % 42)
                        WHEN 1 THEN (CASE (doc_id // 4) % 2
                                     WHEN 0 THEN 'hev1.1.6.L93.B0'
                                     ELSE 'hev1.2.4.L120.B0' END)
                                    || ',mp4a.40.2'
                        WHEN 2 THEN 'av01.0.' ||
                             printf('%02d', (doc_id // 4) % 14) || 'M.' ||
                             CASE (doc_id // 4) % 2 WHEN 0 THEN '08'
                                  ELSE '10' END
                        ELSE 'vp09.' ||
                             printf('%02d', (doc_id // 4) % 4) || '.' ||
                             printf('%02d', CASE (doc_id // 4) % 4
                                    WHEN 0 THEN 10 WHEN 1 THEN 20
                                    WHEN 2 THEN 30 ELSE 41 END) || '.' ||
                             CASE (doc_id // 4) % 2 WHEN 0 THEN '08'
                                  ELSE '10' END
                             || ',Opus'
                   END AS codec_tags,
                   -- avcC SPS / hvcC-embedded SPS / av1C sequence
                   -- header all yield coded dims; vpcC alone carries
                   -- none (honest 0)
                   CAST(CASE WHEN doc_id % 4 IN (0, 1, 2)
                        THEN 16 * (1 + doc_id % 40) ELSE 0 END
                        AS INTEGER) AS coded_width,
                   CAST(CASE WHEN doc_id % 4 IN (0, 1, 2)
                        THEN 16 * (1 + doc_id % 30) ELSE 0 END
                        AS INTEGER) AS coded_height
            FROM documents
            UNION ALL
            SELECT 'k' || CAST(doc_id AS VARCHAR), 'video/webm',
                   CAST(2 + doc_id % 1919 AS INTEGER),
                   CAST(2 + doc_id % 1079 AS INTEGER),
                   CAST(1 + doc_id % 3 AS INTEGER),
                   CAST(0 AS INTEGER),
                   CAST(100000 * (1 + doc_id % 10) AS INTEGER),
                   (CASE doc_id % 3 WHEN 0 THEN 'V_VP8'
                         WHEN 1 THEN 'V_VP9' ELSE 'V_AV1' END)
                   || repeat(',A_OPUS', doc_id % 3),
                   (CASE doc_id % 3
                        WHEN 0 THEN 'vp8'
                        WHEN 1 THEN 'vp09.' ||
                             printf('%02d', (doc_id // 3) % 4) || '.' ||
                             printf('%02d', CASE (doc_id // 3) % 4
                                    WHEN 0 THEN 10 WHEN 1 THEN 20
                                    WHEN 2 THEN 30 ELSE 41 END) || '.' ||
                             CASE (doc_id // 3) % 2 WHEN 0 THEN '08'
                                  ELSE '10' END
                        ELSE 'av01.0.' ||
                             printf('%02d', (doc_id // 3) % 14) || 'M.' ||
                             CASE (doc_id // 3) % 2 WHEN 0 THEN '08'
                                  ELSE '10' END
                   END) || repeat(',opus', doc_id % 3),
                   CAST(CASE WHEN doc_id % 3 = 2
                        THEN 2 + doc_id % 1919 ELSE 0 END AS INTEGER),
                   CAST(CASE WHEN doc_id % 3 = 2
                        THEN 2 + doc_id % 1079 ELSE 0 END AS INTEGER)
            FROM documents
            UNION ALL
            SELECT 'x' || CAST(doc_id AS VARCHAR), 'video/x-msvideo',
                   CAST(4 + doc_id % 6 AS INTEGER),
                   CAST(2 + doc_id % 5 AS INTEGER),
                   CAST(1 AS INTEGER),
                   CAST(40 * (1 + doc_id % 4) AS INTEGER),
                   CAST(0 AS INTEGER),
                   'DIB',
                   '', CAST(0 AS INTEGER), CAST(0 AS INTEGER)
            FROM documents
            UNION ALL
            -- HLS transport segments: dims from the H.264 SPS (the TS
            -- container itself carries none), timescale = the 90 kHz
            -- system clock, duration = the pinned PCR span
            SELECT 's' || CAST(doc_id AS VARCHAR), 'video/mp2t',
                   CAST(2 * (1 + doc_id % 959) AS INTEGER),
                   CAST(2 * (1 + doc_id % 539) AS INTEGER),
                   CAST(CASE doc_id % 3 WHEN 2 THEN 1 ELSE 2 END
                        AS INTEGER),
                   CAST(1000 + doc_id % 9000 AS INTEGER),
                   CAST(90000 AS INTEGER),
                   'h264' || (CASE doc_id % 3 WHEN 0 THEN ',aac'
                              WHEN 1 THEN ',mp3' ELSE '' END),
                   'avc1.' ||
                   printf('%02X', CASE doc_id % 3 WHEN 0 THEN 66
                          WHEN 1 THEN 77 ELSE 100 END) ||
                   '00' || printf('%02X', 10 + doc_id % 42) ||
                   (CASE doc_id % 3 WHEN 0 THEN ',mp4a.40.2'
                    WHEN 1 THEN ',mp3' ELSE '' END),
                   CAST(2 * (1 + doc_id % 959) AS INTEGER),
                   CAST(2 * (1 + doc_id % 539) AS INTEGER)
            FROM documents
        """,
        "embed_near_dup_exact": """
            WITH e AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ),
            aug AS (
              SELECT id, v FROM e
              UNION ALL
              SELECT id + 1000000,
                     list_concat([v[1] + 0.1], v[2:len(v)])
              FROM e WHERE id % 10 = 0
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cos_r
            FROM aug a, aug b
            WHERE a.id < b.id
              AND list_cosine_similarity(a.v, b.v) >= 0.98
        """,
        "embed_near_dup_lsh": _NEAR_DUP_LSH_SQL,
        "lsh_recall": f"""
            WITH ex AS (SELECT id_a, id_b FROM ({_EX_NEAR_DUP_SQL})),
            ls AS (SELECT id_a, id_b FROM ({_NEAR_DUP_LSH_SQL})),
            co AS (SELECT * FROM ex INTERSECT SELECT * FROM ls)
            SELECT (SELECT count(*) FROM ex) AS n_exact,
                   (SELECT count(*) FROM ls) AS n_lsh,
                   (SELECT count(*) FROM co) AS n_common,
                   CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 100
                        ELSE (100 * (SELECT count(*) FROM co))
                             // (SELECT count(*) FROM ex) END AS recall_pct
        """,
        "semantic_dedup": _semantic_sql(
            vec_col="v",
            id_col="id",
            source_sql="""
              WITH e0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                          FROM embeddings)
              SELECT id, v FROM e0
              UNION ALL
              SELECT id + 1000000, list_concat([v[1] + 0.1], v[2:len(v)])
              FROM e0 WHERE id % 10 = 0
            """,
        ),
        "incremental_dedup": f"""
            WITH f AS (SELECT doc_id AS id, {TSQL.fingerprint('text')} AS fp
                       FROM documents),
            led AS (SELECT DISTINCT fp FROM f WHERE id % 2 = 0),
            bat AS (
              SELECT id, fp FROM f WHERE id % 2 = 1
              UNION ALL
              SELECT id + 1000000, fp FROM f WHERE id % 4 = 0
              UNION ALL
              SELECT id + 2000000, fp FROM f WHERE id % 4 = 1
            ),
            agg AS (SELECT fp, min(id) AS keep_id, count(*) AS n_dups
                    FROM bat GROUP BY fp)
            SELECT agg.fp, keep_id, n_dups
            FROM agg ANTI JOIN led ON agg.fp = led.fp
        """,
        "cms_heavy_hitters": _cms_sql(_CMS_PROBES),
        "hll_distinct": _hll_sql(),
        "length_quantiles": _quantiles_sql(),
        "chunk_documents": _chunk_sql(),
        "bigram_logprob": _bigram_lp_sql(),
        "pagerank_hosts": _pagerank_sql(
            "SELECT doc_id % 53 AS src, "
            "(doc_id * doc_id + 3) % 53 AS dst FROM documents"
        ),
        "dsir_weights": _dsir_sql(
            raw_sql="SELECT doc_id, text FROM documents",
            target_sql="SELECT doc_id, text FROM documents WHERE lang = 'en'",
        ),
        "html_markdown": _markdown_sql(),
        "table_extract": _table_extract_sql(),
        "sentence_segment": _sentence_sql(),
        "section_chunks": _section_chunks_sql(),
        "feed_parse": _feed_parse_sql(),
        "sitemap_parse": _sitemap_parse_sql(),
        # Google image/video sitemap extensions: image on every urlset
        # doc's first url, video on every 3rd; sitemapindex docs none
        "sitemap_media": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS INT) AS ord,
                   'image' AS kind,
                   'https://img.example.com/' || doc_id || '-a.jpg' AS loc,
                   'Img ' || doc_id AS title
            FROM documents WHERE doc_id % 5 != 0
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), CAST(0 AS INT), 'video',
                   'https://v.example.com/' || doc_id || '.mp4',
                   CAST(NULL AS VARCHAR)
            FROM documents WHERE doc_id % 5 != 0 AND doc_id % 3 = 0
        """,
        "robots_filter": _robots_filter_sql(),
        "frontier": _frontier_sql(),
        "unigram_train": _unigram_train_sql(),
        "unigram_encode": _unigram_encode_sql(),
        "bloom_screen": _bloom_sql(
            batch_sql=(
                "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1 "
                "UNION ALL "
                "SELECT doc_id + 1000000, text FROM documents "
                "WHERE doc_id % 2 = 0"
            ),
            ledger_sql="SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
        ),
        "similarity_pq": _pq_sql(
            source_sql="SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0",
            query_where="vec_id = 0",
        ),
        "similarity_ivf_pq": _ivf_pq_sql(),
        "incremental_dedup_near": _incr_near_sql(
            batch_sql=(
                "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1 "
                "UNION ALL "
                "SELECT doc_id + 1000000, text FROM documents "
                "WHERE doc_id % 4 = 0"
            ),
            ledger_sql="SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
        ),
        "dedup_clusters": _CLUSTERS_SQL,
        # Every query above is value-checked. The single rows-only entry is
        # "multimodal_features" when payloads are not decodable PNGs; the
        # driver query synthesizes full PNGs, so it too has an oracle now.
    }


def oracle_sql() -> dict[str, str]:
    """Twins for the consolidated registry: suites compose their member
    operators' already-pinned SQL with the same joins/unions and the
    same EXPLICIT casts as the Spark side, so every column's pandas
    dtype is identical across engines (the driver's hash is dtype-
    exact).  NULL doubles mark rows where a metric does not apply."""
    base = _base_oracle_sql()
    qf = TSQL.quality_fields("text")
    wordcount = TSQL.token_count("text")

    out = {
        k: base[k]
        for k in (
            "extract_spans", "selector_counts", "media_refs", "find_counts",
            "pseudo_slices", "dl_extract",
            "pdf_extract", "training_pipeline", "dedup_exact",
            "redact_pii", "paragraph_dedup", "substring_dedup",
            "dedup_ngram_exact", "simhash", "winnow_fp", "url_dedup",
            "semantic_dedup", "dsir_weights", "pagerank_hosts",
            "tfidf_top", "bm25_search", "pmi_collocations", "corpus_stats",
            "domain_cap", "corpus_shuffle", "decontaminate", "curate",
            "chunk_documents",
        )
    }
    # training-batch assembly family: text packing + multimodal packing
    out["pack_suite"] = f"""
        SELECT 'seq' AS fam, CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(n_tokens AS BIGINT) AS cost, CAST(shard AS BIGINT) AS shard,
               CAST(pack_no AS BIGINT) AS pack_no
        FROM ({base['pack_sequences']})
        UNION ALL
        SELECT 'mm' AS fam, doc_id, cost, shard, pack_no
        FROM ({base['pack_interleaved']})
    """
    # boilerplate span rows + the exclude view of the same page
    out["strip_suite"] = f"""
        SELECT b.doc_id, b.kind, b.text, b."offset", x.main_text
        FROM ({base['boilerplate_strip']}) b
        JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, main_text
              FROM ({base['exclude_text']})) x USING (doc_id)
    """
    # per-doc quality gates: Gopher rules + repetition stats
    out["docquality_suite"] = f"""
        SELECT * FROM ({base['repetition_stats']}) r
        JOIN ({base['gopher_quality']}) g USING (doc_id)
    """
    # Markdown render + ordered cell inventory + sentence stats +
    # outline/chunk rollup
    _w = TSQL.token_count(TSQL.norm_ws("text"))
    out["struct_suite"] = f"""
        SELECT md.doc_id, md.markdown, md.n_blocks, md.n_chars,
               c.n_cells, c.cells,
               s.n_sent, s.s_first, s.s_last, s.len_total,
               o.n_sections, o.sec1_title, o.sec2_path, o.sec2_text,
               o.n_chunks, o.n_oversize
        FROM ({base['html_markdown']}) md
        JOIN (SELECT doc_id, CAST(count(*) AS INT) AS n_cells,
                     string_agg(text, '|' ORDER BY row_no, col_no) AS cells
              FROM ({base['table_extract']}) GROUP BY doc_id) c
          USING (doc_id)
        JOIN ({base['sentence_segment']}) s USING (doc_id)
        JOIN (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST(2 AS INT) AS n_sections,
                     'Doc ' || sid AS sec1_title,
                     'Doc ' || sid || ' > Facts' AS sec2_path,
                     {_SEC2_TEXT} AS sec2_text,
                     CAST(CASE WHEN W + 7 <= 16 THEN 1 ELSE 2 END AS INT)
                       AS n_chunks,
                     CAST(CASE WHEN W > 16 THEN 1 ELSE 0 END AS INT)
                       AS n_oversize
              FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid, source,
                           CAST({_w} AS BIGINT) AS W
                    FROM documents)) o USING (doc_id)
    """
    # parsed feed + parsed sitemap + robots allow decision, one row/doc
    # composed FROM the member base twins (feed_parse / sitemap_parse /
    # robots_filter / frontier) so a broken member twin breaks the
    # suite's value check — the suite-coverage honesty contract
    # (tests/test_entry_contract.py::test_suite_twins_execute_member_twins)
    out["webfeed_suite"] = f"""
        WITH f AS (SELECT doc_id,
                     max(kind) AS feed_kind,
                     max(feed_title) AS feed_title,
                     CAST(count(*) AS INT) AS n_entries,
                     max(CASE WHEN ord = 0 THEN title END) AS e1_title,
                     max(CASE WHEN ord = 0 THEN link END) AS e1_link,
                     max(CASE WHEN ord = 0 THEN entry_id END) AS e1_id,
                     max(CASE WHEN ord = 1 THEN title END) AS e2_title,
                     max(CASE WHEN ord = 1 THEN updated END) AS e2_updated
                   FROM ({base['feed_parse']}) GROUP BY doc_id),
        s AS (SELECT doc_id,
                     max(kind) AS sm_kind,
                     CAST(count(*) AS INT) AS n_locs,
                     max(CASE WHEN ord = 0 THEN loc END) AS loc1,
                     max(CASE WHEN ord = 0 THEN lastmod END) AS lastmod1,
                     max(CASE WHEN ord = 0 THEN priority END) AS priority1
              FROM ({base['sitemap_parse']}) GROUP BY doc_id),
        r AS (SELECT doc_id, url, allowed FROM ({base['robots_filter']})),
        fr AS (SELECT url, priority, fetch_order FROM ({base['frontier']})),
        md AS (SELECT doc_id, CAST(count(*) AS INT) AS n_media_locs,
                      max(CASE WHEN kind = 'image' THEN loc END) AS img1_loc,
                      max(CASE WHEN kind = 'video' THEN loc END) AS vid1_loc
               FROM ({base['sitemap_media']}) GROUP BY doc_id)
        SELECT f.doc_id, f.feed_kind, f.feed_title, f.n_entries,
               f.e1_title, f.e1_link, f.e1_id, f.e2_title, f.e2_updated,
               s.sm_kind, s.n_locs, s.loc1, s.lastmod1, s.priority1,
               COALESCE(md.n_media_locs, 0) AS n_media_locs,
               md.img1_loc, md.vid1_loc,
               r.url, r.allowed,
               fr1.priority AS f_priority,
               CAST(fr1.fetch_order AS INT) AS f_rank,
               CAST(fr2.fetch_order AS INT) AS f2_rank
        FROM f
        JOIN s USING (doc_id)
        LEFT JOIN md USING (doc_id)
        JOIN r USING (doc_id)
        JOIN fr fr1 ON fr1.url = s.loc1
        JOIN fr fr2 ON fr2.url = f.e1_link
    """
    out["charset_suite"] = f"""
        SELECT d.doc_id, d.sniffed, x.text, x."offset", x.decoded_from,
               w.fam AS warc_fam, w.url AS warc_url, w.warc_date,
               w.status AS warc_status, w.content_type AS warc_ct,
               w.charset AS warc_charset, w.text AS warc_text,
               w.n_bytes AS warc_n_bytes
        FROM (SELECT doc_id, charset AS sniffed FROM ({base['charset_detect']})) d
        JOIN (SELECT doc_id, text, "offset", charset AS decoded_from
              FROM ({base['charset_extract']})) x
          ON d.doc_id = x.doc_id
        JOIN ({base['warc_envelope']}) w
          ON d.doc_id = w.doc_id
    """
    # INT casts where Spark's expression is int32 (F.length / BPE count);
    # n_tokens stays BIGINT (Spark token_count casts to long)
    out["text_profile"] = (
        f"SELECT doc_id, {wordcount} AS n_tokens, "
        f"CAST({TSQL.bpe_token_count('text')} AS INT) AS n_bpe_tokens, "
        f"{TSQL.lang_id_en('text')} AS lang, "
        f"{TSQL.lang_id_multi('text')} AS lang_multi, "
        f"{TSQL.occurrence_count('text', 'the')} AS n_the, "
        f"{TSQL.fingerprint('text')} AS fp, "
        + ", ".join(
            f"CAST({qf[k]} AS INT) AS {k}" if k in ("n_chars", "n_spaces")
            else f"{qf[k]} AS {k}"
            for k in ("n_chars", "avg_token_len", "alpha_ratio", "digit_ratio",
                      "punct_ratio", "stopword_ratio", "n_spaces")
        )
        + " FROM documents"
    )
    # model-based quality filtering: stand-in scores + trained weights
    # + predictions under the trained table
    out["classifier_suite"] = f"""
        SELECT 'score' AS fam, CAST(doc_id AS VARCHAR) AS id,
               CAST(n_tokens AS INT) AS n_tokens,
               CAST(score_micro AS BIGINT) AS score_micro,
               CAST(keep AS INT) AS keep
        FROM ({base['quality_classifier']})
        UNION ALL
        SELECT 'w', CAST(b AS VARCHAR), 0, CAST(w AS BIGINT), 0
        FROM ({base['classifier_train']})
        UNION ALL
        SELECT 'pred', doc_id, n_tokens, score_micro, keep
        FROM ({base['classifier_pred']})
    """
    # vocab family: raw top-20 vocab + BPE trainer merges + encoded vocab
    out["vocab_suite"] = f"""
        SELECT 'vocab' AS fam, CAST(-1 AS BIGINT) AS rk, tok AS k1,
               '' AS k2, CAST(n AS BIGINT) AS n
        FROM ({base['vocab_top']})
        UNION ALL
        SELECT fam, rk, k1, k2, n FROM ({_bpe_sql(_BPE_MERGES, top_n=_BPE_TOP)})
        UNION ALL
        SELECT 'uni', lp_micro, piece, '', cnt
        FROM ({base['unigram_train']})
        UNION ALL
        SELECT 'uenc', CAST(2 AS BIGINT), pieces, '',
               CAST(count(*) AS BIGINT)
        FROM ({base['unigram_encode']})
        GROUP BY pieces
    """
    out["interleaved_suite"] = f"""
        SELECT s.doc_id, s.ord, s.kind, s.text, s.media_ref, s."offset",
               s.mime, s.width, s.height,
               t.main_text, t.n_text_spans, t.n_media_spans,
               t.media_refs AS all_media_refs, t.span_chars, t.max_offset
        FROM ({base['interleaved_docs']}) s
        JOIN ({base['interleaved_stats']}) t ON s.doc_id = t.doc_id
    """
    out["dedup_minhash_clusters"] = f"""
        SELECT 'pair' AS part, CAST(id_a AS BIGINT) AS a,
               CAST(id_b AS BIGINT) AS b, CAST(jaccard AS DOUBLE) AS jaccard
        FROM ({base['dedup_minhash']})
        UNION ALL
        SELECT 'cluster', CAST(id AS BIGINT), CAST(cluster_id AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM ({base['text_dedup_clusters']})
    """
    out["incremental_suite"] = f"""
        SELECT 'exact' AS part, fp AS k, CAST(keep_id AS BIGINT) AS keep_id,
               CAST(n_dups AS BIGINT) AS n_dups
        FROM ({base['incremental_dedup']})
        UNION ALL
        SELECT 'near', CAST(id AS VARCHAR), CAST(id AS BIGINT),
               CAST(1 AS BIGINT)
        FROM ({base['incremental_dedup_near']})
    """
    out["embed_near_dup_suite"] = f"""
        SELECT 'exact' AS part, CAST(id_a AS BIGINT) AS a,
               CAST(id_b AS BIGINT) AS b, CAST(cos_r AS DOUBLE) AS cos_r
        FROM ({base['embed_near_dup_exact']})
        UNION ALL
        SELECT 'lsh', CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
               CAST(cos_r AS DOUBLE)
        FROM ({base['embed_near_dup_lsh']})
        UNION ALL
        SELECT 'cluster', CAST(id AS BIGINT), CAST(cluster_id AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM ({base['dedup_clusters']})
        UNION ALL
        SELECT 'recall', CAST(n_exact AS BIGINT), CAST(n_lsh AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM ({base['lsh_recall']})
        UNION ALL
        SELECT 'recall_common', CAST(n_common AS BIGINT),
               CAST(recall_pct AS BIGINT), CAST(NULL AS DOUBLE)
        FROM ({base['lsh_recall']})
    """
    out["similarity_suite"] = f"""
        SELECT 'brute' AS method, CAST(id AS BIGINT) AS id,
               CAST(cos_r AS DOUBLE) AS cos_r
        FROM ({base['similarity_topk']})
        UNION ALL
        SELECT 'ivf', CAST(id AS BIGINT), CAST(cos_r AS DOUBLE)
        FROM ({base['similarity_ivf']})
    """
    out["similarity_pq_suite"] = f"""
        SELECT 'pq' AS method, CAST(id AS BIGINT) AS id,
               CAST(adc_dist AS BIGINT) AS adc_dist
        FROM ({base['similarity_pq']})
        UNION ALL
        SELECT 'ivf_pq', CAST(id AS BIGINT), CAST(adc_dist AS BIGINT)
        FROM ({base['similarity_ivf_pq']})
    """
    quant = base["length_quantiles"]
    out["sketch_suite"] = f"""
        SELECT 'cms' AS sketch, token AS k, CAST(est AS BIGINT) AS a,
               CAST(exact AS BIGINT) AS b, CAST(NULL AS DOUBLE) AS est_f
        FROM ({base['cms_heavy_hitters']})
        UNION ALL
        SELECT 'hll', source, CAST(exact_distinct AS BIGINT),
               CAST(0 AS BIGINT), CAST(est AS DOUBLE)
        FROM ({base['hll_distinct']})
        UNION ALL
        SELECT 'bloom', CAST(id AS VARCHAR), CAST(id AS BIGINT),
               CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
        FROM ({base['bloom_screen']})
        UNION ALL
        SELECT 'q50', source, CAST(p50 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS DOUBLE) FROM ({quant})
        UNION ALL
        SELECT 'q90', source, CAST(p90 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS DOUBLE) FROM ({quant})
        UNION ALL
        SELECT 'q99', source, CAST(p99 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS DOUBLE) FROM ({quant})
    """
    out["logprob_suite"] = f"""
        SELECT u.id,
               u.n_toks AS uni_n_toks, u.sum_lp_micro AS uni_sum_lp_micro,
               u.avg_logprob AS uni_avg_logprob, u.ppl_proxy AS uni_ppl_proxy,
               b.n_bigrams AS bi_n_bigrams, b.sum_lp_micro AS bi_sum_lp_micro,
               b.avg_logprob AS bi_avg_logprob, b.ppl_proxy AS bi_ppl_proxy
        FROM ({base['unigram_logprob']}) u
        JOIN ({base['bigram_logprob']}) b ON u.id = b.id
    """
    out["sample_suite"] = f"""
        SELECT 'strat' AS part, doc_id, source AS bucket
        FROM ({base['corpus_sample']})
        UNION ALL
        SELECT 'temp', doc_id, domain FROM ({base['mixture_sample']})
    """
    out["multimodal_suite"] = f"""
        SELECT COALESCE(f.media_id, m.media_id) AS media_id,
               f.width, f.height, f.n_px,
               f.sum_r, f.sum_g, f.sum_b, f.sum_a,
               f.mean_r, f.mean_g, f.mean_b, m.mime, m.n_bytes,
               m.orientation
        FROM ({base['multimodal_features']}) f
        FULL JOIN ({base['multimodal_meta']}) m ON f.media_id = m.media_id
    """
    out["media_suite"] = f"""
        SELECT 'audio' AS fam, media_id AS k1,
               CAST(sample_rate AS INTEGER) AS k2,
               CAST(n_channels AS BIGINT) AS a,
               CAST(n_samples AS BIGINT) AS b,
               sum_val AS c, sum_abs AS d, sum_sq AS e,
               CAST(peak AS BIGINT) AS f
        FROM ({base['audio_stats']})
        UNION ALL
        SELECT 'frame', media_id, frame_no, CAST(n_px AS BIGINT),
               sum_r, sum_a, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT)
        FROM ({base['frame_sample']})
        UNION ALL
        SELECT 'vmeta', media_id || ':' || codecs || ':' || codec_tags,
               width,
               CAST(height AS BIGINT),
               CAST(n_tracks AS BIGINT), CAST(duration_ms AS BIGINT),
               CAST(timescale AS BIGINT), CAST(coded_width AS BIGINT),
               CAST(coded_height AS BIGINT)
        FROM ({base['media_meta']})
        UNION ALL
        SELECT 'ameta', media_id || ':' || codec, sample_rate,
               CAST(channels AS BIGINT), CAST(n_pages AS BIGINT),
               CAST(n_streams AS BIGINT), CAST(last_granule AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM ({base['audio_meta']})
        UNION ALL
        -- pmeta: template inversion of _pagemeta_rows (head-metadata
        -- extraction through the hquery engine); rk is the fixed
        -- emission order of page_meta_rows, ord its dense renumber
        SELECT 'pmeta',
               'p' || CAST(doc_id AS VARCHAR) || ':' || kind || ':'
                    || key || ':' || value,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY rk) - 1 AS INT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM (
            SELECT doc_id, 0 AS rk, 'doc' AS kind, 'title' AS key,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' Meta' AS value
            FROM documents
            UNION ALL
            SELECT doc_id, 1, 'link', 'canonical',
                   'https://ex' || CAST(doc_id % 7 AS VARCHAR)
                   || '.com/c/' || CAST(doc_id AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT doc_id, 2, 'doc', 'description',
                   'Desc ' || CAST(doc_id AS VARCHAR) || '.'
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, 3, 'og', 'image',
                   'https://cdn.example.com/i/'
                   || CAST(doc_id AS VARCHAR) || '.png'
            FROM documents WHERE doc_id % 3 != 0
            UNION ALL
            SELECT doc_id, 4, 'og', 'title',
                   'OG ' || CAST(doc_id AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT doc_id, 5, 'twitter', 'card',
                   CASE doc_id % 2 WHEN 0 THEN 'summary'
                        ELSE 'summary_large_image' END
            FROM documents
            UNION ALL
            SELECT doc_id, 6, 'link', 'feed',
                   'https://ex' || CAST(doc_id % 7 AS VARCHAR)
                   || '.com/feed.xml'
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id, 7, 'jsonld', '@type',
                   CASE doc_id % 3 WHEN 0 THEN 'Article'
                        WHEN 1 THEN 'Product' ELSE 'NewsArticle' END
            FROM documents WHERE doc_id % 4 != 3
        )
    """
    return out
