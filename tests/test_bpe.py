"""BPE trainer/encoder: independent-reference goldens, Spark↔reference
fuzz, expression-path vs mapInPandas-path equality, and DuckDB twin
lockstep.

The reference implementation here is deliberately a DIFFERENT shape from
the operator (dict-of-symbol-tuples + Counter, the classic Sennrich
recipe) so agreement pins the algorithm, not the code.  The merge-apply
step is the two-pointer greedy-leftmost scan — the exact semantics of a
non-overlapping ``replace`` (resume AFTER the match, never re-examine
the token just created), which is what both engines' ``replace`` does.
"""

from __future__ import annotations

from collections import Counter

import pytest

pyspark = pytest.importorskip("pyspark")
duckdb = pytest.importorskip("duckdb")

import pandas as pd  # noqa: E402
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from hquery_php_spark.operators.bpe import (  # noqa: E402
    bpe_encode_map,
    bpe_encode_tokens,
    bpe_suite_oracle_sql,
    bpe_train,
    word_freqs,
)


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("hquery-bpe-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# ------------------------------------------------------------------ #
# independent reference implementation


def _merge_scan(syms, a, b):
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def ref_train(word_freq: dict, n_merges: int):
    vocab = {tuple(w): f for w, f in word_freq.items()}
    merges = []
    for rank in range(n_merges):
        pc: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        nxt: dict = {}
        for syms, f in vocab.items():
            k = _merge_scan(syms, a, b)
            nxt[k] = nxt.get(k, 0) + f
        vocab = nxt
    return merges


def ref_encode(text: str, merges):
    text = " ".join(text.lower().split())
    toks = []
    for word in text.split(" "):
        if not word:
            continue
        syms = tuple(word)
        for _, a, b, _, _ in merges:
            syms = _merge_scan(syms, a, b)
        toks.extend(syms)
    return toks


def _wf(texts):
    c: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            c[w] += 1
    return dict(c)


# ------------------------------------------------------------------ #
# tests


TEXTS = [
    "low lower lowest new newer news",
    "the newer the lower the news flows slower",
    "ne ne ne we we lo lo lo??  wide wide ",
]


def test_train_matches_reference_golden(spark):
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(TEXTS)], ["doc_id", "text"]
    )
    got = bpe_train(word_freqs(df), 8)
    assert got == ref_train(_wf(TEXTS), 8)
    # spot-pin the textbook shape: early merges are the frequent bigrams
    assert got[0][1:3] == ("l", "o") and got[0][4] == 9


def test_encode_expr_matches_reference_and_map(spark):
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(TEXTS)], ["doc_id", "text"]
    )
    merges = bpe_train(word_freqs(df), 8)
    expr = {
        r["doc_id"]: list(r["toks"])
        for r in df.select(
            "doc_id", bpe_encode_tokens(F.col("text"), merges).alias("toks")
        ).collect()
    }
    mp = {
        r["id"]: list(r["tokens"])
        for r in bpe_encode_map(df, merges).collect()
    }
    for i, t in enumerate(TEXTS):
        assert expr[str(i)] == ref_encode(t, merges)
        assert mp[str(i)] == expr[str(i)]


def test_duckdb_twin_lockstep(spark):
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(TEXTS)], ["doc_id", "text"]
    )
    merges = bpe_train(word_freqs(df), 6)
    mrows = pd.DataFrame(
        [("merge", r, a, b, c) for r, a, b, _, c in merges],
        columns=["fam", "rk", "k1", "k2", "n"],
    )
    enc = df.select(F.explode(bpe_encode_tokens(F.col("text"), merges)).alias("t"))
    ev = (
        enc.groupBy("t")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "t")
        .limit(20)
        .select(
            F.lit("enc").alias("fam"),
            F.lit(-1).cast("long").alias("rk"),
            F.col("t").alias("k1"),
            F.lit("").alias("k2"),
            "n",
        )
        .toPandas()
    )
    sres = (
        pd.concat([mrows, ev], ignore_index=True)
        .sort_values(["fam", "rk", "k1", "k2"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents_pd", pd.DataFrame(
        [(str(i), t) for i, t in enumerate(TEXTS)], columns=["doc_id", "text"]
    ))
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_pd")
    ores = (
        con.execute(bpe_suite_oracle_sql(6))
        .df()
        .sort_values(["fam", "rk", "k1", "k2"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(sres.astype({"rk": "int64", "n": "int64"}), ores)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcλ", min_size=1, max_size=6), min_size=2, max_size=12
    ),
    st.integers(min_value=1, max_value=6),
)
def test_fuzz_train_encode_vs_reference(spark, words, k):
    texts = [" ".join(words[: len(words) // 2 + 1]), " ".join(words[1:])]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges = bpe_train(word_freqs(df), k, checkpoint_every=3)
    assert merges == ref_train(_wf(texts), k)
    got = {
        r["doc_id"]: list(r["toks"])
        for r in df.select(
            "doc_id", bpe_encode_tokens(F.col("text"), merges).alias("toks")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[str(i)] == ref_encode(t, merges)


def test_train_exhaustion_stops_early(spark):
    df = spark.createDataFrame([("1", "a b c a b")], ["doc_id", "text"])
    # every word is one symbol — no pairs at all
    assert bpe_train(word_freqs(df), 5) == []
