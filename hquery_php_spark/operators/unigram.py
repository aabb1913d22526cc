"""Distributed unigram-LM tokenizer training and encoding (the
SentencePiece unigram model, Kudo 2018 — the other production tokenizer
algorithm next to operators/bpe.py).

Model: a vocabulary of pieces with log-probabilities; a word tokenizes
to the segmentation maximizing the sum of piece log-probs (Viterbi).
Training is hard-EM over the word-frequency table:

  seed     all substrings (length <= max_piece_len) of the corpus's
           distinct words, frequency-weighted; every single character
           is always kept (segmentability invariant)
  E-step   Viterbi-segment every distinct word under the current piece
           scores; count pieces, weighted by word frequency
  M-step   new score(p) = floor(ln(count_p / total) * 1e6) micro-nats
  prune    keep the top ``vocab_size`` multi-char pieces by
           (count desc, piece asc); single chars never pruned

The repo's exactness discipline, applied to an algorithm that is
normally float-and-arbitrary:

* piece scores are INTEGER micro-nats, quantized once per piece per
  round (the functions/rank.py trick), so every Viterbi comparison is
  integer and the argmax is engine-independent;
* the Viterbi tie-break is pinned: on equal score, prefer the LONGER
  last piece (smaller split point).  With integer scores, ties are
  real, and an unpinned tie-break would make training
  partitioning-dependent;
* hard-EM (Viterbi counts) instead of full forward-backward expected
  counts: deterministic integer counting, and the documented
  simplification — the E-step callback is the only thing to swap for
  soft EM.

Scale shape: identical to the BPE/perceptron trainers.  The corpus is
touched ONCE (``bpe.word_freqs``: corpus -> distinct-word shuffle with
map-side combine).  Each EM round is one Arrow ``mapInPandas`` over the
word table (piece table rides along broadcast-style as a driver-built
dict — it is vocab-sized, i.e. parameter-sized) + one (piece) partial
agg; the driver collects only the vocab-sized count table per round.
Encoding is the same Viterbi per word with the final table, exposed
per-document via ``unigram_encode_df``.

Reference semantics: Kudo 2018 §3 (via the public SentencePiece
repository's unigram_model trainer); simplifications (hard-EM,
frequency pruning instead of likelihood-loss pruning) are documented
above and pinned by this repo's own goldens.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bpe import word_freqs  # shared pre-tokenization (one corpus scan)

__all__ = [
    "train_unigram",
    "viterbi_segment",
    "unigram_reference",
    "unigram_encode_df",
]

SCALE = 1_000_000


def _lp_micro(cnt: int, total: int) -> int:
    """floor(ln(cnt/total) * 1e6) — quantized once, compared as int."""
    return math.floor(math.log(cnt / total) * SCALE)


def viterbi_segment(
    word: str, scores: Dict[str, int], max_len: int
) -> List[str]:
    """Best segmentation under integer piece scores; ties prefer the
    longer last piece (smaller split point).  Requires every single
    character to be scored (the trainer's invariant); unknown
    characters fall back to a one-char piece with the minimum score
    present (never happens in training, can in encoding unseen text)."""
    n = len(word)
    NEG = -(1 << 60)
    fallback = min(scores.values(), default=NEG) - SCALE
    dp = [NEG] * (n + 1)
    back = [0] * (n + 1)
    dp[0] = 0
    for i in range(1, n + 1):
        best, bj = NEG, i - 1
        for j in range(max(0, i - max_len), i):
            if dp[j] == NEG:
                continue
            s = scores.get(word[j:i])
            if s is None:
                if i - j == 1:
                    s = fallback
                else:
                    continue
            cand = dp[j] + s
            # strictly-greater OR equal-with-smaller-j wins: iterating
            # j ascending, first occurrence of the max keeps smallest j
            if cand > best:
                best, bj = cand, j
        dp[i], back[i] = best, bj
    out = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _seed_pieces(words: DataFrame, max_piece_len: int) -> DataFrame:
    """(piece, cnt): every substring of length <= max_piece_len of every
    distinct word, weighted by word frequency — expression-level
    (nested sequence/transform + flatten), one partial-agg shuffle."""
    w = F.col("word")
    L = F.length(w)
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), L),
            lambda i: F.transform(
                F.sequence(
                    i, F.least(L, i + F.lit(max_piece_len - 1))
                ),
                lambda j: F.substring(w, i.cast("int"), (j - i + 1).cast("int")),
            ),
        )
    )
    return (
        words.select(F.explode(subs).alias("piece"), F.col("freq"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def train_unigram(
    words: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    rounds: int = 2,
    min_count: int = 2,
    seed_cap: int = 512,
) -> Tuple[DataFrame, Dict[str, int]]:
    """(word, freq) -> (final piece DataFrame (piece, cnt, lp_micro),
    the same table as a driver dict).  ``vocab_size`` caps MULTI-char
    pieces; single characters always survive."""
    spark = words.sparkSession
    seeds = _seed_pieces(words, max_piece_len)
    chars = seeds.where(F.length("piece") == 1)
    multi = (
        seeds.where(
            (F.length("piece") > 1) & (F.col("cnt") >= min_count)
        )
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(seed_cap)
    )
    vocab = {
        r["piece"]: r["cnt"]
        for r in chars.unionByName(multi).collect()  # vocab-sized
    }

    words_p = words.persist()
    try:
        for _ in range(rounds):
            total = sum(vocab.values())
            scores = {p: _lp_micro(c, total) for p, c in vocab.items()}
            counts = _estep_counts(words_p, scores, max_piece_len)
            # M + prune (driver-side over the vocab-sized table)
            chars_c = {
                p: counts.get(p, 0) for p in vocab if len(p) == 1
            }
            multi_c = sorted(
                (
                    (p, c)
                    for p, c in counts.items()
                    if len(p) > 1 and c > 0
                ),
                key=lambda x: (-x[1], x[0]),
            )[:vocab_size]
            # zero-count single chars keep a floor count of 1 so they
            # stay scoreable (segmentability invariant)
            vocab = {p: max(c, 1) for p, c in chars_c.items()}
            vocab.update(dict(multi_c))
    finally:
        words_p.unpersist()

    total = sum(vocab.values())
    rows = [
        (p, int(c), _lp_micro(c, total)) for p, c in sorted(vocab.items())
    ]
    out = spark.createDataFrame(rows, "piece string, cnt long, lp_micro long")
    return out, {p: lp for p, _, lp in rows}


def _estep_counts(
    words: DataFrame, scores: Dict[str, int], max_len: int
) -> Dict[str, int]:
    """One E-step: Viterbi counts over the distinct-word table.
    mapInPandas per word + one (piece) partial agg; the piece table is
    parameter-sized and ships inside the closure (Arrow batches)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            agg: Dict[str, int] = {}
            for w, f in zip(pdf["word"].tolist(), pdf["freq"].tolist()):
                for p in viterbi_segment(w, scores, max_len):
                    agg[p] = agg.get(p, 0) + int(f)
            yield pd.DataFrame(
                {"piece": list(agg), "c": list(agg.values())}
            )

    got = (
        words.mapInPandas(run, "piece string, c long")
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("c"))
        .collect()  # vocab-sized
    )
    return {r["piece"]: r["c"] for r in got}


def unigram_reference(
    word_freqs_list: List[Tuple[str, int]],
    vocab_size: int = 64,
    max_piece_len: int = 4,
    rounds: int = 2,
    min_count: int = 2,
    seed_cap: int = 512,
) -> List[Tuple[str, int, int]]:
    """Independent single-process replica of ``train_unigram`` (plain
    Python, no Spark) — the golden the distributed trainer must equal
    exactly."""
    seeds: Dict[str, int] = {}
    for w, f in word_freqs_list:
        n = len(w)
        for i in range(n):
            for j in range(i + 1, min(n, i + max_piece_len) + 1):
                p = w[i:j]
                seeds[p] = seeds.get(p, 0) + f
    vocab = {p: c for p, c in seeds.items() if len(p) == 1}
    multi = sorted(
        (
            (p, c)
            for p, c in seeds.items()
            if len(p) > 1 and c >= min_count
        ),
        key=lambda x: (-x[1], x[0]),
    )[:seed_cap]
    vocab.update(dict(multi))
    for _ in range(rounds):
        total = sum(vocab.values())
        scores = {p: _lp_micro(c, total) for p, c in vocab.items()}
        counts: Dict[str, int] = {}
        for w, f in word_freqs_list:
            for p in viterbi_segment(w, scores, max_piece_len):
                counts[p] = counts.get(p, 0) + f
        chars_c = {p: counts.get(p, 0) for p in vocab if len(p) == 1}
        multi_c = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1 and c > 0),
            key=lambda x: (-x[1], x[0]),
        )[:vocab_size]
        vocab = {p: max(c, 1) for p, c in chars_c.items()}
        vocab.update(dict(multi_c))
    total = sum(vocab.values())
    return [
        (p, c, _lp_micro(c, total)) for p, c in sorted(vocab.items())
    ]


def unigram_encode_df(
    df: DataFrame,
    scores: Dict[str, int],
    max_piece_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, text) -> (id, pieces array<string>, n_pieces) under the
    trained table — Viterbi per word, Arrow-batched, zero shuffle.
    Same pre-tokenization as training (lower + whitespace split)."""
    from ..batch import map_rows

    cache: Dict[str, List[str]] = {}

    def row(i, t):
        out: List[str] = []
        for w in (t or "").lower().split():
            seg = cache.get(w)
            if seg is None:
                seg = viterbi_segment(w, scores, max_piece_len)
                cache[w] = seg
            out.extend(seg)
        return [(i, out, len(out))]

    id_t = df.schema[id_col].dataType.simpleString()
    return map_rows(
        df.select(id_col, text_col),
        f"{id_col} {id_t}, pieces array<string>, n_pieces int",
        row,
    )
