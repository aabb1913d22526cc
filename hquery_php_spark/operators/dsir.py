"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling") with the
repo's engine-exact value discipline.

The recipe behind targeted pretraining mixes: score every raw document
by how much more likely its hashed n-gram features are under a TARGET
distribution (e.g. curated text) than under the RAW distribution, then
keep the highest-ratio documents.  Features are word-bigram hashes into
``n_buckets`` slots, so both distributions are bucket-count vectors —
parameter-sized state no matter how large either corpus is.

Exactness: each bucket's log-ratio ln p_T(b) − ln p_R(b) (Laplace-
smoothed) is quantized ONCE to fixed-point micro-nats on the B-row
bucket table (the `unigram_logprob` trick); a document's weight is then
an exact integer Σ tf_b · diff_micro(b) — order-independent on any
engine or partitioning, with a bit-identical generated DuckDB twin.

Scale shape:
* two bucket-count aggregates (target + raw scans), reducer keys = B
  buckets — partial-agg shuffles of parameter size;
* the B-row diff table broadcast-joins against the per-doc exploded
  bucket tfs — one linear shuffle of (doc, bucket) pairs;
* the keep decision is a pure per-row comparison (w_micro > threshold).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rank import _toks, _toks_sql
from .sketches import _BASE, _MOD

__all__ = ["dsir_weights", "dsir_oracle_sql"]


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    threshold_micro: int = 0,
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """(id, n_grams, w_micro, keep) for every raw document: w_micro =
    Σ_buckets tf_b · (lnp_T(b) − lnp_R(b))·1e6 as an exact integer;
    keep = 1 iff w_micro > threshold_micro (more target-like than
    raw-like at 0).  Documents with <2 tokens carry no evidence: w=0,
    kept iff threshold < 0."""
    def buckets_of(df):
        # the token array MUST materialize behind its own projection:
        # `element_at(toks, i)` inside the gram lambda would otherwise
        # re-evaluate the whole normalize+split subtree PER BIGRAM
        # (no CSE inside HOF lambdas — the repetition_stats O(n·d)
        # trap), turning a linear scan into O(doc_len²)
        toked = df.select(
            F.col(id_col).alias("id"),
            _toks(F.col(text_col)).alias("__t"),
        )
        t = F.col("__t")
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        )
        fold = lambda g: F.aggregate(  # noqa: E731
            F.split(g, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(acc * _BASE + F.ascii(ch), F.lit(_MOD)),
        )
        bk = F.when(
            F.size(t) < 2, F.array().cast("array<long>")
        ).otherwise(F.transform(grams, lambda g: F.pmod(fold(g), F.lit(n_buckets))))
        return toked.select("id", F.explode_outer(bk).alias("b"))

    t_ex = buckets_of(target).where(F.col("b").isNotNull())
    r_ex = buckets_of(raw)
    if persist_registry is not None:
        r_ex = r_ex.persist()
        persist_registry.append(r_ex)
    r_ex_nn = r_ex.where(F.col("b").isNotNull())
    # the interpreted character fold is the expensive projection — make
    # exactly ONE pass over each corpus: totals derive from the (≤B-row)
    # count tables, which are persisted so the diff join re-reads them,
    # not the corpora
    t_counts = t_ex.groupBy("b").agg(F.count("*").alias("c_t"))
    r_counts = r_ex_nn.groupBy("b").agg(F.count("*").alias("c_r"))
    if persist_registry is not None:
        t_counts = t_counts.persist()
        r_counts = r_counts.persist()
        persist_registry.extend([t_counts, r_counts])
    n_t = int(t_counts.agg(F.sum("c_t")).first()[0] or 0)
    n_r = int(r_counts.agg(F.sum("c_r")).first()[0] or 0)
    # full B-row bucket table (missing buckets smooth to count 0)
    all_b = raw.sparkSession.range(n_buckets).select(F.col("id").alias("b"))
    diff = (
        all_b.join(t_counts, "b", "left")
        .join(r_counts, "b", "left")
        .select(
            "b",
            F.round(
                (
                    F.log(F.coalesce(F.col("c_t"), F.lit(0)).cast("double") + 1.0)
                    - F.log(F.lit(float(n_t + n_buckets)))
                    - F.log(F.coalesce(F.col("c_r"), F.lit(0)).cast("double") + 1.0)
                    + F.log(F.lit(float(n_r + n_buckets)))
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("diff_micro"),
        )
    )
    tf = r_ex_nn.groupBy("id", "b").agg(F.count("*").alias("tf"))
    per_doc = (
        tf.join(F.broadcast(diff), "b")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_grams"),
            F.sum(F.col("tf") * F.col("diff_micro")).alias("w_micro"),
        )
    )
    # docs with no bigrams (null bucket rows) re-enter with zero weight
    empty = (
        r_ex.where(F.col("b").isNull())
        .select("id")
        .distinct()
        .select(
            "id",
            F.lit(0).cast("long").alias("n_grams"),
            F.lit(0).cast("long").alias("w_micro"),
        )
    )
    out = per_doc.unionByName(empty)
    return out.select(
        "id",
        "n_grams",
        "w_micro",
        (F.col("w_micro") > F.lit(threshold_micro)).cast("int").alias("keep"),
    )


def dsir_oracle_sql(
    raw_sql: str,
    target_sql: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    threshold_micro: int = 0,
) -> str:
    """DuckDB twin: identical bigram buckets, Laplace-smoothed per-bucket
    micro-nat log ratios (quantized once per bucket), exact integer
    per-document sums, identical keep decisions.  ``raw_sql`` /
    ``target_sql`` yield (doc_id, text)."""
    toks = _toks_sql(text_col)
    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "[CAST(ascii(g[i + 1 : i + 1]) AS BIGINT) for i in range(0, length(g))]), "
        f"(acc, c) -> (acc * {_BASE} + c) % {_MOD})"
    )
    grams = "[t[i] || ' ' || t[i + 1] for i in range(1, len(t))]"
    buckets = f"[({fold}) % {n_buckets} for g in grams]"
    return f"""
WITH rdocs AS (SELECT {id_col} AS id, {toks} AS t FROM ({raw_sql})),
tdocs AS (SELECT {id_col} AS id, {toks} AS t FROM ({target_sql})),
rgrams AS (SELECT id, {grams} AS grams FROM rdocs WHERE len(t) >= 2),
tgrams AS (SELECT {grams} AS grams FROM tdocs WHERE len(t) >= 2),
rb AS (SELECT id, unnest({buckets}) AS b FROM rgrams),
tb AS (SELECT unnest({buckets}) AS b FROM tgrams),
tc AS (SELECT b, count(*) AS c_t FROM tb GROUP BY b),
rc AS (SELECT b, count(*) AS c_r FROM rb GROUP BY b),
nt AS (SELECT count(*) AS n FROM tb),
nr AS (SELECT count(*) AS n FROM rb),
allb AS (SELECT unnest(range(0, {n_buckets})) AS b),
diff AS (
  SELECT allb.b,
         CAST(round((ln(CAST(coalesce(tc.c_t, 0) AS DOUBLE) + 1.0)
                     - ln(CAST((SELECT n FROM nt) + {n_buckets} AS DOUBLE))
                     - ln(CAST(coalesce(rc.c_r, 0) AS DOUBLE) + 1.0)
                     + ln(CAST((SELECT n FROM nr) + {n_buckets} AS DOUBLE)))
                    * 1e6, 0) AS BIGINT) AS diff_micro
  FROM allb LEFT JOIN tc ON allb.b = tc.b LEFT JOIN rc ON allb.b = rc.b
),
tf AS (SELECT id, b, count(*) AS tf FROM rb GROUP BY id, b),
per_doc AS (
  SELECT id, CAST(sum(tf) AS BIGINT) AS n_grams,
         CAST(sum(tf * diff_micro) AS BIGINT) AS w_micro
  FROM tf JOIN diff USING (b) GROUP BY id
),
empty AS (
  SELECT id, CAST(0 AS BIGINT) AS n_grams, CAST(0 AS BIGINT) AS w_micro
  FROM rdocs WHERE len(t) < 2
),
uni AS (SELECT * FROM per_doc UNION ALL SELECT * FROM empty)
SELECT id, n_grams, w_micro,
       CASE WHEN w_micro > {threshold_micro} THEN 1 ELSE 0 END AS keep
FROM uni
"""
