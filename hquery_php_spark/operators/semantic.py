"""Semantic deduplication (SemDeDup shape): k-means cluster the
embedding space, then search for near-duplicates ONLY within clusters.

The method behind large-corpus semantic pruning (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication"): an n² pair search over 10⁹ vectors is impossible, but
near-duplicate pairs are — by definition — close in embedding space, so
clustering first confines the exact search to Σ n_c² per-cluster work
(k clusters of n/k vectors each ⇒ n²/k total, and the per-cluster joins
are independent shuffle partitions).

Everything here is EXACT INTEGER arithmetic so the whole pipeline has a
bit-identical ANSI-SQL twin (the repo's value-oracle discipline):

* vectors quantize to ``round(x · scale)`` int64 (IEEE round-half-away-
  from-zero — identical in Spark and DuckDB on the identical double);
* k-means distances are integer squared-L2; ties break on the lower
  cluster index (lexicographic struct min ↔ ``ORDER BY dist, j``);
* centroid updates are element-wise integer FLOOR means (sum // count,
  emitted in SQL as the pure-integer ``(s - pmod(s, n)) / n``) — an
  order-independent aggregate, unlike float summation whose result
  depends on partitioning;
* seeds are the k lowest-id vectors (deterministic, SQL-expressible);
  a cluster that loses all members keeps its previous centroid;
* the within-cluster near-dup test is the integer cross-multiplied
  cosine: dot > 0 and den²·dot² ≥ num²·|a|²·|b|² for threshold
  num/den — no sqrt, no floats, no drift.  (With scale=1000 and unit-
  ish 64-dim vectors: dot ≤ 6.4e7 ⇒ den²·dot² ≤ ~1.6e19/den² — int64-
  safe for den ≤ 20; larger scales need DECIMAL.)

Spark execution shape, per k-means iteration (``pq.pq_train_arrow``
with one subspace):
* assignment + per-cluster partial sums run map-side over Arrow
  batches against the k centroids — a parameter-sized driver collect
  (k·dim ints, like a broadcast dim); NO join;
* the centroid update is ONE tiny groupBy over those partials
  (≤ k rows per batch).  The final assignment inlines the centroids
  as array literals in a pure map-side expression.
The final pair search self-joins on the cluster id — at 10⁹ vectors the
skew knob is k (more clusters ⇒ smaller per-cluster joins); pair work
within a cluster can further reuse the sign-LSH bucketing from
``dedup.embedding_near_dup`` when single clusters are still huge.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "quantize",
    "kmeans_assign_expr",
    "semantic_dedup",
    "semantic_dedup_oracle_sql",
]


def quantize(col, scale: int = 1000):
    """array<float> → array<long> fixed-point: round(x·scale) per
    element (round-half-away-from-zero in both engines)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def kmeans_assign_expr(q_col, centroids: list):
    """Argmin-by-integer-L2 assignment expression over literal
    centroids; ties take the lowest cluster index (struct min is
    lexicographic: (dist, j))."""
    cands = []
    for j, c in enumerate(centroids):
        # single-call array literal: per-element F.lit would cost one
        # Py4J round-trip per value (k·dim of them per expression build)
        lit = F.lit([int(v) for v in c]).cast("array<long>")
        dist = F.aggregate(
            F.zip_with(q_col, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(dist.alias("d"), F.lit(j).alias("j")))
    return F.array_min(F.array(*cands))["j"]


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: Optional[int] = None,
    iters: int = 2,
    scale: int = 1000,
    thr_num: int = 19,
    thr_den: int = 20,
    target_cluster_size: int = 256,
    persist_quantized: bool = True,
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """Near-duplicate pairs found cluster-locally: (id_a, id_b, cluster,
    cos) for same-cluster pairs with cosine ≥ thr_num/thr_den — the
    decision is the exact integer cross-multiplied comparison; ``cos``
    is the reporting projection (int dot / sqrt(int·int), identical
    IEEE in both engines), rounded to 6 places AFTER the decision.

    Pruning (the SemDeDup "keep one per group" step) is the anti-join
    of ids against this pair set's id_b side — left to the caller so
    the pair evidence stays inspectable.

    ``k=None`` (default) AUTO-SIZES the cluster count as
    ceil(n / target_cluster_size) (floor 8): with FIXED k the
    within-cluster pair join is Σ(n/k)² — quadratic in corpus size —
    while auto-k keeps expected per-cluster membership constant, so the
    pair work grows ≈ n·target_cluster_size (linear) at 100×.  Same
    discipline as ``similarity.auto_n_planes``.  Pass an explicit k when
    a bit-exact SQL twin is required (the twin's CTE chain is built for
    a literal k)."""
    qdf = df.select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col), scale).alias("q")
    )
    if k is None:
        # one count on the (about-to-be-cached) quantized table — index-
        # build cost, like the PQ codebook fit
        n = qdf.count()
        k = max(8, -(-n // target_cluster_size))
    if persist_quantized:
        # the quantized table is scanned once per k-means round (iters
        # aggregates + the final assignment + BOTH pair-join sides) —
        # cache it or the upstream (possibly a full extract) reruns
        # 2+iters times.  Caller releases via persist_registry, the
        # repo-wide pattern (see dedup.ngram_jaccard_verify).
        qdf = qdf.persist()
        if persist_registry is not None:
            persist_registry.append(qdf)
    # Arrow-vectorized fit (PQ's single-subspace case): bit-identical
    # integer centroids, numpy speed instead of interpreted HOF lambdas
    from .pq import pq_train_arrow

    centroids = pq_train_arrow(qdf, m=1, k=k, iters=iters)[0]
    asg = (
        qdf.withColumn("c", kmeans_assign_expr(F.col("q"), centroids))
        .withColumn(
            "n2",
            F.aggregate(
                F.transform("q", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .select("id", "q", "c", "n2")
    )
    a, b = asg.alias("a"), asg.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda p, s: p * s),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("dot", dot)
        .where(
            (F.col("dot") > 0)
            & (
                F.lit(thr_den * thr_den) * F.col("dot") * F.col("dot")
                >= F.lit(thr_num * thr_num) * F.col("a.n2") * F.col("b.n2")
            )
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.c").cast("int").alias("cluster"),
            F.round(
                F.col("dot") / F.sqrt((F.col("a.n2") * F.col("b.n2")).cast("double")),
                6,
            ).alias("cos"),
        )
    )
    return pairs


def _fdiv(s: str, n: str) -> str:
    """Pure-integer FLOOR division in SQL (matches Python ``//`` for
    negative sums, unlike truncating '/')."""
    return f"(({s}) - ((((({s}) % ({n})) + ({n})) % ({n})))) / ({n})"


def semantic_dedup_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
    thr_num: int = 19,
    thr_den: int = 20,
    dim: int = 64,
    source_sql: Optional[str] = None,
) -> str:
    """DuckDB twin: the SAME seeds, assignments, integer-floor centroid
    means, and integer cosine decision, as an unrolled CTE chain (one
    assignment + one centroid CTE per iteration).

    ``source_sql``: optional subquery yielding (``id_col``,
    ``vec_col``) to dedup instead of the bare table — lets callers feed
    an augmented/derived vector set with identical SQL on both sides."""
    src = f"({source_sql})" if source_sql is not None else table
    dist = (
        f"list_sum([(e.q[i+1] - s.q[i+1]) * (e.q[i+1] - s.q[i+1]) "
        f"for i in range(0, {dim})])"
    )
    ctes = [
        f"e AS (SELECT {id_col} AS id, "
        f"[CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT) for x in {vec_col}] AS q "
        f"FROM {src})",
        # seeds: k lowest ids, cluster index by id order
        "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, q "
        f"FROM (SELECT id, q FROM e ORDER BY id LIMIT {k}))",
    ]
    prev = "c0"
    for it in range(iters):
        asg, nxt = f"a{it}", f"c{it + 1}"
        ctes.append(
            f"{asg} AS (SELECT id, q, j FROM ("
            f"SELECT e.id, e.q, s.j, "
            f"row_number() OVER (PARTITION BY e.id ORDER BY {dist}, s.j) AS rn "
            f"FROM e CROSS JOIN {prev} s) WHERE rn = 1)"
        )
        means = ", ".join(
            f"CAST({_fdiv(f'sum(q[{i + 1}])', 'count(*)')} AS BIGINT)"
            for i in range(dim)
        )
        ctes.append(
            f"{nxt} AS (SELECT s.j, "
            f"CASE WHEN u.j IS NULL THEN s.q ELSE u.q END AS q "
            f"FROM {prev} s LEFT JOIN ("
            f"SELECT j, [{means}] AS q FROM {asg} GROUP BY j) u ON s.j = u.j)"
        )
        prev = nxt
    # final assignment with the fitted centroids + per-vector norm²
    ctes.append(
        f"fin AS (SELECT id, q, j AS c, "
        f"list_sum([x * x for x in q]) AS n2 FROM ("
        f"SELECT e.id, e.q, s.j, "
        f"row_number() OVER (PARTITION BY e.id ORDER BY {dist}, s.j) AS rn "
        f"FROM e CROSS JOIN {prev} s) e2(id, q, j, rn) WHERE rn = 1)"
    )
    pair_dot = (
        f"list_sum([(a.q[i+1]) * (b.q[i+1]) for i in range(0, {dim})])"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.id AS id_a, b.id AS id_b, CAST(a.c AS INT) AS cluster,
       round(({pair_dot}) / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)), 6) AS cos
FROM fin a JOIN fin b ON a.c = b.c AND a.id < b.id
WHERE ({pair_dot}) > 0
  AND {thr_den * thr_den} * ({pair_dot}) * ({pair_dot})
      >= {thr_num * thr_num} * a.n2 * b.n2
"""
    )
