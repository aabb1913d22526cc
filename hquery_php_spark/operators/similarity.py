"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk`` — exact cosine top-k against a broadcast query
  vector.  The query vector is a literal (driver-side broadcast in the
  plan); scoring is ``zip_with``+``aggregate`` inside whole-stage codegen;
  top-k is a single ``orderBy(...).limit(k)`` which Spark executes as
  per-partition partial top-k + tiny final merge — no full sort shuffle.
* ``ivf_topk`` — the scale path: k-means-free IVF via sign-LSH coarse
  buckets (same hyperplane family as dedup).  At query time only buckets
  within a Hamming radius of the query's bucket are scanned — a
  partition-pruned scan when the table is written partitioned by bucket.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _POLY_MOD, _affine_consts, cosine_sim

__all__ = [
    "brute_force_topk",
    "brute_force_topk_pandas",
    "auto_n_planes",
    "bucket_of",
    "hamming_ball",
    "ivf_topk",
    "write_ivf_index",
    "ivf_topk_indexed",
    "ivf_oracle_sql",
]

_PLANE_SEED = 0xB0C4


def auto_n_planes(
    n_vectors: int,
    target_occupancy: int = 512,
    min_planes: int = 4,
    max_planes: int = 30,
) -> int:
    """Plane count sized to the corpus: p = ⌈log2(n / target_occupancy)⌉.

    Occupancy bound: 2^p buckets give expected bucket size
    E[occ] ≈ n / 2^p ≤ target_occupancy, so the within-bucket pair join
    does ≈ n·occ ≈ n·target total pair work — linear in n, not n².  A
    FIXED plane count silently degrades: 8 planes = 256 buckets means
    n²/256 pairs, which still explodes at 10⁹ vectors; auto-sizing keeps
    occupancy flat as the corpus grows (10⁹ vectors → p = 21).  Recall
    per near-dup pair is (1−θ/π)^p, which FALLS as p grows — recover it
    with banding (``embedding_near_dup(bands=B)``), the same
    probe-amplification trick as MinHash LSH."""
    import math

    n = max(int(n_vectors), 1)
    p = math.ceil(math.log2(max(n / max(target_occupancy, 1), 2.0)))
    return min(max_planes, max(min_planes, p))


def _vec_lit(q: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q])


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cos) of the k nearest rows by cosine similarity (exact)."""
    qv = _vec_lit(query_vec)
    scored = df.select(
        F.col(id_col).alias("id"),
        cosine_sim(F.col(vec_col).cast("array<double>"), qv).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col("id")).limit(k)


def bucket_of(vec_col: Column, n_planes: int = 12, band: int = 0) -> Column:
    """Sign-LSH coarse bucket id (shares the hyperplane family with
    dedup.embedding_near_dup so tables can be co-bucketed).

    Hyperplane p's coefficient for dimension i is the deterministic
    pseudo-random value ((a_p·(i+1) + b_p) mod M) / M · 2 − 1 in [-1, 1)
    from the engine-neutral affine family, reproducible in ANSI SQL
    (``portable_bucket_sql``).  Single pass over the vector: one
    ``aggregate`` carries all plane dot-products as an ``array<double>``
    accumulator.

    ``band`` selects an independent plane family per LSH band (banded
    near-dup amplification)."""
    v = vec_col.cast("array<double>")
    planes = F.sequence(F.lit(0), F.lit(n_planes - 1))
    zeros = F.transform(planes, lambda p: F.lit(0.0))
    a_c, b_c = _affine_consts(n_planes, seed=_PLANE_SEED + 0x9E37 * band)
    # long literals: a_p·(i+1) overflows INT under ANSI mode otherwise
    ac = F.array(*[F.lit(a).cast("long") for a in a_c])
    bc = F.array(*[F.lit(b).cast("long") for b in b_c])

    def coeff(i: Column, p: Column) -> Column:
        m = F.pmod(
            F.element_at(ac, p + 1) * (i.cast("long") + 1) + F.element_at(bc, p + 1),
            F.lit(_POLY_MOD),
        )
        return m.cast("double") / F.lit(float(_POLY_MOD)) * 2 - 1

    dots = F.aggregate(
        F.sequence(F.lit(0), F.size(v) - 1),
        zeros,
        lambda acc, i: F.zip_with(
            acc,
            planes,
            lambda a, p: a + F.element_at(v, i + 1) * coeff(i, p),
        ),
    )
    # MSB-first fold: bucket = Σ (dot_p > 0) · 2^p, safe in long (p < 63)
    return F.aggregate(
        F.reverse(dots),
        F.lit(0).cast("long"),
        lambda acc, d: acc * 2 + F.when(d > 0, 1).otherwise(0).cast("long"),
    )


def hamming_ball(bucket: int, n_planes: int, radius: int) -> list:
    """All bucket ids within Hamming distance ``radius`` of ``bucket``
    (size Σ_{r≤radius} C(n_planes, r) — small by construction)."""
    cands = {int(bucket)}
    frontier = [int(bucket)]
    for _ in range(radius):
        nxt = []
        for b in frontier:
            for i in range(n_planes):
                nb = b ^ (1 << i)
                if nb not in cands:
                    cands.add(nb)
                    nxt.append(nb)
        frontier = nxt
    return sorted(cands)


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    hamming_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only rows whose coarse bucket is within
    ``hamming_radius`` of the query's bucket.

    With the table pre-partitioned/bucketed by ``bucket_of``, the filter
    becomes partition pruning — the 100TB path scans a fraction
    ≈ C(n_planes, ≤radius) / 2^n_planes of the data.  Buckets come from
    the affine plane family that ``write_ivf_index`` and the SQL twin use.
    """
    spark = df.sparkSession
    qv = _vec_lit(query_vec)
    qbucket = (
        spark.range(1)
        .select(bucket_of(qv, n_planes).alias("b"))
        .collect()[0]["b"]
    )
    cands = hamming_ball(qbucket, n_planes, hamming_radius)
    scored = (
        df.withColumn("__bucket", bucket_of(F.col(vec_col), n_planes))
        .where(F.col("__bucket").isin(*cands))
        .select(
            F.col(id_col).alias("id"),
            cosine_sim(F.col(vec_col).cast("array<double>"), qv).alias("cos"),
        )
    )
    return scored.orderBy(F.col("cos").desc(), F.col("id")).limit(k)


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF index: one pass computing the coarse bucket,
    then a parquet write PARTITIONED BY bucket.  ``repartition(bucket)``
    first so each bucket is written by one task (no small-file explosion
    at 2^n_planes × n_tasks).  This is the build job that turns
    ``ivf_topk``'s bucket filter into real partition pruning at 100 TB —
    the query path (``ivf_topk_indexed``) then reads only
    ≈ Σ C(n_planes, ≤radius) / 2^n_planes of the files."""
    (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", bucket_of(F.col("v"), n_planes))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    hamming_radius: int = 1,
    exclude_id: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k over a ``write_ivf_index`` table: the Hamming-
    ball bucket filter hits the PARTITION column, so Spark prunes the
    non-candidate directories at planning time (PartitionFilters in the
    scan node) — the 100 TB path never touches the other buckets."""
    qv = _vec_lit(query_vec)
    qbucket = (
        spark.range(1)
        .select(bucket_of(qv, n_planes).alias("b"))
        .collect()[0]["b"]
    )
    cands = hamming_ball(qbucket, n_planes, hamming_radius)
    idx = spark.read.parquet(path).where(F.col("bucket").isin(*cands))
    if exclude_id is not None:
        idx = idx.where(F.col("id") != exclude_id)
    scored = idx.select(
        "id", cosine_sim(F.col("v").cast("array<double>"), qv).alias("cos")
    )
    return scored.orderBy(F.col("cos").desc(), F.col("id")).limit(k)


def portable_bucket_sql(n_planes: int, vec: str = "v") -> str:
    """DuckDB expression for the portable sign-LSH bucket of a DOUBLE[]
    column — the SQL twin of ``bucket_of``: same
    affine plane family, same Σ(dot_p>0)·2^p fold."""
    a_c, b_c = _affine_consts(n_planes, seed=_PLANE_SEED)
    mod = _POLY_MOD
    return (
        f"CAST(list_sum([CASE WHEN list_sum(["
        f"{vec}[i + 1] * ((({a_c}[p + 1] * (i + 1) + {b_c}[p + 1]) % {mod})"
        f" / {float(mod)} * 2 - 1) for i in range(0, len({vec}))]) > 0"
        f" THEN {[1 << p for p in range(n_planes)]}[p + 1] ELSE 0 END"
        f" for p in range(0, {n_planes})]) AS BIGINT)"
    )


def ivf_oracle_sql(
    n_planes: int = 6,
    hamming_radius: int = 2,
    k: int = 10,
    query_id: int = 0,
    table: str = "embeddings",
) -> str:
    """ANSI-SQL twin of the portable IVF path: identical plane family
    ((a_p·(i+1)+b_p) mod M / M · 2 − 1), identical Σ(dot_p>0)·2^p bucket
    fold, Hamming ball expressed as bit_count(xor(bucket, qbucket)) ≤ r."""
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
),
b AS (
  SELECT vec_id, v, {portable_bucket_sql(n_planes)} AS bucket
  FROM e
),
q AS (SELECT bucket AS qb, v AS qv FROM b WHERE vec_id = {query_id})
SELECT vec_id AS id,
       round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS cos_r
FROM b
WHERE vec_id != {query_id}
  AND bit_count(xor(bucket, (SELECT qb FROM q))) <= {hamming_radius}
ORDER BY list_cosine_similarity(v, (SELECT qv FROM q)) DESC, vec_id
LIMIT {k}
"""


def brute_force_topk_pandas(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Vectorized Pandas-UDF twin of ``brute_force_topk``: per Arrow
    batch, one numpy matrix-vector product scores every row at once —
    the faster path for high-dimensional embeddings, where the JVM
    per-element ``aggregate`` pays interpretation cost per dimension.
    Same result set (cosine in float64, same tie-break)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = np.linalg.norm(q)
    schema = StructType(
        [StructField("id", LongType()), StructField("cos", DoubleType())]
    )
    narrow = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )

    def run(batches):
        for pdf in batches:
            m = np.stack(pdf["v"].map(lambda a: np.asarray(a, dtype=np.float64)))
            dots = m @ q
            norms = np.linalg.norm(m, axis=1) * qn
            yield pd.DataFrame({"id": pdf["id"], "cos": dots / norms})

    scored = narrow.mapInPandas(run, schema)
    return scored.orderBy(F.col("cos").desc(), F.col("id")).limit(k)
