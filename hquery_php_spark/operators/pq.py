"""Product-quantization ANN (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search") with engine-exact integer arithmetic.

At 10⁹+ vectors the raw embeddings (64 dims × 4 B) do not fit executor
memory; PQ stores each vector as M sub-codes (here M=4 × 4-bit-ish
codes = a few bytes) and answers queries by Asymmetric Distance
Computation: per subspace, the query precomputes its distance to every
centroid (an M×K lookup table), and a vector's approximate distance is
the sum of M table lookups — no float math per vector at query time.

This is the memory-bounded complement to the IVF index in
``similarity.py``: IVF prunes WHICH vectors to score (partition
pruning), PQ bounds WHAT is stored per vector.  The two compose
(IVF-PQ) by writing codes into the bucket-partitioned layout.

The repo's oracle discipline applies end to end: vectors quantize to
fixed-point ints, per-subspace codebooks train with the same integer
k-means as ``semantic.py`` (floor-mean centroids, lowest-id seeds,
(dist, j) tie-break), codes are integer argmins, ADC distances are
integer sums — a generated DuckDB CTE chain reproduces every value.

Spark shapes:
* training: per iteration ONE shuffle for ALL subspaces — rows explode
  to (subspace, cluster) keys and the element-wise sums partial-agg
  (M·K reducer keys, parameter-sized);
* encoding: a pure map-side expression (codebooks are M·K·dim/M ints,
  inlined as literals — broadcast-dim sized);
* query: ADC tables are computed on the DRIVER from the codebooks
  (M·K ints) and inlined; per-vector scoring is M array-literal
  lookups + an integer sum, then an orderBy(dist).limit(k) partial
  top-k (per-partition heaps, no global sort).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .semantic import _fdiv, kmeans_assign_expr, quantize

__all__ = [
    "pq_train",
    "pq_train_arrow",
    "pq_encode_expr",
    "pq_adc_pandas",
    "pq_topk",
    "pq_topk_oracle_sql",
    "write_ivf_pq_index",
    "ivf_pq_topk",
    "ivf_pq_oracle_sql",
]


def pq_train(
    qdf: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: Optional[int] = None,
    id_col: str = "id",
    q_col: str = "q",
) -> list:
    """Per-subspace integer k-means codebooks: list of M lists of K
    centroids (each dim/M ints).  Seeds are the K lowest-id vectors'
    subvectors; each iteration runs ONE job covering every subspace
    (explode to (sub, cluster) keys → partial-agg element-wise sums)."""
    seeds = (
        qdf.orderBy(id_col).limit(k).orderBy(id_col).select(q_col).collect()
    )
    if dim is None:
        dim = len(seeds[0][0])
    sub = dim // m
    books = [
        [list(r[0])[s * sub : (s + 1) * sub] for r in seeds] for s in range(m)
    ]
    for _ in range(iters):
        # one projection computes every subspace's assignment; explode to
        # (sub, cluster, subvector) rows so ONE groupBy updates all books
        subvecs = F.array(
            *[F.slice(q_col, s * sub + 1, sub) for s in range(m)]
        )
        assigns = F.array(
            *[
                kmeans_assign_expr(
                    F.slice(q_col, s * sub + 1, sub), books[s]
                )
                for s in range(m)
            ]
        )
        ex = qdf.select(
            F.posexplode(F.arrays_zip(assigns.alias("c"), subvecs.alias("v")))
            .alias("sub", "z")
        ).select(
            "sub", F.col("z.c").alias("c"), F.col("z.v").alias("v")
        )
        sums = (
            ex.groupBy("sub", "c")
            .agg(
                F.count("*").alias("__n"),
                *[F.sum(F.col("v")[i]).alias(f"__s{i}") for i in range(sub)],
            )
            .collect()
        )
        new = {
            (int(r["sub"]), int(r["c"])): [
                int(r[f"__s{i}"]) // int(r["__n"]) for i in range(sub)
            ]
            for r in sums
        }
        books = [
            [new.get((s, j), books[s][j]) for j in range(k)] for s in range(m)
        ]
    return books


def pq_encode_expr(q_col, books: list):
    """array<int> of M codes: per subspace the argmin centroid (same
    tie-break as the k-means assignment)."""
    m = len(books)
    sub = len(books[0][0])
    return F.array(
        *[
            kmeans_assign_expr(F.slice(q_col, s * sub + 1, sub), books[s])
            for s in range(m)
        ]
    )


def pq_topk(
    df: DataFrame,
    query_vec: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    topk: int = 10,
    scale: int = 1000,
    persist_registry: Optional[list] = None,
    use_arrow: bool = True,
) -> DataFrame:
    """(id, adc_dist) of the ``topk`` approximate nearest neighbours of
    ``query_vec`` by PQ/ADC squared-L2, ordered by (adc_dist, id).

    The query's per-subspace distance tables are computed on the driver
    from the trained codebooks (M·K integers) and inlined as literals —
    per-vector scoring is M lookups + a sum, no per-vector float ops.

    ``use_arrow`` (default): fit and score through numpy over Arrow
    batches — bit-identical integers (argmin first-min = the (dist, j)
    tie-break; int64 throughout), ~5× faster than the interpreted
    higher-order-function expressions on 64-dim vectors.  The
    expression path stays for ``use_arrow=False`` and is pinned equal
    by test."""
    qdf = df.select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col), scale).alias("q")
    ).persist()
    if persist_registry is not None:
        persist_registry.append(qdf)
    fit = pq_train_arrow if use_arrow else pq_train
    books = fit(qdf, m=m, k=k, iters=iters)
    sub = len(books[0][0])

    def _half_away(x: float) -> int:
        # both engines' round() is half-AWAY-from-zero; Python's round()
        # is banker's — match the engines explicitly
        import math

        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    qq = [_half_away(float(v) * scale) for v in query_vec]
    dtables = [
        [
            sum(
                (qq[s * sub + i] - c[i]) * (qq[s * sub + i] - c[i])
                for i in range(sub)
            )
            for c in books[s]
        ]
        for s in range(m)
    ]
    if use_arrow:
        return (
            pq_adc_pandas(qdf, books, dtables)
            .orderBy("adc_dist", "id")
            .limit(topk)
        )
    codes = pq_encode_expr(F.col("q"), books)
    dist = None
    for s in range(m):
        term = F.element_at(
            F.lit(dtables[s]).cast("array<long>"),
            F.element_at(codes, s + 1).cast("int") + 1,
        )
        dist = term if dist is None else dist + term
    return (
        qdf.select("id", dist.alias("adc_dist"))
        .orderBy("adc_dist", "id")
        .limit(topk)
    )


def pq_topk_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    topk: int = 10,
    scale: int = 1000,
    dim: int = 64,
    query_where: str = "vec_id = 0",
    source_sql: Optional[str] = None,
) -> str:
    """DuckDB twin: identical codebook training (per-subspace unrolled
    k-means CTEs), identical codes, identical ADC tables from the query
    row selected by ``query_where``, identical top-k order."""
    sub = dim // m
    src = f"({source_sql})" if source_sql is not None else table
    quant = (
        f"[CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT) "
        f"for x in {vec_col}]"
    )
    ctes = [
        f"e AS (SELECT {id_col} AS id, {quant} AS q FROM {src})",
        # the query row comes from the RAW table (the searched source may
        # exclude it, as a self-query benchmark does)
        f"qv AS (SELECT {quant} AS q FROM {table} WHERE {query_where})",
    ]
    finals = []
    for s in range(m):
        off = s * sub
        slice_e = f"e.q[{off + 1}:{off + sub}]"
        dist = (
            f"list_sum([(e.q[{off} + i + 1] - s.q[i+1]) * "
            f"(e.q[{off} + i + 1] - s.q[i+1]) for i in range(0, {sub})])"
        )
        prev = f"b{s}_c0"
        ctes.append(
            f"{prev} AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, "
            f"q FROM (SELECT id, {slice_e.replace('e.q', 'q')} AS q "
            f"FROM e ORDER BY id LIMIT {k}))"
        )
        for it in range(iters):
            asg, nxt = f"b{s}_a{it}", f"b{s}_c{it + 1}"
            ctes.append(
                f"{asg} AS (SELECT id, q, j FROM ("
                f"SELECT e.id, {slice_e} AS q, s.j, "
                f"row_number() OVER (PARTITION BY e.id ORDER BY {dist}, s.j) AS rn "
                f"FROM e CROSS JOIN {prev} s) WHERE rn = 1)"
            )
            means = ", ".join(
                f"CAST({_fdiv(f'sum(q[{i + 1}])', 'count(*)')} AS BIGINT)"
                for i in range(sub)
            )
            ctes.append(
                f"{nxt} AS (SELECT s.j, "
                f"CASE WHEN u.j IS NULL THEN s.q ELSE u.q END AS q "
                f"FROM {prev} s LEFT JOIN ("
                f"SELECT j, [{means}] AS q FROM {asg} GROUP BY j) u ON s.j = u.j)"
            )
            prev = nxt
        # final code per vector + the query's ADC entry for that code
        ctes.append(
            f"code{s} AS (SELECT id, j FROM ("
            f"SELECT e.id, s.j, "
            f"row_number() OVER (PARTITION BY e.id ORDER BY {dist}, s.j) AS rn "
            f"FROM e CROSS JOIN {prev} s) WHERE rn = 1)"
        )
        ctes.append(
            f"dt{s} AS (SELECT s.j, "
            f"list_sum([(qv.q[{off} + i + 1] - s.q[i+1]) * "
            f"(qv.q[{off} + i + 1] - s.q[i+1]) for i in range(0, {sub})]) AS d "
            f"FROM {prev} s CROSS JOIN qv)"
        )
        finals.append(
            f"SELECT c.id, d.d FROM code{s} c JOIN dt{s} d ON c.j = d.j"
        )
    terms = " UNION ALL ".join(finals)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
adc AS (SELECT id, CAST(sum(d) AS BIGINT) AS adc_dist
        FROM ({terms}) GROUP BY id)
SELECT id, adc_dist FROM adc ORDER BY adc_dist, id LIMIT {topk}
"""
    )


# ---------------------------------------------------------------- #
# IVF-PQ composition: bucket-partitioned codes + ADC


def write_ivf_pq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
) -> dict:
    """Build the composed ANN index: PQ codebooks train once over the
    corpus, every vector stores only (id, codes) — a few bytes — into a
    parquet layout PARTITIONED BY the portable sign-LSH bucket.  The
    codebooks (M·K·dim/M ints + params) persist as a JSON sidecar next
    to the data: they are the index's "model", loaded by queries in one
    driver-side read.  Returns the sidecar dict.

    At 10⁹ vectors this is the storage story: raw 64-dim float32 =
    256 B/vector; 4 codes = 4 B/vector + one 256-bucket directory."""
    import json
    import os

    from .similarity import bucket_of

    qdf = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        quantize(F.col(vec_col), scale).alias("q"),
    ).persist()
    try:
        books = pq_train_arrow(qdf, m=m, k=k, iters=iters)
        out = qdf.select(
            "id",
            pq_encode_expr(F.col("q"), books).alias("codes"),
            bucket_of(F.col("v"), n_planes).alias("bucket"),
        )
        out.write.mode("overwrite").partitionBy("bucket").parquet(path)
    finally:
        qdf.unpersist()
    sidecar = {
        "books": books,
        "n_planes": n_planes,
        "m": m,
        "k": k,
        "iters": iters,
        "scale": scale,
    }
    with open(os.path.join(path, "_pq_books.json"), "w") as f:
        json.dump(sidecar, f)
    return sidecar


def ivf_pq_topk(
    spark,
    path: str,
    query_vec: list,
    topk: int = 10,
    hamming_radius: int = 2,
    exclude_id: Optional[int] = None,
) -> DataFrame:
    """(id, adc_dist) top-k over a ``write_ivf_pq_index`` table: the
    query's Hamming-ball bucket filter hits the PARTITION column (the
    scan prunes non-candidate directories at planning time), and each
    surviving row costs M array-literal lookups + an integer sum — no
    vector payload is ever read, only the codes."""
    import json
    import math
    import os

    from .similarity import bucket_of, hamming_ball

    with open(os.path.join(path, "_pq_books.json")) as f:
        side = json.load(f)
    books, scale, m = side["books"], side["scale"], side["m"]
    sub = len(books[0][0])
    qb = (
        spark.range(1)
        .select(
            bucket_of(
                F.array(*[F.lit(float(v)) for v in query_vec]),
                side["n_planes"],
            ).alias("b")
        )
        .collect()[0]["b"]
    )
    cands = hamming_ball(qb, side["n_planes"], hamming_radius)

    def _half_away(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    qq = [_half_away(float(v) * scale) for v in query_vec]
    dtables = [
        [
            sum(
                (qq[s * sub + i] - c[i]) * (qq[s * sub + i] - c[i])
                for i in range(sub)
            )
            for c in books[s]
        ]
        for s in range(m)
    ]
    idx = spark.read.parquet(path).where(F.col("bucket").isin(*cands))
    if exclude_id is not None:
        idx = idx.where(F.col("id") != exclude_id)
    dist = None
    for s in range(m):
        term = F.element_at(
            F.lit(dtables[s]).cast("array<long>"),
            F.element_at(F.col("codes"), s + 1).cast("int") + 1,
        )
        dist = term if dist is None else dist + term
    return (
        idx.select("id", dist.alias("adc_dist"))
        .orderBy("adc_dist", "id")
        .limit(topk)
    )


def ivf_pq_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    hamming_radius: int = 2,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    topk: int = 10,
    scale: int = 1000,
    dim: int = 64,
    query_id: int = 0,
) -> str:
    """DuckDB twin of the COMPOSED path: identical PQ codebooks trained
    over the full set (as the index build does), identical codes and
    ADC tables, scored only over the query's Hamming-ball buckets."""
    from .similarity import portable_bucket_sql

    base = pq_topk_oracle_sql(
        table=table,
        vec_col=vec_col,
        id_col=id_col,
        m=m,
        k=k,
        iters=iters,
        topk=topk,
        scale=scale,
        dim=dim,
        query_where=f"{id_col} = {query_id}",
    )
    # splice the bucket CTEs and the candidate filter into the ADC tail
    bucket = portable_bucket_sql(n_planes, vec="v")
    extra = f"""bk AS (
  SELECT {id_col} AS id, {bucket} AS bucket
  FROM (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table})
),
qbk AS (SELECT bucket AS qb FROM bk WHERE id = {query_id}),
cand AS (
  SELECT id FROM bk
  WHERE bit_count(xor(bucket, (SELECT qb FROM qbk))) <= {hamming_radius}
    AND id != {query_id}
),
"""
    head, tail = base.split("adc AS (", 1)
    tail = tail.replace(
        "GROUP BY id)",
        "WHERE id IN (SELECT id FROM cand) GROUP BY id)",
        1,
    )
    return head + extra + "adc AS (" + tail


# ---------------------------------------------------------------- #
# Arrow-vectorized fit/encode (numpy int64 — bit-identical integers)


def _pq_partials_pandas(qdf, books: list, sub: int, m: int):
    """One Arrow pass emitting PARTIAL per-(subspace, cluster) counts and
    element-wise sums per batch — the map-side combine of the k-means
    update computed by numpy matrix ops instead of per-element
    interpreted lambdas (~10-100× on wide vectors, exact same int64)."""
    import pandas as pd
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    C = [np.asarray(b, dtype=np.int64) for b in books]  # m × (k × sub)
    schema = StructType(
        [StructField("sub", LongType()), StructField("c", LongType()),
         StructField("n", LongType())]
        + [StructField(f"s{i}", LongType()) for i in range(sub)]
    )

    def run(batches):
        for pdf in batches:
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # n × dim
            out = {k: [] for k in schema.fieldNames()}
            for s in range(m):
                Qs = Q[:, s * sub : (s + 1) * sub]  # n × sub
                # argmin over integer squared L2; np.argmin takes the
                # FIRST minimum — the (dist, j) low-index tie-break
                d = ((Qs[:, None, :] - C[s][None, :, :]) ** 2).sum(-1)
                a = d.argmin(axis=1)
                for c in np.unique(a):
                    sel = Qs[a == c]
                    out["sub"].append(s)
                    out["c"].append(int(c))
                    out["n"].append(int(sel.shape[0]))
                    ssum = sel.sum(axis=0, dtype=np.int64)
                    for i in range(sub):
                        out[f"s{i}"].append(int(ssum[i]))
            yield pd.DataFrame(out)

    return qdf.select("q").mapInPandas(run, schema)


def pq_train_arrow(
    qdf: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: Optional[int] = None,
    id_col: str = "id",
    q_col: str = "q",
) -> list:
    """``pq_train`` with the assignment+partial-sum pass vectorized over
    Arrow batches (numpy int64 — bit-identical codebooks, pinned by
    test).  Same shuffle shape: the emitted partials are ≤ m·k rows per
    batch, reduced by one tiny groupBy."""
    from pyspark.sql import functions as F

    seeds = (
        qdf.orderBy(id_col).limit(k).orderBy(id_col).select(q_col).collect()
    )
    if dim is None:
        dim = len(seeds[0][0])
    sub = dim // m
    books = [
        [list(r[0])[s * sub : (s + 1) * sub] for r in seeds] for s in range(m)
    ]
    src = qdf.select(F.col(q_col).alias("q"))
    for _ in range(iters):
        partials = _pq_partials_pandas(src, books, sub, m)
        sums = (
            partials.groupBy("sub", "c")
            .agg(
                F.sum("n").alias("__n"),
                *[F.sum(f"s{i}").alias(f"__s{i}") for i in range(sub)],
            )
            .collect()
        )
        new = {
            (int(r["sub"]), int(r["c"])): [
                int(r[f"__s{i}"]) // int(r["__n"]) for i in range(sub)
            ]
            for r in sums
        }
        books = [
            [new.get((s, j), books[s][j]) for j in range(k)] for s in range(m)
        ]
    return books


def pq_adc_pandas(qdf, books: list, dtables: list):
    """(id, adc_dist) via one Arrow pass: numpy argmin codes + table
    lookups — exact integers, same values as the expression path."""
    import pandas as pd
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    m = len(books)
    sub = len(books[0][0])
    C = [np.asarray(b, dtype=np.int64) for b in books]
    D = [np.asarray(t, dtype=np.int64) for t in dtables]
    schema = StructType(
        [StructField("id", LongType()), StructField("adc_dist", LongType())]
    )

    def run(batches):
        for pdf in batches:
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            dist = np.zeros(Q.shape[0], dtype=np.int64)
            for s in range(m):
                Qs = Q[:, s * sub : (s + 1) * sub]
                d = ((Qs[:, None, :] - C[s][None, :, :]) ** 2).sum(-1)
                dist += D[s][d.argmin(axis=1)]
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "adc_dist": dist})

    return qdf.select("id", "q").mapInPandas(run, schema)
