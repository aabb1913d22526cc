"""Deduplication operators for a large-scale training-data pipeline.

All shapes are Spark-native and shuffle-aware:

* ``dedup_exact`` — one hash-aggregate on the fingerprint (map-side
  partial agg for free); at 100TB this is the canonical single-shuffle
  dedup.
* ``minhash_signatures`` / ``minhash_lsh_candidates`` — character-gram
  MinHash entirely in JVM expressions (``transform``/``array_min`` over
  the polynomial gram hashes + an affine remix per permutation), banded
  LSH keyed by the serialized band slice (injective).  The shuffle key
  space is the band key, so the shuffle is proportional to candidate
  density, not n².
* ``ngram_jaccard_verify`` — exact n-gram Jaccard on candidate pairs only
  (array_intersect/array_union sizes), i.e. verify-after-probe.
* ``simhash64_portable_df`` — 64-bit set-SimHash over the same gram
  hashes via a single ``aggregate`` (bit-majority by zip_with
  accumulation), JVM-side.
* ``embedding_near_dup`` — cosine over an embedding column via
  ``zip_with`` + ``aggregate``; bucketed by sign-LSH to avoid n².

MinHash, LSH band keys, SimHash and the sign-LSH planes share one hash
family (``char_gram_hashes`` + ``_affine_consts``), so every one of them
has an ANSI-SQL twin that computes identical values.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "lsh_tune",
    "dedup_exact",
    "char_shingles",
    "char_gram_hashes",
    "minhash_signatures",
    "band_keys",
    "minhash_lsh_candidates",
    "ngram_jaccard_verify",
    "simhash64_portable_df",
    "cosine_sim",
    "embedding_near_dup",
    "winnow_fingerprints",
    "paragraph_dedup",
    "paragraph_dedup_oracle_sql",
    "substring_dup_spans",
    "substring_dup_spans_oracle_sql",
    "WINNOW_SQL_TEMPLATE",
    "minhash_verify_oracle_sql",
    "simhash_oracle_sql",
    "connected_components",
    "connected_components_oracle_sql",
]

_POLY_BASE = 31
_POLY_MOD = 1_000_000_007

# Portable-family normalization avoids the engines' Unicode tables
# entirely: DuckDB's lower() (utf8proc) and the JVM's toLowerCase ship
# different Unicode versions (found by fuzz: U+2C2F folds on the JVM but
# not in DuckDB), and Java's \s includes \x0B while RE2's does not.  An
# explicit ASCII translate + explicit whitespace class is identical
# everywhere, forever — which is the whole point of a cross-system hash.
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_WS_CLASS = "[ \\t\\n\\x0B\\f\\r]+"


def _affine_consts(n: int, seed: int = 0x5D1B) -> tuple:
    """Deterministic (a_i, b_i) pairs for the portable affine remix family
    h_i(x) = (a_i·x + b_i) mod M — a plain LCG so the identical constants
    can be embedded into the generated SQL oracle.  a_i is odd and < 2^31,
    so a_i·x < 2^61 for x < 2^30: exact in BIGINT in every engine."""
    a, b, x = [], [], seed
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        a.append(x | 1)
        x = (1103515245 * x + 12345) % (1 << 31)
        b.append(x)
    return a, b


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep the smallest id per identical (normalized) text.

    One shuffle on the md5 fingerprint; the fingerprint (16B) — not the
    full text — is the shuffle key+payload, which matters at 100TB.
    """
    norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")) if normalize else F.col(text_col)
    fp = F.md5(F.lower(norm)).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def char_shingles(col: Column, k: int = 5) -> Column:
    """Array of k-char shingles of the normalized text (JVM-side).
    Normalization is the portable explicit form (ASCII fold + explicit
    whitespace class) so shingles line up with ``char_gram_hashes``."""
    n = F.trim(F.regexp_replace(col, _WS_CLASS, " "))
    n = F.translate(n, _UPPER, _LOWER)
    return F.when(F.length(n) < k, F.array(n)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(n) - F.lit(k - 1)),
            lambda i: n.substr(i, F.lit(k)),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over grams of h_i(gram).

    Two-level hash family keeps the string work O(grams), not
    O(grams × perms): each gram is hashed exactly once by the
    engine-neutral polynomial hash (``char_gram_hashes``), then the
    affine remix (a_i·h + b_i) mod M permutes the cheap longs.  The
    values are reproducible in ANSI SQL (``minhash_verify_oracle_sql``).
    Everything is whole-stage codegen; the distinct-gram projection sits
    behind its own ``select`` so Catalyst cannot inline the expensive
    ``transform`` into every permutation (CollapseProject refuses to
    duplicate non-cheap expressions)."""
    # NB: the per-permutation remix lambdas are built by a closure factory,
    # never `lambda h, a=a: ...` — PySpark binds higher-order-function
    # lambdas by PARAMETER COUNT, so a default arg turns a 1-arg lambda
    # into a 2-arg (value, index) one and the constant silently becomes
    # the element index, collapsing every permutation to the same function.
    hashed = char_gram_hashes(df, text_col, id_col, shingle_k)
    base = hashed.select("id", F.array_distinct(F.col("__hashes")).alias("__hs"))
    a_c, b_c = _affine_consts(num_perm)

    def affine(a: int, b: int):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_POLY_MOD))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__hs"), affine(a, b)))
            for a, b in zip(a_c, b_c)
        ]
    ).alias("sig")
    return base.select("id", sig)


def band_keys(bands: int, rows_per_band: int) -> Column:
    """array<string> of the ``sig`` column's band slices, each serialized
    as its comma-joined values — the injective LSH bucket keys shared by
    ``minhash_lsh_candidates`` and the incremental band ledger."""
    return F.array(
        *[
            F.concat_ws(
                ",",
                F.slice("sig", b * rows_per_band + 1, rows_per_band).cast(
                    "array<string>"
                ),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_candidates(
    sig_df: DataFrame,
    bands: int = 8,
    rows_per_band: Optional[int] = None,
    max_bucket_size: Optional[int] = 1000,
    dropped_registry: Optional[list] = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs
    (id_a < id_b).  ONE shuffle keyed by (band, bucket): ids aggregate
    per bucket and the pair list is generated expression-level from the
    sorted id array — half the shuffle volume of the classic two-sided
    bucket self-join, and the natural place to bound degenerate buckets.

    ``max_bucket_size`` is the hot-bucket cap: a single pathological
    bucket (empty documents, boilerplate, a template page crawled 10⁷
    times) would otherwise emit |bucket|²/2 pairs and stall the verify
    stage at corpus scale.  Buckets above the cap are DROPPED (their
    members are near-identical to each other far beyond the verify
    threshold anyway; exact dedup upstream is the right tool for them).
    Pass ``dropped_registry`` (a list) to receive a (band, bucket, n)
    DataFrame of what was skipped — count/log it before relying on the
    candidate set.  ``max_bucket_size=None`` disables the cap (the
    oracle-twin configuration).

    The bucket key is the band slice itself, serialized (injective — the
    candidate set is exactly "some band slice equal"), which an ANSI-SQL
    twin reproduces."""
    if rows_per_band is None:
        first = sig_df.select(F.size("sig").alias("n")).limit(1).collect()
        n = first[0]["n"] if first else 0
        rows_per_band = max(1, n // bands) if n else 4

    buckets = sig_df.select(
        "id",
        F.posexplode(band_keys(bands, rows_per_band)).alias("band", "bucket"),
    )
    grouped = buckets.groupBy("band", "bucket").agg(
        F.collect_list("id").alias("ids")
    )
    if max_bucket_size is not None:
        if dropped_registry is not None:
            dropped_registry.append(
                grouped.where(F.size("ids") > max_bucket_size).select(
                    "band", "bucket", F.size("ids").alias("n")
                )
            )
        grouped = grouped.where(F.size("ids") <= max_bucket_size)
    s = F.array_sort("ids")
    pairs = F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + F.lit(2), F.greatest(F.size(s) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.where(F.size("ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def ngram_jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
    persist_shingles: bool = False,
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """Exact char-k-gram Jaccard on candidate pairs only (verify stage).

    Only documents that appear in a candidate pair are shingled: a
    broadcast semi-join on the (small) candidate id set prunes the corpus
    before the expensive shingle projection, so the verify stage is
    O(candidates) whatever the corpus size.  ``persist_shingles``
    additionally caches that pruned table so the id_a and id_b join sides
    share one computation — pass ``persist_registry`` (a list) to
    receive every DataFrame this function persists, and unpersist them
    once the verify output is materialized (a long-lived session would
    otherwise accumulate shingle caches across invocations)."""
    ids_needed = (
        candidates.select(F.col("id_a").alias("id"))
        .unionByName(candidates.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col))
        # no forced broadcast: the candidate id set scales with duplicate
        # density × corpus size, so it is NOT bounded at 100 TB — the
        # shuffle semi-join is the safe default and AQE broadcasts it at
        # runtime whenever the set is actually small.
        .join(ids_needed, "id", "left_semi")
        .select(
            "id",
            F.array_distinct(char_shingles(F.col(text_col), k)).alias("sh"),
        )
    )
    if persist_shingles:
        sh = sh.persist()
        if persist_registry is not None:
            persist_registry.append(sh)
    j = (
        # candidate pairs are small relative to the corpus but STILL
        # corpus-proportional (duplicate density × rows) — a forced
        # broadcast is a driver OOM at 100 TB.  Shuffle join by default;
        # AQE converts to broadcast at runtime when the pair table is
        # genuinely tiny.
        candidates
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        # threshold the RAW jaccard (the oracle's WHERE uses the raw value
        # too — rounding first would keep pairs in [t−5e-7, t) that the
        # oracle drops); round only in the projection.
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return j


def _fold_bits_to_long(counts: Column, bits: int = 64) -> Column:
    """Bit-majority counters → signed 64-bit value, assembled from two
    32-bit halves to stay inside long range under ANSI mode."""
    bits_arr = F.transform(
        counts, lambda c: F.when(c > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
    )
    half = bits // 2
    # MSB-first fold of each 32-bit half: acc*2+b never exceeds 2^32-1.
    lo = F.aggregate(
        F.reverse(F.slice(bits_arr, 1, half)),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )
    hi = F.aggregate(
        F.reverse(F.slice(bits_arr, half + 1, half)),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )
    # two's-complement recombine: (hi - 2^32 if hi >= 2^31) * 2^32 + lo
    hi_signed = F.when(hi >= F.lit(1 << 31), hi - F.lit(1 << 32)).otherwise(hi)
    return hi_signed * F.lit(1 << 32).cast("long") + lo


_SIMHASH_SEED = 0x51C6


def simhash64_portable_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bits: int = 64,
) -> DataFrame:
    """(id, simhash) — set-SimHash over the portable char-k-gram hash
    family: bit i of feature h is ((a_i·h + b_i) mod M) mod 2, so an
    ANSI-SQL twin (``simhash_oracle_sql``) computes identical 64-bit
    signatures.

    The distinct gram hashes, bit-index sequence, and remix-constant
    arrays are all materialized as real columns first: expressions
    referenced inside higher-order-function lambdas get no
    common-subexpression elimination, so an inlined outer expression
    would be recomputed per array element."""
    a_c, b_c = _affine_consts(bits, seed=_SIMHASH_SEED)
    hashed = char_gram_hashes(df, text_col, id_col, k)
    base = hashed.select(
        "id",
        F.array_distinct(F.col("__hashes")).alias("__hs"),
        F.sequence(F.lit(0), F.lit(bits - 1)).alias("__seq"),
        F.array(*[F.lit(a) for a in a_c]).alias("__A"),
        F.array(*[F.lit(b) for b in b_c]).alias("__B"),
    )
    seqc, ac, bc = F.col("__seq"), F.col("__A"), F.col("__B")
    zero = F.transform(seqc, lambda i: F.lit(0).cast("long"))
    counts = F.aggregate(
        F.col("__hs"),
        zero,
        lambda acc, h: F.zip_with(
            acc,
            seqc,
            lambda a, i: a
            + F.pmod(
                F.pmod(
                    h * F.element_at(ac, i + 1) + F.element_at(bc, i + 1),
                    F.lit(_POLY_MOD),
                ),
                F.lit(2),
            )
            * 2
            - F.lit(1),
        ),
    )
    return base.select("id", _fold_bits_to_long(counts, bits).alias("simhash"))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, fully JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: Optional[int] = None,
    threshold: float = 0.95,
    bands: int = 1,
    n_vectors: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate vectors: sign-LSH bucket (n_planes pseudo-random
    hyperplanes derived from seeded per-dimension hashes) then exact
    cosine within buckets — avoids the n² cross join.  The plane family
    is the engine-neutral affine one (SQL twin via
    similarity.portable_bucket_sql).

    ``n_planes=None`` auto-sizes to the corpus: p ≈ log2(n/occupancy)
    (see ``similarity.auto_n_planes`` for the occupancy bound — a fixed
    plane count leaves within-bucket joins at n²/2^p, which explodes as
    n grows).  Pass ``n_vectors`` to skip the sizing count() scan.

    ``bands`` > 1 amplifies recall the MinHash-LSH way: B independent
    plane families of n_planes each; a pair is a candidate when it
    collides in ANY band (recall 1−(1−s^p)^B vs the single table's s^p,
    s = 1−θ/π), then exact cosine verifies candidates only.  More
    planes per band ⇒ fewer false candidates; more bands ⇒ higher
    recall: scale p with the corpus, recover recall with B."""
    from .similarity import auto_n_planes, bucket_of

    if n_planes is None:
        n = n_vectors if n_vectors is not None else df.count()
        n_planes = auto_n_planes(n)

    # Pre-normalize ONCE per vector (n rows), so the per-PAIR work inside
    # the bucket join is a single dot product instead of dot + two norms:
    # higher-order array expressions are interpreted (no codegen), and the
    # pair count is what explodes — 3× less per-pair work matters.  The
    # norm is materialized as its own column first: referencing it inline
    # inside the transform lambda would recompute the aggregate per
    # element (no CSE inside HOF lambdas).
    nv = (
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .withColumn(
            "__norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
        )
        .withColumn("nv", F.transform("v", lambda x: x / F.col("__norm")))
        .select("id", "v", "nv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("x.nv"), F.col("y.nv"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    if bands <= 1:
        b = nv.withColumn(
            "bucket", bucket_of(F.col("v"), n_planes)
        ).select("id", "bucket", "nv")
        x, y = b.alias("x"), b.alias("y")
        return (
            x.join(
                y,
                (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.id") < F.col("y.id")),
            )
            .withColumn("cos", dot)
            .where(F.col("cos") >= threshold)
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.round("cos", 6).alias("cos"),
            )
        )
    # banded: candidates from ANY-band collisions (ids only — no vector
    # payload in the exploded/shuffled table), dedup, then verify once
    buckets = nv.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    bucket_of(F.col("v"), n_planes, band=b)
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    va = nv.select(F.col("id").alias("id_a"), F.col("nv").alias("__nva"))
    vb = nv.select(F.col("id").alias("id_b"), F.col("nv").alias("__nvb"))
    pair_dot = F.aggregate(
        F.zip_with(F.col("__nva"), F.col("__nvb"), lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", pair_dot)
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def char_gram_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    base: int = _POLY_BASE,
    mod: int = _POLY_MOD,
) -> DataFrame:
    """(id, __hashes: array<long>) — ENGINE-NEUTRAL polynomial hashes
    (Σ code·B^i mod M, all intermediates < 2^53) of the char k-grams of
    the normalized text.  The shared feature-hash front end for the
    portable winnowing / MinHash / SimHash family: an ANSI-SQL twin
    computes identical values, which is what makes cross-system dedup
    ledgers possible."""
    powers = [pow(base, k - 1 - j, mod) for j in range(k)]
    # explicit whitespace class + ASCII-only case fold: no dependence on
    # either engine's Unicode tables (see _WS_CLASS note above)
    n = F.translate(
        F.trim(F.regexp_replace(F.col(text_col), _WS_CLASS, " ")),
        _UPPER,
        _LOWER,
    )
    # texts shorter than one gram are right-padded (identically in the
    # SQL twin) so every gram has exactly k characters
    n = F.when(F.length(n) < k, F.rpad(n, k, " ")).otherwise(n)

    # char codes are materialized as a real column so every lambda below
    # references a bound column (evaluated once per row) — inlining the
    # split into each element_at would recompute it per gram element
    base_df = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.split(n, ""), lambda ch: F.ascii(ch).cast("long")).alias(
            "__codes"
        ),
    )
    codes = F.col("__codes")

    def gram_hash(i: Column) -> Column:
        acc = F.lit(0).cast("long")
        for j, p in enumerate(powers):
            acc = acc + F.element_at(codes, i + j) * F.lit(p)
        return F.pmod(acc, F.lit(mod))

    return base_df.select(
        "id",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(codes) - F.lit(k - 1), F.lit(1))),
            gram_hash,
        ).alias("__hashes"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    base: int = _POLY_BASE,
    mod: int = _POLY_MOD,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): polynomial
    rolling hash of char k-grams, min-of-each-window selection, distinct.

    Built on the portable ``char_gram_hashes`` family, so an ANSI-SQL
    twin computes identical values.  Entirely JVM expressions: one
    shuffle only if the caller aggregates.

    Returns (id, fp) exploded — one row per distinct selected fingerprint.
    """
    hashed = char_gram_hashes(df, text_col, id_col, k, base, mod)
    hashes = F.col("__hashes")
    sel = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.size(hashes) - F.lit(window - 1), F.lit(1)),
            ),
            lambda i: F.array_min(F.slice(hashes, i, window)),
        )
    )
    return hashed.select("id", F.explode(sel).alias("fp"))


WINNOW_SQL_TEMPLATE = """
SELECT id, unnest(fps) AS fp FROM (
  SELECT doc_id AS id,
         list_distinct([
           list_min(hs[i : i + {wm1}])
           for i in range(1, greatest(len(hs) - {wm1}, 1) + 1)
         ]) AS fps
  FROM (
    SELECT doc_id,
           [CAST(list_sum([CAST(ascii(g[j + 1 : j + 1]) AS BIGINT) * {{powers}}[j + 1]
                           for j in range(0, {k})]) AS BIGINT) % {mod}
            for g in grams] AS hs
    FROM (
      SELECT doc_id,
             [norm[i : i + {km1}]
              for i in range(1, greatest(length(norm) - {km1}, 1) + 1)] AS grams
      FROM (SELECT doc_id,
                   CASE WHEN length(n0) < {k} THEN rpad(n0, {k}, ' ') ELSE n0 END AS norm
            FROM (SELECT doc_id, translate(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS n0
                  FROM documents))
    )
  )
)
"""


def _poly_hash_list_sql(k: int, base: int = _POLY_BASE, mod: int = _POLY_MOD) -> str:
    """DuckDB expression: list of portable polynomial gram hashes from a
    ``grams`` list column — the SQL twin of ``char_gram_hashes``."""
    powers = [pow(base, k - 1 - j, mod) for j in range(k)]
    return (
        f"[CAST(list_sum([CAST(ascii(g[j + 1 : j + 1]) AS BIGINT) * {powers}[j + 1] "
        f"for j in range(0, {k})]) AS BIGINT) % {mod} for g in grams]"
    )


def _norm_grams_sql(k: int, table: str, extra_cols: str = "") -> str:
    """DuckDB subquery producing (doc_id, grams[, extra]) with the same
    normalization + short-text padding as ``char_gram_hashes``."""
    return f"""
      SELECT doc_id, [norm[i : i + {k - 1}]
              for i in range(1, greatest(length(norm) - {k - 1}, 1) + 1)] AS grams{extra_cols}
      FROM (SELECT doc_id, n0,
                   CASE WHEN length(n0) < {k} THEN rpad(n0, {k}, ' ') ELSE n0 END AS norm
            FROM (SELECT doc_id,
                         translate(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' '),
                                   '{_UPPER}', '{_LOWER}') AS n0
                  FROM {table}))
    """


def minhash_verify_oracle_sql(
    num_perm: int = 16,
    shingle_k: int = 8,
    bands: int = 2,
    rows_per_band: int = 8,
    threshold: float = 0.6,
    table: str = "documents",
    mod: int = _POLY_MOD,
) -> str:
    """ANSI-SQL twin of the portable MinHash→LSH→exact-Jaccard pipeline
    (``minhash_signatures`` + ``minhash_lsh_candidates`` +
    ``ngram_jaccard_verify``): identical
    signature values, identical band-slice-equality candidate set,
    identical verified pairs."""
    a_c, b_c = _affine_consts(num_perm)
    band_cond = " OR ".join(
        f"a.sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}]"
        f" = b.sig[{b * rows_per_band + 1}:{(b + 1) * rows_per_band}]"
        for b in range(bands)
    )
    jacc = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / len(list_distinct(list_concat(a.sh, b.sh)))"
    )
    # verify shingles: unpadded distinct k-gram strings of the normalized
    # text (char_shingles semantics: texts shorter than k yield the whole
    # text as the single shingle)
    sh_expr = (
        f"list_distinct([n0[i : i + {shingle_k - 1}] "
        f"for i in range(1, greatest(length(n0) - {shingle_k - 2}, 2))])"
    )
    # one list_min per permutation with its constants inlined (a list
    # literal indexed inside the lambda is rebuilt per gram), signatures
    # and band candidates materialized once, and the Jaccard computed on
    # candidate pairs only — the same values, 16x less DuckDB time
    sig = ", ".join(
        f"CAST(list_min([(h * {a} + {b}) % {mod} for h in hsd]) AS BIGINT)"
        for a, b in zip(a_c, b_c)
    )
    return f"""
WITH g AS ({_norm_grams_sql(shingle_k, table, extra_cols=", n0")}),
hs AS (
  SELECT doc_id AS id,
         list_distinct({_poly_hash_list_sql(shingle_k, mod=mod)}) AS hsd,
         {sh_expr} AS sh
  FROM g
),
sigs AS MATERIALIZED (SELECT id, sh, [{sig}] AS sig FROM hs),
cand AS MATERIALIZED (
  SELECT a.id AS id_a, b.id AS id_b FROM sigs a, sigs b
  WHERE a.id < b.id AND ({band_cond})
)
SELECT a.id AS id_a, b.id AS id_b, round({jacc}, 6) AS jaccard
FROM cand JOIN sigs a ON a.id = cand.id_a JOIN sigs b ON b.id = cand.id_b
WHERE {jacc} >= {threshold}
"""


def simhash_oracle_sql(
    k: int = 8, bits: int = 64, table: str = "documents", mod: int = _POLY_MOD
) -> str:
    """ANSI-SQL twin of ``simhash64_portable_df`` — identical signed
    64-bit signatures via the same affine bit family and two-halves
    two's-complement fold."""
    a_c, b_c = _affine_consts(bits, seed=_SIMHASH_SEED)
    half = bits // 2
    p2 = [1 << i for i in range(half)]
    return f"""
WITH g AS ({_norm_grams_sql(k, table)}),
hs AS (
  SELECT doc_id AS id, list_distinct({_poly_hash_list_sql(k, mod=mod)}) AS hsd
  FROM g
),
bitsv AS (
  SELECT id,
         [CASE WHEN c > 0 THEN 1 ELSE 0 END
          for c in [CAST(list_sum([(((h * {a_c}[i + 1] + {b_c}[i + 1]) % {mod}) % 2) * 2 - 1
                                   for h in hsd]) AS BIGINT)
                    for i in range(0, {bits})]] AS b
  FROM hs
)
SELECT id AS doc_id,
       CAST((CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END) * 4294967296
            + lo AS BIGINT) AS simhash
FROM (
  SELECT id,
         CAST(list_sum([CAST(b[i + 1] AS BIGINT) * {p2}[i + 1] for i in range(0, {half})]) AS BIGINT) AS lo,
         CAST(list_sum([CAST(b[{half} + i + 1] AS BIGINT) * {p2}[i + 1] for i in range(0, {half})]) AS BIGINT) AS hi
  FROM bitsv
)
"""


def paragraph_dedup(
    df: DataFrame,
    para_col: str = "paras",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document paragraph deduplication (the CCNet/RefinedWeb
    recipe): every paragraph occurrence except the corpus-wide FIRST
    (ordered by (doc_id, position)) is removed, and documents are
    reassembled from their surviving paragraphs in original order.

    Input: (id, paras: array<string>).  Output: (id, n_paras, n_kept,
    kept: array<string>) — kept in position order; docs can come back
    empty (fully-duplicated boilerplate docs), which is the point.

    Scale shape: ONE shuffle keyed by the 16-byte md5 of the paragraph
    (the window partition key — never the paragraph text) to rank
    occurrences, one shuffle by id to reassemble.  Both are linear in
    paragraph count; nothing is quadratic and nothing collects."""
    from pyspark.sql import Window

    ex = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(para_col)).alias("idx", "para"),
    ).withColumn("__h", F.md5("para"))
    w = Window.partitionBy("__h").orderBy("id", "idx")
    kept = (
        ex.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("id", "idx", "para")
    )
    counts = df.select(
        F.col(id_col).alias("id"), F.size(F.col(para_col)).alias("n_paras")
    )
    re = kept.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "para"))),
            lambda s: s.getField("para"),
        ).alias("kept"),
        F.count("*").cast("int").alias("n_kept"),
    )
    return (
        counts.join(re, "id", "left")
        .select(
            "id",
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept", F.array().cast("array<string>")).alias("kept"),
        )
    )


def paragraph_dedup_oracle_sql(paras_sql: str) -> str:
    """DuckDB twin over a subquery producing (doc_id, paras) — identical
    first-occurrence ranking and positional reassembly.  ``kept`` is
    projected as a '|'-joined string (the harness canonicalizer hashes
    scalars)."""
    return f"""
WITH c AS ({paras_sql}),
ex AS (
  SELECT doc_id, u.idx AS idx, u.para AS para FROM (
    SELECT doc_id,
           unnest([{{'idx': i, 'para': paras[i + 1]}}
                   for i in range(0, len(paras))]) AS u
    FROM c
  )
),
k AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn
  FROM ex
)
SELECT c.doc_id AS id,
       CAST(len(c.paras) AS INT) AS n_paras,
       CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
       coalesce(r.kept, '') AS kept
FROM c LEFT JOIN (
  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         string_agg(para, '|' ORDER BY idx) AS kept
  FROM k WHERE rn = 1 GROUP BY doc_id
) r ON c.doc_id = r.doc_id
"""


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    min_count: int = 2,
    persist_registry: Optional[list] = None,
) -> DataFrame:
    """Exact-substring deduplication spans (the "Deduplicating Training
    Data Makes Language Models Better" pass, Lee et al. 2021): find every
    run of ``window`` consecutive words that occurs at least
    ``min_count`` times ANYWHERE in the corpus (across documents or
    repeated inside one), and report, per document, the maximal merged
    word-position intervals those duplicated windows cover — the spans a
    cleaning pass would cut.

    Output: (id, span_start, span_end, n_windows) — word positions,
    0-based inclusive; n_windows = duplicated windows merged into the
    span.  Overlapping/adjacent windows (gap ≤ window) merge into one
    island, so spans are maximal and non-overlapping per document.

    Scale shape (the suffix-array construction of the paper does not
    distribute; the standard cluster equivalent is this hash-window
    pass):
    * one explode to (id, pos, md5(window-gram)) — rows ∝ corpus WORDS,
      the honest cost of exact-substring matching; the 16-byte md5
      travels, never the gram text;
    * duplicate detection by partial-agg COUNT, not a window count:
      map-side combine shrinks every partition to its distinct hashes
      BEFORE the shuffle, so a billion-fold boilerplate window (every
      "click here to subscribe …") costs one (hash, n) row per map
      partition — a count() OVER (PARTITION BY h) would instead route
      every occurrence of the hot hash to one task;
    * the duplicated-hash set joins back as a semi-join; Catalyst picks
      broadcast vs sort-merge from its size (tiny here, potentially
      huge at 10^12 docs — both shapes are correct, no hint pinned);
    * per-document gaps-and-islands window merge (shuffle by id,
      partitions ∝ documents).
    All linear; nothing quadratic, nothing driver-side.  The md5 window
    key is engine-neutral, which is what gives the pass an exact SQL
    twin (``substring_dup_spans_oracle_sql``) — and makes the span
    ledger portable across systems, so an incremental recrawl can reuse
    spans computed elsewhere.

    ``persist_registry`` (a list): when given, the exploded position
    table is persisted so the count subtree and the join probe share one
    corpus scan (the caller unpersists after materializing); without it
    the plan re-derives positions per consumer — correct, and at
    petabyte scale often CHEAPER than caching corpus-words rows, which
    is why it is the default rather than an unconditional cache.
    """
    from pyspark.sql import Window
    from ..functions.text import word_ngrams

    pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(word_ngrams(F.col(text_col), window)).alias("pos", "gram"),
    ).select("id", "pos", F.md5("gram").alias("h"))
    if persist_registry is not None:
        pos = pos.persist()
        persist_registry.append(pos)
    dup_h = (
        pos.groupBy("h")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
        .select("h")
    )
    dp = pos.join(dup_h, "h", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    brk = (
        F.when(F.lag("pos").over(w).isNull(), F.lit(1))
        .when(F.col("pos") - F.lag("pos").over(w) > window, F.lit(1))
        .otherwise(F.lit(0))
    )
    isl = dp.withColumn("__brk", brk).withColumn(
        "island",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).cast("int").alias("span_end"),
            F.count("*").cast("int").alias("n_windows"),
        )
        .select("id", "span_start", "span_end", "n_windows")
    )


def substring_dup_spans_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 10,
    min_count: int = 2,
    out_id: str = "doc_id",
) -> str:
    """DuckDB twin: identical normalized word windows, identical md5
    keys, identical gaps-and-islands merge."""
    from ..functions.text import SQL as TSQL

    grams = TSQL.word_ngrams(text_col, window)
    return f"""
WITH t AS (SELECT {id_col} AS id, {grams} AS gs FROM {table}),
pos AS (
  SELECT id, u.pos AS pos, md5(u.gram) AS h FROM (
    SELECT id,
           unnest([{{'pos': i, 'gram': gs[i + 1]}}
                   for i in range(0, len(gs))]) AS u
    FROM t
  )
),
dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= {min_count}),
dp AS (SELECT id, pos FROM pos WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos - lag(pos) OVER w > {window} THEN 1 ELSE 0 END AS brk
  FROM dp WINDOW w AS (PARTITION BY id ORDER BY pos)
),
isl2 AS (
  SELECT id, pos,
         sum(brk) OVER (PARTITION BY id ORDER BY pos) AS island
  FROM isl
)
SELECT id AS {out_id}, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {window - 1} AS INT) AS span_end,
       CAST(count(*) AS INT) AS n_windows
FROM isl2 GROUP BY id, island
"""


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    pointer_jump: bool = True,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """(id, cluster_id) — connected components of the undirected near-dup
    pair graph: each round every node takes the minimum label among
    itself, its neighbors, AND its label's label (pointer jumping / path
    doubling); fixpoint = components labeled by their smallest member.

    The dedup-cluster closer: LSH/verify emits PAIRS, but keep-one-per-
    cluster needs transitive closure (a~b, b~c ⇒ keep one of {a,b,c}).
    Scale shape: each iteration is joins + one min-aggregate, shuffle
    ∝ |edges| + |nodes|.  Plain neighbor propagation needs O(diameter)
    rounds — pathological for the gradual-drift chains near-dup graphs
    actually produce; the l(l(u)) jump doubles the reach per round so
    convergence is O(log n) (a 512-chain closes in ~7 rounds, not 511).
    Driver only orchestrates (no .collect of data) — the per-round
    convergence probe is a limit(1).count() on the changed set.

    ``checkpoint_dir``: when given, per-round labels are RELIABLY
    checkpointed there (HDFS/object-store path on a real cluster)
    instead of ``localCheckpoint``-ed.  localCheckpoint blocks live on
    executors only — losing one executor mid-iteration kills the whole
    job at 100 TB rather than recomputing; a reliable checkpoint
    survives executor loss.  Default stays localCheckpoint (no-setup,
    right for local mode / short-lived jobs)."""
    reliable = checkpoint_dir is not None
    if reliable:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    # one pass over the (possibly expensive) edge plan: a two-branch
    # union would compute it once per direction
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .persist()
    )
    nodes = und.select(F.col("u").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label")).persist()
    for _ in range(max_iter):
        nbr = und.join(
            labels.withColumnRenamed("id", "v"), "v"
        ).select(F.col("u").alias("id"), "label")
        cand = labels.unionByName(nbr)
        if pointer_jump:
            # l(l(u)): follow the current label one hop — path doubling
            jump = (
                labels.alias("a")
                .join(
                    labels.select(
                        F.col("id").alias("__jid"), F.col("label").alias("__jlabel")
                    ),
                    F.col("a.label") == F.col("__jid"),
                )
                .select(F.col("a.id").alias("id"), F.col("__jlabel").alias("label"))
            )
            cand = cand.unionByName(jump)
        # checkpointing TRUNCATES lineage: with pointer jumping each
        # round references labels twice, so an un-truncated logical plan
        # doubles per round and blows up the driver after ~10 rounds.
        agg = cand.groupBy("id").agg(F.min("label").alias("label"))
        new = agg.checkpoint() if reliable else agg.localCheckpoint()
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    und.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def connected_components_oracle_sql(pairs_sql: str) -> str:
    """ANSI-SQL twin: recursive reachable-label closure over the same
    pair set, min label per node (DuckDB WITH RECURSIVE; UNION dedups so
    the fixpoint is bounded)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, label) AS (
  SELECT u, u FROM und
  UNION
  SELECT e.u, reach.label FROM reach JOIN und e ON reach.id = e.v
)
SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
"""


def lsh_tune(
    threshold: float,
    num_perm: int,
    max_bands: int | None = None,
) -> tuple:
    """Pick (bands, rows_per_band) for a MinHash-LSH operating point:
    minimize the integrated error of the S-curve
    P(candidate | s) = 1 − (1 − s^r)^b against the step at ``threshold``
    (the datasketch weighting: false positives below t + false
    negatives above t, equal weights, midpoint-rule integral).

    Driver-side parameter math (no Spark): call once, feed the result
    to ``minhash_lsh_candidates`` / ``ledger_band_keys``.  Deterministic
    given (threshold, num_perm), so a pipeline's operating point is
    reproducible from its config alone."""
    best = None
    steps = 200
    for b in range(1, (max_bands or num_perm) + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        fp = 0.0
        fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp + fn
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]
