"""Incremental (cross-batch) deduplication against a fingerprint ledger.

A web-scale corpus is not built in one job: crawls arrive as batches,
and each new batch must dedup against EVERYTHING already ingested
without rescanning it.  The scalable contract is a *ledger* — a compact
table of fingerprints of the accepted corpus (16-byte md5 for exact,
minhash band slices for near-dup) — that new batches anti-join against:

* shuffle is ∝ batch + matching ledger partitions, never the corpus;
* at rest the ledger is bucketed/partitioned by fingerprint prefix, so
  the anti-join co-locates without a ledger-side shuffle (Spark bucketed
  tables or Iceberg bucket partition transforms);
* accepted survivors' fingerprints append to the ledger as the commit
  unit — the same parquet-append + resume discipline as the span
  pipeline (operators/pipeline.py), so a killed ingest re-runs
  idempotently.

Exact and near-dup variants; both engine-portable (the exact ledger is
md5-of-normalized-text, the near ledger the portable MinHash family
whose ANSI-SQL twin lives in ``dedup.minhash_verify_oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from .dedup import (
    _POLY_MOD,
    _affine_consts,
    _norm_grams_sql,
    _poly_hash_list_sql,
    band_keys,
    minhash_signatures,
)

__all__ = [
    "ledger_fingerprints",
    "write_ledger_bucketed",
    "incremental_dedup_exact",
    "ledger_band_keys",
    "incremental_dedup_near",
    "incremental_dedup_near_oracle_sql",
    "compact_ledger",
]


def ledger_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fp) ledger rows for an accepted corpus/batch — md5 of the
    whitespace-normalized, case-folded text (16 bytes per document at
    rest, the only thing future batches ever touch)."""
    return df.select(fingerprint(F.col(text_col)).alias("fp")).distinct()


def write_ledger_bucketed(
    ledger: DataFrame,
    table: str,
    n_buckets: int = 64,
    path: str | None = None,
    fp_col: str = "fp",
) -> None:
    """Persist the ledger as a BUCKETED, bucket-sorted parquet table —
    the at-rest layout the module docstring promises.

    With the ledger hash-bucketed by ``fp``, each batch's anti-join
    reads the catalog bucketing and satisfies the join's required
    distribution from the FILE LAYOUT: only the (small) batch side
    shuffles — into ``n_buckets`` partitions — while the (corpus-sized)
    ledger streams straight from its buckets, every batch, forever.
    That is the difference between per-batch cost ∝ batch and per-batch
    cost ∝ corpus.  Pinned by tests/test_spark_extras.py's plan fact:
    exactly one Exchange (the batch side) under a forced SortMergeJoin,
    and the ledger scan reports its bucket count.

    ``path`` makes the table external (files under ``path``, metadata in
    the session catalog); on a real cluster the same write against a
    persistent metastore — or an Iceberg ``bucket(n, fp)`` partition
    transform — is the durable equivalent.  ``sortBy(fp)`` additionally
    sorts within buckets so the merge side skips its Sort at read when
    Spark can prove per-file ordering (single file per bucket).
    """
    w = (
        ledger.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, fp_col)
        .sortBy(fp_col)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def incremental_dedup_exact(
    batch: DataFrame,
    ledger: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ledger_fp_col: str = "fp",
) -> DataFrame:
    """Survivors of a new batch vs the ledger: per distinct normalized
    text, (fp, keep_id, n_dups) for texts whose fingerprint is NOT in
    the ledger — batch-internal dedup (keep-min-id, exactly
    ``dedup.dedup_exact``'s contract) and cross-batch dedup in one pass.

    Two linear shuffles: a partial-agg groupBy on the batch's 16-byte
    fp, then a LEFT ANTI join against the ledger on fp.  The ledger side
    never aggregates and never carries payload; with the ledger bucketed
    by fp the anti-join is a co-located probe."""
    b = batch.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp")
    )
    agg = b.groupBy("fp").agg(
        F.min("id").alias("keep_id"), F.count("*").alias("n_dups")
    )
    led = ledger.select(F.col(ledger_fp_col).alias("fp"))
    return agg.join(led, "fp", "left_anti")


def ledger_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_k: int = 8,
    bands: int = 2,
) -> DataFrame:
    """(band, bucket) near-dup ledger rows: the serialized band slices
    of each document's MinHash signature — the same injective band keys
    as ``minhash_lsh_candidates``, reproducible on any engine (and by
    the SQL twin).

    A ledger and its probes MUST share (num_perm, shingle_k, bands) —
    otherwise every probe silently misses; curate_increment records the
    parameters in the ledger batch lineage and refuses a mismatched
    probe."""
    rows_per_band = max(1, num_perm // bands)
    sigs = minhash_signatures(
        df,
        text_col=text_col,
        id_col=id_col,
        num_perm=num_perm,
        shingle_k=shingle_k,
    )
    keys = band_keys(bands, rows_per_band)
    return (
        sigs.select(F.posexplode(keys).alias("band", "bucket"))
        .distinct()
    )


def incremental_dedup_near(
    batch: DataFrame,
    band_ledger: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_k: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Batch ids that are NOT near-duplicates of the ledgered corpus at
    LSH screening level: a document drops when ANY of its signature's
    band slices already appears in the (band, bucket) ledger.
    (num_perm, shingle_k, bands) must match the ledger's
    (``ledger_band_keys``) — mismatched parameters silently never match.

    This is the conservative screening contract (what the band collision
    *candidates* mean in ``minhash_lsh_candidates``): collisions at the
    configured (bands, rows) operating point stand in for similarity ≥
    the family's threshold.  A verify pass against ledger shingles can
    follow for the borderline band — that requires ledger-side shingle
    storage, which this compact ledger intentionally omits.

    Shape: batch-side signature scan → posexplode to bands (batch×B
    rows, ids only) → LEFT ANTI join on (band, bucket) → a surviving id
    must keep ALL its bands, enforced by count(bands) == B."""
    rows_per_band = max(1, num_perm // bands)
    sigs = minhash_signatures(
        batch,
        text_col=text_col,
        id_col=id_col,
        num_perm=num_perm,
        shingle_k=shingle_k,
    )
    keys = band_keys(bands, rows_per_band)
    exploded = sigs.select("id", F.posexplode(keys).alias("band", "bucket"))
    clean = exploded.join(
        band_ledger.select("band", "bucket"), ["band", "bucket"], "left_anti"
    )
    return (
        clean.groupBy("id")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") == bands)
        .select("id")
    )


def compact_ledger(
    ledger: DataFrame,
    dead: DataFrame,
    retained: DataFrame | None = None,
    key_cols: tuple = ("fp",),
) -> DataFrame:
    """Ledger minus dead keys — the compaction/expiry path that keeps a
    10^12-doc ledger honest after takedowns and re-crawls.

    The ledger grows monotonically under append-only ingest.  Whether
    a removed document's keys are DEAD is a POLICY choice with two
    legitimate answers:

    * **stay-gone (the jobs/takedown_job.py default)** — the ledger
      deliberately REMEMBERS taken-down docs: a re-crawled copy dedups
      out on the next run, keeping the content gone without a
      blocklist join on every future ingest.  Do NOT compact those
      keys.
    * **expiry (this function)** — for removals where re-admission is
      acceptable or desired (re-crawl churn, quality-pruned docs,
      storage/probe-cost control, an explicit allow-resubmission
      policy), the dead keys only inflate every future probe's
      anti-join and block content the corpus no longer holds.
      Compaction removes them:

    * ``dead``     — keys of the removed documents (``ledger_fingerprints``
      over the removed docs for the exact ledger, ``ledger_band_keys``
      for the near ledger, ``key_cols=("band", "bucket")``).
    * ``retained`` — keys still referenced by SURVIVING documents.  The
      shared-content guard: the same normalized text (or band bucket)
      can back multiple docs, so a key both dead and retained must
      survive compaction or duplicates of retained content would start
      slipping in.  Pass the retained corpus's key table (or None when
      the caller knows removals are sole owners of their keys).

    Shape: two linear anti-joins (dead - retained, then ledger - dead),
    both on the ledger key — co-located when the ledger is bucketed.
    Compaction is an O(live + dead) rewrite run at takedown cadence;
    committing it through ``write_ledger_bucketed`` restores the
    bucketed at-rest layout, so every subsequent probe stays ∝ delta
    against the LIVE corpus only.  The result is semantically identical
    to rebuilding the ledger from the retained corpus (pinned by
    tests/test_incremental_pipeline.py::test_compact_ledger_*)."""
    k = list(key_cols)
    dead_eff = dead.select(*k).distinct()
    if retained is not None:
        dead_eff = dead_eff.join(retained.select(*k), k, "left_anti")
    return ledger.join(dead_eff, k, "left_anti")


def incremental_dedup_near_oracle_sql(
    batch_sql: str,
    ledger_sql: str,
    num_perm: int = 16,
    shingle_k: int = 8,
    bands: int = 2,
    mod: int = _POLY_MOD,
) -> str:
    """DuckDB twin of ``ledger_band_keys`` + ``incremental_dedup_near``:
    identical portable signatures on both sides, identical serialized
    band-slice keys, identical anti-join survivors.  ``batch_sql`` /
    ``ledger_sql`` are subqueries yielding (doc_id, text)."""
    a_c, b_c = _affine_consts(num_perm)
    rpb = max(1, num_perm // bands)

    def sig_cte(name: str, src: str) -> str:
        return (
            f"{name} AS (\n"
            f"  SELECT doc_id AS id,\n"
            f"         [CAST(list_min([(h * {a_c}[p + 1] + {b_c}[p + 1]) % {mod} "
            f"for h in hsd]) AS BIGINT)\n"
            f"          for p in range(0, {num_perm})] AS sig\n"
            f"  FROM (SELECT doc_id, "
            f"list_distinct({_poly_hash_list_sql(shingle_k, mod=mod)}) AS hsd\n"
            f"        FROM ({_norm_grams_sql(shingle_k, f'({src})')})))"
        )

    def band_cte(name: str, sig_src: str, cols: str) -> str:
        return (
            f"{name} AS (\n"
            f"  SELECT {cols} t.band,\n"
            f"         array_to_string(sig[t.band * {rpb} + 1 : "
            f"(t.band + 1) * {rpb}], ',') AS bucket\n"
            f"  FROM {sig_src}, (SELECT unnest(range(0, {bands})) AS band) t)"
        )

    return f"""
WITH {sig_cte('bsig', batch_sql)},
{sig_cte('lsig', ledger_sql)},
{band_cte('bb', 'bsig', 'bsig.id,')},
{band_cte('lb0', 'lsig', '')},
lb AS (SELECT DISTINCT band, bucket FROM lb0)
SELECT id FROM (
  SELECT bb.id FROM bb ANTI JOIN lb
  ON bb.band = lb.band AND bb.bucket = lb.bucket
) GROUP BY id HAVING count(*) = {bands}
"""
