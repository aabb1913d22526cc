"""Incremental (delta-consuming) curate + pack over snapshot tables.

The full pipeline (jobs/pipeline_job.py) re-curates the whole corpus
every submit — correct, but at 10^12 docs a daily crawl drop must cost
∝ NEW data, not ∝ corpus.  This module is the incremental composition:

* each run consumes exactly the spans appended since its watermark via
  ``SnapTable.read_incremental`` (manifest-planned delta, no full scan);
* cross-run deduplication goes through the fingerprint LEDGERS of
  ``operators/incremental.py`` — an md5 ledger for exact dups and a
  MinHash (band, bucket) ledger for near dups, both themselves snapshot
  tables that grow by one append per run — so per-run shuffle is
  ∝ delta + ledger probe, never ∝ corpus rescan;
* within the delta, ``curate_corpus`` applies the full quality/dedup/
  redaction/order stack unchanged (keep-first-arrival across runs,
  keep-min-id within a run — the deterministic composition of the two
  tested contracts);
* every output is committed with a watermark-derived batch id
  (``curate-upto-<spans snapshot>``), so a killed run resumes
  idempotently, and the ledgers are REPAIRED from the curated table
  before any new delta is processed — a crash between the curated
  commit and the ledger commits can never drop or double-count a doc.

Crash-ordering argument (why curated commits FIRST): the curated batch
is the commit point for "these docs are kept".  If the run dies before
the ledger appends, the next run rebuilds the missing ledger rows from
the committed curated batch + the spans delta its lineage names
(deterministic inputs ⇒ identical rows ⇒ idempotent append).  The
reverse order would be unsound: with ledger rows committed first, a
re-run's anti-join would see the crashed run's own kept docs in the
ledger and silently drop them from the curated output forever.

Reference scope note: the reference engine (duzun/hQuery.php) has no
multi-run corpus story — this is the beyond-reference training-pipeline
surface the brief asks for, built on the same snapshot-table commit
protocol as the extract phase (sources/snaptable.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.snaptable import SnapTable
from .curate import CurateOptions, curate_corpus, quality_gate
from .incremental import (
    incremental_dedup_exact,
    incremental_dedup_near,
    ledger_band_keys,
    ledger_fingerprints,
)
from .pipeline import interleaved_doc_stats, pack_interleaved

__all__ = ["PipelineTables", "curate_increment", "pack_increment"]


class PipelineTables:
    """The five snapshot tables of an incremental pipeline root."""

    def __init__(self, root: str):
        root = root.rstrip("/")
        self.spans = SnapTable(root + "/spans")
        self.curated = SnapTable(root + "/curated")
        self.packs = SnapTable(root + "/packs")
        self.ledger_fp = SnapTable(root + "/ledger_fp")
        self.ledger_bands = SnapTable(root + "/ledger_bands")


def _watermark(tbl: SnapTable, prefix: str) -> int:
    """Highest upstream snapshot id already consumed, from the batch
    lineage alone (one manifest read)."""
    best = 0
    for bid, lin in tbl.lineage().items():
        if bid.startswith(prefix):
            best = max(best, int(lin["upto_snapshot"]))
    return best


def _delta_docs(delta: DataFrame, o: CurateOptions) -> DataFrame:
    """(id, text) projection of a spans delta, behind an exchange.

    The repartition is a correctness-of-cost barrier, not a layout
    choice: ``interleaved_doc_stats``'s main_text is rebuilt with
    interpreted higher-order array functions, and without a plan break
    CollapseProject substitutes that subtree into EVERY reference inside
    the downstream gate/hash expressions, where no common-subexpression
    elimination applies to interpreted lambdas — measured 27.7s vs 2.9s
    for the quality gate alone on the sf0.1 corpus.  The exchange keeps
    the reassembly evaluated once per row; hashing by id also gives the
    hash stages their explicit parallelism (see CurateOptions.parallelism
    for why AQE coalescing is wrong for per-char folds)."""
    par = o.parallelism or delta.sparkSession.sparkContext.defaultParallelism
    return (
        interleaved_doc_stats(delta)
        .select(
            F.col("doc_id").alias(o.id_col),
            F.col("main_text").alias(o.text_col),
        )
        .repartition(par, o.id_col)
    )


def _repair_ledgers(spark: SparkSession, t: PipelineTables, o: CurateOptions) -> int:
    """Re-derive missing ledger batches from committed curated batches.

    For every ``curate-upto-N`` whose ledger batch ``upto-N`` is absent
    (crash between the curated commit and the ledger appends), rebuild
    the kept docs' raw text deterministically — the spans delta the
    curated batch's lineage names, semi-joined to the curated ids — and
    append the fingerprint / band rows.  Appends are idempotent on the
    batch id, so repairing twice is a no-op.  Returns batches repaired.
    """
    fixed = 0
    have_fp = t.ledger_fp.committed_batches()
    have_bands = t.ledger_bands.committed_batches()
    for bid, lin in sorted(t.curated.lineage().items()):
        if not bid.startswith("curate-upto-"):
            continue
        upto = int(lin["upto_snapshot"])
        led_bid = "upto-%d" % upto
        if led_bid in have_fp and led_bid in have_bands:
            continue
        delta = t.spans.read_incremental(
            spark, int(lin["from_snapshot"]), upto
        )
        docs = _delta_docs(delta, o)
        # a doc lives in exactly one spans delta, so the semi-join against
        # the WHOLE curated table recovers exactly this batch's kept ids
        kept_raw = docs.join(
            t.curated.read(spark).select(o.id_col), o.id_col, "left_semi"
        )
        _append_ledgers(t, kept_raw, led_bid, o)
        fixed += 1
    return fixed


def _band_params(o: CurateOptions) -> dict:
    """The MinHash operating point a band ledger is built with.  Ledger
    and probe must agree bit-for-bit or every probe silently misses, so
    the params are stamped into each ledger batch's lineage and checked
    before any probe.  ``portable`` names the hash family (the
    polynomial/affine one, the only family there is); it stays in the
    stamp so a ledger built by an older engine-specific family is
    refused instead of probed."""
    return {
        "num_perm": o.num_perm,
        "shingle_k": o.shingle_k,
        "bands": o.lsh_bands,
        "portable": True,
    }


def _check_band_params(t: PipelineTables, o: CurateOptions) -> None:
    want = _band_params(o)
    for bid, lin in t.ledger_bands.lineage().items():
        have = lin.get("band_params")
        if have is not None and have != want:
            raise ValueError(
                "band ledger %s batch %s was built with %s; this run probes "
                "with %s — a silent never-match; keep the MinHash operating "
                "point fixed for the table's lifetime"
                % (t.ledger_bands.path, bid, have, want)
            )


def _append_ledgers(
    t: PipelineTables, kept_raw: DataFrame, batch_id: str, o: CurateOptions
) -> None:
    """Fingerprints and band keys are computed on the RAW (pre-redaction)
    text — the same normalization future deltas hash — so ledger probes
    compare like with like."""
    t.ledger_fp.append(
        ledger_fingerprints(kept_raw, text_col=o.text_col, id_col=o.id_col),
        batch_id,
    )
    t.ledger_bands.append(
        ledger_band_keys(
            kept_raw,
            text_col=o.text_col,
            id_col=o.id_col,
            num_perm=o.num_perm,
            shingle_k=o.shingle_k,
            bands=o.lsh_bands,
        ),
        batch_id,
        lineage={"band_params": _band_params(o)},
    )


def curate_increment(
    spark: SparkSession,
    t: PipelineTables,
    opts: CurateOptions = CurateOptions(id_col="doc_id", text_col="main_text", domain_col=None),
    params: Optional[dict] = None,
) -> dict:
    """Curate exactly the spans appended since the last run.

    Returns ``{"from": a, "upto": b, "kept": k, "skipped": bool}``.
    The curated batch id is ``curate-upto-<b>``; its lineage records
    the consumed snapshot range, so resume, audit, and ledger repair
    all read straight off the manifest.  ``pos`` continues densely
    across runs (offset = manifest row_count), keeping one global
    training order without a corpus-wide re-rank.
    """
    if "curate-all" in t.curated.committed_batches():
        raise ValueError(
            "%s was curated in full (corpus-level) mode; incremental and "
            "full curation cannot mix — use a fresh --output"
            % t.curated.path
        )
    snap = t.spans.current_snapshot()
    if snap is None:
        return {"from": 0, "upto": 0, "kept": 0, "skipped": True}
    to = snap["snapshot_id"]
    frm = _watermark(t.curated, "curate-upto-")
    _repair_ledgers(spark, t, opts)
    if to <= frm:
        return {"from": frm, "upto": to, "kept": 0, "skipped": True}

    delta = t.spans.read_incremental(spark, frm, to)
    # gate BEFORE the ledger probes, so the delta's MinHash signature cost
    # is paid only for docs that can survive at all; curate_corpus
    # re-applies the same pure gate downstream on the smaller survivor set
    docs = quality_gate(_delta_docs(delta, opts), opts)
    # cross-run dedup: probe the ledgers of everything kept so far.
    # Anti-joins, never broadcast-forced: the ledgers are corpus-
    # proportional (AQE still broadcasts them while they are small).
    if t.ledger_fp.current_snapshot() is not None:
        surv = incremental_dedup_exact(
            docs,
            t.ledger_fp.read(spark),
            text_col=opts.text_col,
            id_col=opts.id_col,
        )
        docs = docs.join(
            surv.select(F.col("keep_id").alias(opts.id_col)),
            opts.id_col,
            "left_semi",
        )
        if opts.near_dup:
            _check_band_params(t, opts)
            near_ok = incremental_dedup_near(
                docs,
                t.ledger_bands.read(spark),
                text_col=opts.text_col,
                id_col=opts.id_col,
                num_perm=opts.num_perm,
                shingle_k=opts.shingle_k,
                bands=opts.lsh_bands,
            )
            docs = docs.join(
                near_ok.withColumnRenamed("id", opts.id_col),
                opts.id_col,
                "left_semi",
            )
    docs = docs.persist()
    try:
        # within-delta: the full tested curation stack (gates re-check,
        # exact + near dedup, PII redaction, deterministic order)
        reg: list = []
        kept = curate_corpus(docs, opts=opts, persist_registry=reg).select(
            opts.id_col, "pos", "n_tokens"
        )
        offset = t.curated.row_count()  # manifest-answered, no scan
        kept = kept.withColumn("pos", (F.col("pos") + F.lit(offset)).cast("long"))
        bid = "curate-upto-%d" % to
        csnap = t.curated.append(
            kept,
            bid,
            lineage={
                "from_snapshot": frm,
                "upto_snapshot": to,
                "params": dict(params or {}),
            },
        )
        for cached in reg:
            cached.unpersist()
        n_kept = csnap["lineage"][bid]["n_rows"]
        # ledger appends LAST (see module docstring crash argument);
        # kept ids come back off the just-committed table so the repair
        # path and the happy path derive the rows identically
        kept_raw = docs.join(
            t.curated.read(spark).select(opts.id_col), opts.id_col, "left_semi"
        )
        _append_ledgers(t, kept_raw, "upto-%d" % to, opts)
    finally:
        docs.unpersist()
    return {"from": frm, "upto": to, "kept": n_kept, "skipped": False}


def pack_increment(
    spark: SparkSession,
    t: PipelineTables,
    max_tokens: int = 2048,
    media_token_cost: int = 64,
    n_shards: int = 64,
) -> dict:
    """Pack exactly the docs curated since the last pack run.

    Consumes the curated table's append delta (it is pure-append in
    incremental mode), pulls those docs' spans — a semi-join against
    the spans table, which a bucket(doc_id) partition spec turns into
    a bucket-pruned probe — and appends one ``pack-upto-<curated
    snapshot>`` batch of training packs.  Shard ids live in rows, so
    packs from different runs never collide."""
    if "pack-all" in t.packs.committed_batches():
        raise ValueError(
            "%s was packed in full mode; incremental and full packing "
            "cannot mix — use a fresh --output" % t.packs.path
        )
    csnap = t.curated.current_snapshot()
    if csnap is None:
        return {"from": 0, "upto": 0, "rows": 0, "skipped": True}
    to = csnap["snapshot_id"]
    frm = _watermark(t.packs, "pack-upto-")
    if to <= frm:
        return {"from": frm, "upto": to, "rows": 0, "skipped": True}
    new_kept = t.curated.read_incremental(spark, frm, to).select("doc_id")
    spans = t.spans.read(spark).join(new_kept, "doc_id", "left_semi")
    packs = pack_interleaved(
        spans,
        max_tokens=max_tokens,
        media_token_cost=media_token_cost,
        n_shards=n_shards,
    )
    bid = "pack-upto-%d" % to
    psnap = t.packs.append(
        packs,
        bid,
        lineage={
            "from_snapshot": frm,
            "upto_snapshot": to,
            "params": {
                "max_tokens": max_tokens,
                "media_token_cost": media_token_cost,
                "n_shards": n_shards,
            },
        },
    )
    return {
        "from": frm,
        "upto": to,
        "rows": psnap["lineage"][bid]["n_rows"],
        "skipped": False,
    }
