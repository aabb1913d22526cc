#!/usr/bin/env python
"""At-rest takedown over a committed pipeline (merge-on-read deletes).

    spark-submit --py-files hquery_php_spark.zip jobs/takedown_job.py \
        --output /path/pipeline --keys /path/keys.parquet \
        --takedown-id tk-2026-08-19 [--key-col doc_id] [--materialize]

The legal/decontamination story at 10^12 docs: given a parquet of doc
ids (takedown requests, benchmark-contaminated docs), remove those docs
from EVERY phase table of a ``jobs/pipeline_job.py`` output — spans,
curated, packs — without rewriting a single data file.  Each table gets
one ``SnapTable.delete_keys`` commit (an equality-delete file of the
keys, O(|keys|) I/O); reads merge it as a broadcast anti-join until the
next ``compact()`` (or ``--materialize`` here) folds it into a clean
layout.  ``--takedown-id`` makes re-submits no-ops, so the job is
resumable like every other job in this repo.

Two deliberate semantics:

* **packs keep their cut points.**  A pack is a cumulative-cost cut
  over its shard's doc order; deleting a member leaves that pack
  under-full rather than re-cutting every shard (which would churn the
  entire packs table for one takedown).  Training readers consume the
  surviving (doc_id, shard, pack_no) rows as usual.
* **fingerprint ledgers are NOT touched.**  The incremental pipeline's
  md5/MinHash ledgers remember the taken-down docs on purpose: a
  re-crawled copy of a taken-down document dedups OUT on the next
  incremental run, which is exactly what a takedown wants — the content
  stays gone without a blocklist join on every future ingest.  For the
  OPPOSITE policy (removals whose re-admission is acceptable: re-crawl
  churn, quality pruning, ledger size control), run
  ``operators/incremental.compact_ledger`` over the ledger tables — it
  expires the removed docs' keys with a shared-content guard so probe
  cost stays proportional to the live corpus.
"""

import argparse
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--output", required=True,
                    help="pipeline root written by jobs/pipeline_job.py")
    ap.add_argument("--keys", required=True,
                    help="parquet of keys to remove (one column or --key-col)")
    ap.add_argument("--key-col", default="doc_id")
    ap.add_argument("--takedown-id", required=True,
                    help="idempotence token: a re-submit with the same id "
                         "is a no-op per table")
    ap.add_argument("--materialize", action="store_true",
                    help="compact each table afterwards so the deletes are "
                         "folded into a clean layout and exact manifest "
                         "row counts are restored")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("hquery-takedown").getOrCreate()

    keys_raw = spark.read.parquet(args.keys)
    if args.key_col not in keys_raw.columns:
        raise SystemExit(
            "--keys %s has no column %r (columns: %s)"
            % (args.keys, args.key_col, keys_raw.columns)
        )
    apply_takedown(spark, args.output, keys_raw, args.key_col,
                   args.takedown_id, args.materialize)
    spark.stop()


def apply_takedown(spark, output, keys_raw, key_col, takedown_id,
                   materialize=False):
    """Idempotent per-table equality-delete commits (reusable by other
    governance jobs, e.g. jobs/robots_recheck_job.py)."""
    import json

    from pyspark.sql import functions as F

    from hquery_php_spark.sources.snaptable import SnapTable, _has_delete

    root = output.rstrip("/")
    for name in ("spans", "curated", "packs"):
        path = os.path.join(root, name)
        tbl = SnapTable(path)
        snap = tbl.current_snapshot()
        if snap is None:
            print("table %s: absent, skipping" % name)
            continue
        # hand delete_keys the table's EXACT key dtype (its contract —
        # a silent join-time cast could false-negative the match)
        ktype = next(
            f["type"]
            for f in json.loads(snap["schema"])["fields"]
            if f["name"] == key_col
        )
        keys = keys_raw.select(
            F.col(key_col).cast(ktype).alias(key_col)
        )
        new = tbl.delete_keys(
            keys, [key_col], delete_id=takedown_id
        )
        if new["snapshot_id"] != snap["snapshot_id"]:
            n_keys = next(d["n_keys"] for d in tbl.pending_deletes()
                          if d.get("delete_id") == takedown_id)
            print(
                "table %s: delete committed (snapshot %d, %d keys, "
                "0 data files rewritten)"
                % (name, new["snapshot_id"], n_keys)
            )
        elif _has_delete(new, takedown_id):
            print("table %s: takedown %r already committed, skipping"
                  % (name, takedown_id))
        else:
            print("table %s: nothing to delete (empty key set)" % name)
        if materialize and tbl.pending_deletes():
            tbl.compact(spark)
            print(
                "table %s: materialized -> %d live rows, fsck %s"
                % (name, tbl.row_count(),
                   "ok" if tbl.fsck()["ok"] else "FAILED")
            )


if __name__ == "__main__":
    main()
