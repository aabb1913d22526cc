#!/usr/bin/env python
"""Metadata-scale evidence for the snapshot table's two-level planning.

Builds a SnapTable with N disjoint-key-range batches (the time-ordered
daily-ingest shape: one manifest shard per commit, each covering a
disjoint doc-id range) and measures, from a COLD process-equivalent
table handle (empty manifest cache):

* ``plan_lazy_ms``   — plan_scan point lookup: snapshot JSON + only the
  summary-matching manifest shards are read;
* ``plan_inflate_ms`` — the pre-summary behavior (inflate every shard,
  then prune per-file), what planning cost looked like when metadata
  I/O was O(table);
* ``append_ms_by_size`` — the O(1)-commit claim as a growth curve:
  every build append is timed, and for a window of ``REPS`` consecutive
  appends starting at each of N/8, N/4, N/2 and N-REPS shards the
  median with its min–max band is reported (``append_growth`` = median
  at the widest table / median at the narrowest; ~1 means no growth);
* ``commit_ms_by_size`` — the same windows for the append's metadata
  work alone: the append's wall less its staging step
  (``SnapTable._stage``: the Spark parquet write and its footer stats,
  100-200 ms), so both reads of the cumulative snapshot, the schema
  check and ``SnapTable._commit`` are in it (``commit_growth`` as above);
* shards loaded vs total, and a correctness check that the lazy point
  read returns exactly the one row.

At 10^12 rows the table would hold thousands of shards; this measures
the planning crossover directly instead of asserting it.  Run:

    python tools/bench_manifest_scale.py [n_batches] [rows_per_batch]

Prints one JSON line.  Not part of bench.py (the per-round bench times
the data path; this times the metadata path once per change).
"""

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPS = 8  # consecutive appends timed per table size


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 192
    per = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    assert n_batches >= 8 * REPS, f"n_batches must be at least {8 * REPS}"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from hquery_php_spark.sources.snaptable import SnapTable

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("manifest-scale")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="bench-mfscale-")
    shutil.rmtree(root)
    tbl = SnapTable(root)
    append_ms, stage_ms = [], []
    stage = tbl._stage

    def timed_stage(*a, **kw):
        t = time.perf_counter()
        try:
            return stage(*a, **kw)
        finally:
            stage_ms[-1] += (time.perf_counter() - t) * 1e3

    tbl._stage = timed_stage
    for b in range(n_batches):
        df = (
            spark.range(b * per, (b + 1) * per)
            .select(
                F.col("id").cast("long").alias("id"),
                F.concat(F.lit("v"), F.col("id")).alias("v"),
            )
            .coalesce(1)
        )
        stage_ms.append(0.0)
        t0 = time.perf_counter()
        tbl.append(df, "b%05d" % b)
        append_ms.append((time.perf_counter() - t0) * 1e3)
    build_s = sum(append_ms) / 1e3

    # the O(1)-commit claim: append and commit cost at growing table sizes
    def by_size(samples):
        out = []
        for start in (n_batches // 8, n_batches // 4, n_batches // 2,
                      n_batches - REPS):
            window = samples[start : start + REPS]
            out.append({
                "shards_before": start,
                "median_ms": round(statistics.median(window), 2),
                "min_ms": round(min(window), 2),
                "max_ms": round(max(window), 2),
            })
        return out

    commit_ms = [a - s for a, s in zip(append_ms, stage_ms)]
    append_by_size, commit_by_size = by_size(append_ms), by_size(commit_ms)

    key = (n_batches // 2) * per + 7
    cold = SnapTable(root)  # empty manifest cache — a fresh reader
    t0 = time.perf_counter()
    plan = cold.plan_scan(eq=("id", key))
    plan_lazy_ms = (time.perf_counter() - t0) * 1e3

    cold2 = SnapTable(root)
    t0 = time.perf_counter()
    snap = cold2._snapshot_at(None)  # pre-summary behavior: inflate all
    files, _ = cold2._plan_files(snap, None, None, ("id", key))
    plan_inflate_ms = (time.perf_counter() - t0) * 1e3
    assert plan["files"] == files, "lazy plan diverged from full plan"

    got = [r.v for r in cold.read(spark, eq=("id", key)).collect()]
    assert got == ["v%d" % key], got

    print(
        json.dumps(
            {
                "metric": "snaptable_plan_scale",
                "n_manifest_shards": plan["manifests_total"],
                "rows": n_batches * per,
                "build_s": round(build_s, 2),
                "append_ms_by_size": append_by_size,
                "append_growth": round(
                    append_by_size[-1]["median_ms"] / append_by_size[0]["median_ms"], 2
                ),
                "commit_ms_by_size": commit_by_size,
                "commit_growth": round(
                    commit_by_size[-1]["median_ms"] / commit_by_size[0]["median_ms"], 2
                ),
                "plan_lazy_ms": round(plan_lazy_ms, 2),
                "plan_inflate_ms": round(plan_inflate_ms, 2),
                "manifests_loaded": plan["manifests_loaded"],
                "files_kept": plan["files_kept"],
                "point_read_ok": True,
            }
        )
    )
    shutil.rmtree(root)
    spark.stop()


if __name__ == "__main__":
    main()
