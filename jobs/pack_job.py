#!/usr/bin/env python
"""Production entrypoint: interleaved spans table → packed training shards.

The batch-assembly leg as one resumable spark-submit job: read the
north-rule spans shape (doc_id, spans: array<struct<kind,text,
media_ref,offset>>), cost every document as text tokens + a fixed
vision-token budget per media span, cut ≤ max-tokens training sequences
with the deterministic shard+window recurrence, and append the
assignment partitioned by shard — the layout a training loader reads
shard-parallel:

    python -c "import shutil; shutil.make_archive('/tmp/hquery_php_spark', 'zip', '.', 'hquery_php_spark')"
    spark-submit --py-files /tmp/hquery_php_spark.zip \
        jobs/pack_job.py \
        --input  /path/spans.parquet \
        --output /path/packs \
        [--max-tokens 8192] [--media-token-cost 64] [--shards 64]

Resume: a consumed-id ledger (--output + "_ledger", written AFTER the
data commit) makes re-submits skip everything already packed — including
oversize docs (pack_no = -1), which produce no pack but must not be
re-examined forever.  Pack numbers are assigned within each run's
remainder and offset past the committed per-shard maximum, so a resumed
or incremental run APPENDS new packs instead of colliding with committed
ones; packs never mix documents from different runs (a sequence is built
from one run's cohort either way).  The crash window between data and
ledger commits is closed by the committed-output anti-join, the
curate job discipline.
"""

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--max-tokens", type=int, default=8192)
    ap.add_argument("--media-token-cost", type=int, default=64)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--metrics", default=None,
                    help="metrics sidecar path (default <output>_metrics)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("hquery-pack").getOrCreate()

    from hquery_php_spark.operators.pipeline import pack_interleaved, resume_filter
    from hquery_php_spark.sources.reader import read_done_ids

    ledger_path = args.output.rstrip("/") + "_ledger"
    docs = spark.read.parquet(args.input)
    consumed = read_done_ids(spark, ledger_path)
    if consumed is not None:
        docs = resume_filter(
            docs, consumed.withColumnRenamed("doc_id", args.id_col), args.id_col
        )

    out = pack_interleaved(
        docs,
        max_tokens=args.max_tokens,
        media_token_cost=args.media_token_cost,
        id_col=args.id_col,
        n_shards=args.shards,
    ).withColumnRenamed(args.id_col, "doc_id")

    # committed packs: offset this run's pack numbers past the per-shard
    # maximum (oversize stays -1), and close the data/ledger crash window
    done = read_done_ids(spark, args.output)
    committed_before = None
    if done is not None:
        # snapshot of the PRE-append output: the file index is captured
        # at read time, so this frame never sees this run's own append
        committed_before = spark.read.parquet(args.output)
        prior = committed_before.groupBy("shard").agg(
            (F.max("pack_no") + 1).alias("__off")
        )
        out = (
            out.join(prior, "shard", "left")
            .withColumn(
                "pack_no",
                F.when(F.col("pack_no") < 0, F.col("pack_no")).otherwise(
                    F.col("pack_no") + F.greatest(
                        F.coalesce(F.col("__off"), F.lit(0)), F.lit(0)
                    )
                ),
            )
            .drop("__off")
        )
        out = resume_filter(out, done)
    # localCheckpoint (not persist): both frames' lineage reads the
    # output dir, and a lazy or evicted-and-recomputed frame would
    # re-list the directory AFTER this run's own append and see our new
    # files (observed: the incremental batch double-metered itself) —
    # checkpointing truncates the lineage so the pre-append content is
    # pinned
    out = out.select("doc_id", "cost", "shard", "pack_no").localCheckpoint()
    recovered = None
    if committed_before is not None:
        # crash-window recovery rows: docs committed by a run that died
        # before its metrics/ledger writes = committed rows whose ids
        # survived the consumed-ledger filter
        recovered = (
            committed_before.join(
                docs.select(F.col(args.id_col).alias("doc_id")), "doc_id"
            )
            .select("doc_id", "cost", "shard", "pack_no")
            .localCheckpoint()
        )
    out.write.mode("append").partitionBy("shard").parquet(args.output)
    # per-shard lineage metrics (the extract-job sidecar discipline):
    # each run appends its own accounting rows, so the sidecar sums to
    # every committed doc across resumes.  A crash in the data→metrics
    # window would orphan docs (committed, unmetered, unledgered); those
    # are exactly the committed rows whose ids this run still sees past
    # the consumed-ledger filter — re-meter them here, so the sidecar
    # heals on resume (their data stays deduped by the anti-join above,
    # their ledger rows land below with the rest of `docs`).
    metered = out if recovered is None else out.unionByName(recovered)
    (
        metered.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(
                F.when(F.col("pack_no") >= 0, F.col("pack_no"))
            ).alias("n_packs"),
            F.sum("cost").alias("total_cost"),
            F.sum((F.col("pack_no") < 0).cast("long")).alias("n_oversize"),
        )
        .write.mode("append")
        .parquet(args.metrics or args.output.rstrip("/") + "_metrics")
    )
    # ledger AFTER the data commit: ledger row present => doc committed
    docs.select(F.col(args.id_col).alias("doc_id")).write.mode(
        "append"
    ).parquet(ledger_path)
    spark.stop()


if __name__ == "__main__":
    main()
