#!/usr/bin/env python
"""Production entrypoint: documents table → span table, resumable.

Submit (north rule: spark-submit --py-files on a multi-executor cluster):

    python -c "import shutil; shutil.make_archive('/tmp/hquery_php_spark', 'zip', '.', 'hquery_php_spark')"
    spark-submit --py-files /tmp/hquery_php_spark.zip \
        jobs/extract_job.py \
        --input  /path/docs.parquet  \
        --output /path/spans_out     \
        --metrics /path/spans_metrics \
        [--input-format warc] [--batches 8] [--partitions 4096] \
        [--tail-bytes 4194304] [--html-col html]

Behavior (``sources.ingest.batched_extract``):
* the input files (parquet files or WARC archives) are dealt into
  --batches deterministic file groups, each committed as one snapshot
  of the snapshot-manifest table at --output;
* salted size-bucket repartition with mega-doc tail isolation
  (``split_tail_repartition``) inside every batch;
* manifest resume: a re-submit skips the batch ids the manifest already
  holds (a set difference over O(#batches) ids, no row scan), so
  re-running after a kill completes exactly the remainder; a batch
  killed mid-write was never committed and runs again;
* per-partition metrics in the --metrics sidecar: each batch is one
  Spark write job whose tasks total their documents on an accumulator,
  and the driver writes the batch's rows as one parquet file only after
  THIS run committed the batch (metrics row present ⇒ batch data
  committed; a batch already committed is never metered twice; a
  half-written file keeps a hidden temp name that readers skip).
"""

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", default=None)
    ap.add_argument(
        "--input-format",
        choices=("parquet", "warc"),
        default="parquet",
        help="warc: --input is a glob of WARC archives; 200 text/html "
        "responses become documents (url→doc_id, HTTP headers feed "
        "charset detection)",
    )
    ap.add_argument(
        "--warc-slice-bytes",
        type=int,
        default=0,
        help="with --input-format warc: range-split archives into slices "
        "of ~this many compressed bytes (0 = whole-file tasks); a giant "
        "single .warc.gz then fans out instead of serializing to one task",
    )
    ap.add_argument(
        "--batches",
        type=int,
        default=8,
        help="number of input file-group batches, each committed as one "
        "snapshot",
    )
    ap.add_argument(
        "--max-batches",
        type=int,
        default=0,
        help="stop after N uncommitted batches this run (kill/resume "
        "testing; 0 = run all)",
    )
    ap.add_argument("--partitions", type=int, default=0)
    ap.add_argument("--tail-bytes", type=int, default=4 << 20)
    ap.add_argument("--doc-id-col", default="doc_id")
    ap.add_argument("--html-col", default="html")
    ap.add_argument("--base-url-col", default="base_url")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("hquery-extract").getOrCreate()

    from hquery_php_spark.sources.ingest import batched_extract

    stats = batched_extract(
        spark,
        args.input,
        args.output,
        batches=args.batches,
        max_batches=args.max_batches,
        partitions=args.partitions,
        tail_bytes=args.tail_bytes,
        metrics_path=args.metrics,
        doc_id_col=args.doc_id_col,
        html_col=args.html_col,
        base_url_col=args.base_url_col,
        input_format=args.input_format,
        warc_slice_bytes=args.warc_slice_bytes,
    )
    print(
        "snaptable ingest: ran %(ran)d, skipped %(skipped)d committed, "
        "of %(total)d batches" % stats
    )
    spark.stop()


if __name__ == "__main__":
    main()
