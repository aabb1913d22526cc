#!/usr/bin/env python
"""Production entrypoint: documents table → curated training corpus.

The composed prep path (quality gates → exact dedup → MinHash near-dup
clusters → benchmark decontamination → PII redaction → per-domain cap →
deterministic global order) as one resumable spark-submit job:

    python -c "import shutil; shutil.make_archive('/tmp/hquery_php_spark', 'zip', '.', 'hquery_php_spark')"
    spark-submit --py-files /tmp/hquery_php_spark.zip \
        jobs/curate_job.py \
        --input  /path/docs.parquet \
        --output /path/curated \
        [--benchmark /path/bench.parquet] [--cap-per-domain 100000] \
        [--min-words 50] [--jaccard-threshold 0.8] \
        [--checkpoint-dir /path/ckpt] [--no-near-dup]

Resume: curation DROPS rows on purpose (quality fails, dup losers), so
"id present in --output" cannot mean "processed" — a dropped doc would
be re-processed forever, and with its dup partner already committed it
would wrongly SURVIVE the second pass.  The job therefore writes a
LEDGER of every input id it consumed (to --output + "_ledger"), after
the output commit; re-runs anti-join the ledger, so both kept and
dropped docs are skipped.  A crash between output commit and ledger
commit re-processes that batch, and the output-side anti-join below
drops the rows already committed — idempotent under any kill point.
NOTE the global positions of a resumed run are assigned within that
run's remainder; a corpus needing one consistent order across resumes
should run the (cheap, two-scan) global_order_index once over the
final committed table instead.
"""

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--benchmark", default=None,
                    help="parquet of benchmark docs to decontaminate against")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--domain-col", default="source")
    ap.add_argument("--min-words", type=int, default=10)
    ap.add_argument("--max-top-bigram-frac", type=float, default=0.30)
    ap.add_argument("--jaccard-threshold", type=float, default=0.8)
    ap.add_argument("--no-near-dup", action="store_true")
    ap.add_argument("--cap-per-domain", type=int, default=None)
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint dir for the components loop "
                    "(survives executor loss; default localCheckpoint)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("hquery-curate").getOrCreate()

    from hquery_php_spark.operators.curate import CurateOptions, curate_corpus
    from hquery_php_spark.operators.pipeline import resume_filter
    from hquery_php_spark.sources.reader import read_done_ids

    ledger_path = args.output.rstrip("/") + "_ledger"
    docs = spark.read.parquet(args.input)
    consumed = read_done_ids(spark, ledger_path)
    if consumed is not None:
        docs = resume_filter(
            docs, consumed.withColumnRenamed("doc_id", args.id_col), args.id_col
        )

    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    opts = CurateOptions(
        id_col=args.id_col,
        text_col=args.text_col,
        domain_col=args.domain_col,
        min_words=args.min_words,
        max_top_bigram_frac=args.max_top_bigram_frac,
        near_dup=not args.no_near_dup,
        jaccard_threshold=args.jaccard_threshold,
        cap_per_domain=args.cap_per_domain,
        checkpoint_dir=args.checkpoint_dir,
    )
    reg: list = []
    out = curate_corpus(docs, benchmark=bench, opts=opts, persist_registry=reg)
    out = out.withColumnRenamed(args.id_col, "doc_id")
    # crash-window guard: rows already committed to --output (ledger
    # write died before recording them) must not be appended twice
    done_out = read_done_ids(spark, args.output)
    if done_out is not None:
        out = resume_filter(out, done_out)
    out.write.mode("append").parquet(args.output)
    for cached in reg:
        cached.unpersist()
    # ledger AFTER the data commit: ledger row present => batch committed
    docs.select(F.col(args.id_col).alias("doc_id")).write.mode(
        "append"
    ).parquet(ledger_path)
    spark.stop()


if __name__ == "__main__":
    main()
