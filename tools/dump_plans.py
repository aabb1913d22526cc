#!/usr/bin/env python
"""Dump formatted physical plans of flagship queries to PLANS.md."""
import io
import os
import sys
from contextlib import redirect_stdout

from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402

QUERIES = [
    ("extract_spans", "scan → project(3 cols) → salted repartition → mapInPandas extract → posexplode"),
    ("token_count", "column pruning: only (doc_id, text) reach the scan"),
    ("dedup_exact", "map-side partial agg on the 16B fingerprint, one shuffle"),
    ("dedup_minhash", "hash-once signatures → banded-LSH bucket grouping (pairs generated expression-level from each bucket's sorted id array — half the classic self-join shuffle) → shuffle-semi-join-pruned verify (no forced broadcast: candidates are corpus-proportional; AQE broadcasts at runtime when small); persist_shingles=True so ONE shingle-build subtree feeds both join sides"),
    ("training_pipeline", "extract → quality filter → dedup in one plan"),
    ("similarity_ivf", "materialized IVF index: PartitionFilters on the bucket column prune non-candidate directories at planning time"),
    ("interleaved_docs", "span sequence ⋈ broadcast media metadata: BroadcastHashJoin, no shuffle of the span side"),
    ("pack_sequences", "one shard shuffle + per-shard window cumsum — no global sort"),
    ("gopher_quality", "pure JVM expression tree over one scan — zero shuffles, WholeStageCodegen end to end"),
    ("domain_cap", "two bounded windows: (source, salt) pre-prune then per-source rank — no unbounded partition under domain skew"),
    ("corpus_shuffle", "explicit hash-range buckets: tiny count agg + per-bucket window; no single-partition global window, no range-sampling pass"),
    ("curate", "composed curation chain in one lazy program: gate evaluated as ONE projected boolean behind a pushdown barrier (FilterExec does no subexpression elimination — unguarded, the nested-HOF gate costs 70x) -> fingerprint window -> LSH bucket-grouped candidates + shuffle-semi-join verify -> shuffle loser anti-join (AQE picks broadcast when small; losers are corpus-proportional, never forced) -> broadcast gram set (bounded: benchmark suites are fixed) -> regexp redaction -> salted cap windows -> bucketed order"),
    ("tfidf_top", "tf shuffle on (doc, term); df derived FROM the tf table (no second corpus scan); join + per-doc window top-k"),
    ("corpus_stats", "single scan -> integer partial aggs -> one shuffle on source; ratios post-derived"),
    ("bm25_search", "tf from token arrays: zero shuffle before TakeOrderedAndProject (partial top-k, no global sort)"),
    ("pmi_collocations", "ONE scan explodes unigram+bigram events -> one count shuffle feeds both tables -> term joins -> partial top-k"),
    ("url_dedup", "pure expression canonicalization -> single group-by shuffle on the canonical key"),
    ("unigram_logprob", "explode -> term-count shuffle -> term logprob join -> per-doc integer sum; fixed-point micro-nats"),
    ("quality_classifier", "zero-shuffle hashed-linear classifier: scan -> expression projection only"),
    ("mixture_sample", "temperature resample: per-domain CASE thresholds on the portable row hash -> scan + filter, no join"),
    ("semantic_dedup", "k-means assignment map-side over literal centroids; pair join = one equi-join on cluster id, BOTH sides reading the single cached quantized table"),
    ("incremental_dedup", "batch partial-agg on the 16B fp -> LEFT ANTI join vs the ledger (ledger side never aggregates)"),
    ("incremental_dedup_near", "batch signatures -> band explode (ids only) -> LEFT ANTI on (band, bucket) -> all-bands-survive count"),
    ("bloom_screen", "kh exploded bit positions -> LEFT ANTI vs the <=m-row set-bit table (broadcastable)"),
    ("hll_distinct", "token explode -> (group, bucket) register-max partial agg: reducer keys = m buckets per group, not the vocabulary"),
    ("similarity_pq", "PQ/ADC: map-side argmin codes over literal codebooks, M array-literal lookups + integer sum -> TakeOrderedAndProject partial top-k"),
    ("similarity_ivf_pq", "composed index: PartitionFilters prune bucket directories at planning time; only (id, codes) columns are read"),
    ("dsir_weights", "two B-bucket partial aggs (target + raw) -> broadcast B-row diff table -> per-doc integer sums; tokens materialized behind a projection (HOF-inlining rule)"),
    ("pagerank_hosts", "per power-iteration round: ranks-edges join + dst-keyed partial agg, linear in edges"),
    ("length_quantiles", "one (group, bin)-keyed partial agg -> per-group window cumsum over the tiny bin list"),
    ("chunk_documents", "expression-only: tokens projected once, sequence/transform/explode, zero shuffle"),
    ("bpe_encode", "BPE encode: 16 chained non-overlapping replace calls inside ONE WholeStageCodegen projection (zero shuffle) -> explode -> vocab-keyed partial-agg count; training rounds (not shown) run the same pair-count shape on the vocab table, corpus touched once"),
    ("pack_interleaved", "multimodal packing: per-doc cost (text tokens + fixed media budget) as pure array expressions over the spans column — no explode — then ONE shard shuffle + per-shard window; oversize rows ride the SAME window with 0 cumsum contribution (single pass, no union, no second scan of the spans subtree)"),
    ("classifier_pred", "trained-classifier inference: weight table rides as an array literal inside the scan projection — zero shuffle, zero joins; training epochs (not shown) are two vocab-bounded partial aggs each"),
    ("audio_stats", "one mapInPandas synth + one mapInPandas decode — payloads cross the Arrow boundary once, zero shuffle"),
    ("frame_sample", "demux fan-out: mapInPandas frame sampling (1 row -> n_frames PNGs) chained into mapInPandas pixel stats, zero shuffle"),
    ("media_meta", "container walk only: one mapInPandas over header bytes, no decode, zero shuffle — the filter-before-decode operator"),
    ("audio_meta", "Ogg page walk + id-header parse: one mapInPandas, zero shuffle"),
    ("snaptable_ingest_batch", "ONE ingest batch of the manifest-resume path: the scan lists exactly the batch's planned files (planning-time file pruning, not a filter) -> one split-tail Exchange -> mapInPandas extract; the snapshot commit is driver-side metadata, invisible to the executor plan"),
    ("snaptable_point_lookup", "point lookup on a bucket[8]-partitioned snaptable: the manifest plans ONLY the key's bucket files (the InMemoryFileIndex lists ~1/8 of the table — driver-side, no Spark job) + PushedFilters carries the residual doc_id equality into the rowgroup scan"),
    ("snaptable_incremental_read", "changelog consumption: read_incremental(after) plans ONLY the files appended after the watermark snapshot — the scan's file list is the delta, so downstream incremental curate/pack cost follows NEW data, never the corpus"),
    ("snaptable_mor_delete_read", "merge-on-read equality delete: delete_keys committed the key set as ONE small equality-delete file (no data file rewritten — commit cost O(|keys|)); the read is the data scan anti-joined against it, key side broadcast — no table shuffle, and compact() later materializes the delete away entirely"),
    ("html_markdown", "Markdown render: synth projection -> salted repartition -> ONE mapInPandas engine walk, zero shuffle beyond the spread"),
    ("sentence_segment", "portable sentence split: pure expression tree (regexp mark + split + fold), zero shuffle, WholeStageCodegen end to end"),
    ("robots_filter", "policy gate: rules mapInPandas ∝ hosts -> ONE shuffle join on host (no forced broadcast; AQE picks it when the rule table is small) -> map-side filter/aggregate longest-match fold — no per-URL Python, no explode of the rule array"),
    ("frontier", "frontier assembly: expression canonicalization -> ONE (url) partial-agg dedup shuffle -> per-host rank window (bounded by the host's URL count) -> FINAL politeness Exchange on hash(host)%B with within-partition (host, priority) sort — the output layout contract"),
    ("section_chunks", "outline + chunking: mapInPandas section walk -> per-doc collect_list (one shuffle) -> greedy cut recurrence as an aggregate-fold EXPRESSION over the section array -> explode back; no iterative jobs, no window"),
]

def main():
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.adaptive.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.all_queries()  # per-operator names (the driver registry consolidates into suites)
    out = ["# PLANS — formatted physical plans of flagship queries",
           "",
           "Generated by `tools/dump_plans.py` at sf0.001 (plans are",
           "data-size independent up to AQE's runtime choices). Things to",
           "check: `PushedFilters`/`ReadSchema` at the scans (pruning),",
           "`BroadcastHashJoin` where a side is small, `WholeStageCodegen`",
           "spans around JVM expression work.", ""]
    for name, note in QUERIES:
        sf = "/root/testdata/sf0.001"
        # queries that materialize + release their caches return a local
        # table — dump the LAZY distributed pipeline instead (the plan
        # that actually runs at scale)
        if name == "dedup_minhash":
            df = E._dedup_minhash_verify_df(spark, sf, [])
        elif name == "curate":
            df = E._curate_df(spark, sf, None)
        elif name == "tfidf_top":
            from hquery_php_spark.functions.text import tfidf_top_terms
            df = tfidf_top_terms(E._spread(E._docs(spark, sf), spark), top_k=3)
        elif name == "bm25_search":
            from hquery_php_spark.functions.rank import bm25_topk
            df = bm25_topk(
                E._spread(E._docs(spark, sf), spark).select("doc_id", "text"),
                terms=E._BM25_TERMS, k=10)
        elif name == "pmi_collocations":
            from hquery_php_spark.functions.rank import pmi_collocations
            df = pmi_collocations(E._spread(E._docs(spark, sf), spark),
                                  min_count=5, top_k=20)
        elif name == "unigram_logprob":
            from hquery_php_spark.functions.rank import unigram_logprob
            df = unigram_logprob(E._spread(E._docs(spark, sf), spark))
        elif name == "semantic_dedup":
            from hquery_php_spark.operators.semantic import semantic_dedup
            df = semantic_dedup(
                E._augmented_embeddings(spark, sf), vec_col="v", id_col="id"
            )
        elif name == "dsir_weights":
            from pyspark.sql import functions as F
            from hquery_php_spark.operators.dsir import dsir_weights
            d = E._docs(spark, sf).select("doc_id", "text", "lang")
            df = dsir_weights(
                d.select("doc_id", "text"),
                d.where(F.col("lang") == "en").select("doc_id", "text"),
            )
        elif name == "similarity_pq":
            from pyspark.sql import functions as F
            from hquery_php_spark.operators.pq import pq_topk
            embs = E._embs(spark, sf)
            qv = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
            df = pq_topk(embs.where(F.col("vec_id") != 0), qv)
        elif name == "snaptable_ingest_batch":
            import tempfile

            from pyspark.sql import functions as F

            from hquery_php_spark.operators.pipeline import (
                extract_spans_df,
                split_tail_repartition,
            )
            from hquery_php_spark.sources.ingest import plan_file_batches

            inp = tempfile.mkdtemp(prefix="plans-ingest-")
            E._docs(spark, sf).select(
                "doc_id", F.col("text").alias("html")
            ).repartition(4).write.mode("overwrite").parquet(inp)
            group = plan_file_batches(spark.read.parquet(inp).inputFiles(), 2)[0]
            docs = spark.read.parquet(*group).withColumn(
                "__size", F.length("html").cast("long")
            )
            df = extract_spans_df(
                split_tail_repartition(
                    docs, 4, size_col="__size", tail_bytes=1 << 21
                ),
                base_url_col=None,
            )
        elif name == "snaptable_point_lookup":
            import tempfile

            from hquery_php_spark.sources.snaptable import SnapTable

            tdir = tempfile.mkdtemp(prefix="plans-snap-")
            tbl = SnapTable(
                os.path.join(tdir, "t"),
                partition_spec=[("doc_id", "bucket", 8)],
            )
            tbl.append(E._docs(spark, sf).select("doc_id", "text"), "all")
            key = E._docs(spark, sf).select("doc_id").first()[0]
            kept, total = tbl.pruned_file_count(eq=("doc_id", key))
            out.append(
                "_(manifest planning for this lookup: %d of %d files)_\n"
                % (kept, total)
            )
            df = tbl.read(spark, eq=("doc_id", key))
        elif name == "snaptable_incremental_read":
            import tempfile

            from hquery_php_spark.sources.snaptable import SnapTable

            from pyspark.sql import functions as F

            tdir = tempfile.mkdtemp(prefix="plans-snapincr-")
            tbl = SnapTable(os.path.join(tdir, "t"))
            d = E._docs(spark, sf).select("doc_id", "text")
            halves = F.pmod(F.col("doc_id"), F.lit(2))
            tbl.append(d.where(halves == 0), "day0")  # snapshot 1: corpus
            tbl.append(d.where(halves == 1), "day1")  # snapshot 2: the drop
            old = set(tbl._snapshot_at(1)["files"])
            allf = tbl.current_snapshot()["files"]
            added = [f for f in allf if f not in old]
            out.append(
                "_(delta planning: %d of %d files scanned for the "
                "increment)_\n" % (len(added), len(allf))
            )
            df = tbl.read_incremental(spark, 1)
        elif name == "snaptable_mor_delete_read":
            import tempfile

            from hquery_php_spark.sources.snaptable import SnapTable

            tdir = tempfile.mkdtemp(prefix="plans-snapmor-")
            tbl = SnapTable(os.path.join(tdir, "t"))
            d = E._docs(spark, sf).select("doc_id", "text")
            tbl.append(d, "all")
            n_files = len(tbl.current_snapshot()["files"])
            tbl.delete_keys(d.select("doc_id").limit(25), delete_id="plans")
            snap = tbl.current_snapshot()
            out.append(
                "_(after delete_keys: %d data files, all unchanged "
                "(was %d); pending delete files: %d)_\n"
                % (
                    len(snap["files"]),
                    n_files,
                    sum(len(x["files"]) for x in snap["equality_deletes"]),
                )
            )
            df = tbl.read(spark)
        else:
            df = qs[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="formatted")
        out.append(f"## {name}\n\n_{note}_\n\n```\n{buf.getvalue().strip()}\n```\n")
    open("PLANS.md", "w").write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()

if __name__ == "__main__":
    main()
