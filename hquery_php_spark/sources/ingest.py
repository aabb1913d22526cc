"""Batched, manifest-resumable extraction ingest: the one sink and
resume path of ``jobs/extract_job.py``.

``batched_extract`` runs the documents→spans pipeline over an input
parquet table or a set of WARC archives in B deterministic file-group
batches, committing each batch to a :class:`~.snaptable.SnapTable`
snapshot.  Resume after a kill is a set difference over batch ids read
from ONE manifest JSON — O(B), independent of committed row count; a
row-level anti-join would re-shuffle every committed doc_id on every
re-submit (10^12 at the target scale), while this path reads a few KB.
From WARC archives only 200 ``text/html`` responses become documents,
and their HTTP ``Content-Type`` feeds the engine's charset detection.

Batch plan: the sorted input file list is dealt round-robin into B
groups (even byte sizes under the usual many-similar-files layout), so
total input I/O across all batches is exactly one full scan, and each
batch's scan touches only its own files (planning-time file pruning,
not a filter).  The plan is deterministic given (file list, B); each
committed batch records a hash of its file group, and a resume whose
recomputed group diverges (input mutated, or a different --batches)
fails loudly instead of double- or under-ingesting.

``incremental_extract`` is the GROWING-input variant — the daily-crawl
case where new parquet files keep landing under the same input path.
Every committed batch records its exact input file list in the
manifest lineage, so each run plans batches over only the files never
ingested (a set difference on the driver, no data scan), and the
exactly-once invariant holds across arbitrarily many runs: a file is
in exactly one committed batch's ``inputs``, each batch commit is
atomic with its lineage, and a crashed run's re-plan regroups only the
still-missing files.  Batch ids are content-addressed
(``d-<sha16 of the group>``), so a replayed group is a snaptable
no-op.

Per-batch lineage lands in the snapshot manifest (rows, files, wall
seconds).  Per-partition extraction metrics go to the optional metrics
sidecar: each batch is ONE Spark write job, its tasks total their
documents on an accumulator (``extract_spans_df(meter=…)``) that comes
back with the task results, and the driver writes the batch's
O(#partitions) rows as one parquet file with the batch id attached —
no cache, no second pass over the spans.  The file is written only
after THIS run committed the batch (a metrics row present ⇒ its batch's
data is committed, and a batch another writer committed is never
metered twice), under a hidden temp name renamed into place, so Spark
and ``*.parquet`` readers never see a partial file.

Executor-memory note: raw-HTML corpora have multi-MB string cells, and
the vectorized parquet reader buffers columnarReaderBatchSize rows per
concurrent scan task — at the 4096-row default that is GBs of column
vectors. Deployments reading wide raw-document columns should set
``spark.sql.parquet.columnarReaderBatchSize`` down (256-512), as
bench_scaling.py's ingest mode does.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from typing import List, Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.pipeline import (
    PartitionMeter,
    extract_spans_df,
    split_tail_repartition,
)
from .snaptable import SnapTable

__all__ = ["batched_extract", "incremental_extract", "plan_file_batches"]


def plan_file_batches(files: List[str], n_batches: int) -> List[List[str]]:
    """Deal the sorted file list round-robin into ≤n_batches groups."""
    files = sorted(files)
    b = max(1, min(n_batches, len(files)))
    return [files[i::b] for i in range(b)]


def _group_sha(group: List[str]) -> str:
    return hashlib.sha256("\n".join(group).encode()).hexdigest()[:16]


def _write_sidecar(path: str, batch_id: str, reports: dict) -> str:
    """Write a batch's ``PartitionMeter`` reports as one parquet file of
    per-partition metrics rows under ``path`` (hidden temp name, then an
    atomic rename) and return its path.  ``committed_at`` is INT96, as
    Spark writes timestamps, so files of both writers read together
    under one schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    per_part = PartitionMeter.partitions(reports)
    pids = sorted(per_part)
    rows = [per_part[p] for p in pids]
    cols = {"partition_id": pa.array(pids, pa.int32())}
    for i, name in enumerate(PartitionMeter.COLS):
        kind = pa.int64() if i < PartitionMeter.N_SUMS else pa.string()
        cols[name] = pa.array([r[i] for r in rows], kind)
    cols["batch_id"] = pa.array([batch_id] * len(rows), pa.string())
    now_us = time.time_ns() // 1000
    cols["committed_at"] = pa.array([now_us] * len(rows), pa.timestamp("us"))
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".tmp-%s" % uuid.uuid4().hex)
    final = os.path.join(path, "part-%s-%s.parquet" % (batch_id, uuid.uuid4().hex))
    pq.write_table(
        pa.table(cols), tmp, compression="snappy",
        use_deprecated_int96_timestamps=True, store_schema=False,
    )
    os.rename(tmp, final)
    return final


class _Extractor:
    """Shared per-batch runner: split-tail repartition → span extraction
    → snapshot commit → (optional) metrics sidecar, in one Spark write
    job per batch."""

    def __init__(
        self,
        spark: SparkSession,
        tbl: SnapTable,
        partitions: int,
        tail_bytes: int,
        metrics_path: Optional[str],
        doc_id_col: str,
        html_col: str,
        base_url_col: str,
        input_format: str = "parquet",
        warc_slice_bytes: int = 0,
    ):
        self.spark = spark
        self.tbl = tbl
        self.partitions = partitions
        self.tail_bytes = tail_bytes
        self.metrics_path = metrics_path
        self.doc_id_col = doc_id_col
        self.html_col = html_col
        self.base_url_col = base_url_col
        self.input_format = input_format
        self.warc_slice_bytes = warc_slice_bytes
        self.dp = spark.sparkContext.defaultParallelism

    def batch_parts(self, group: List[str]) -> int:
        """partitions ∝ batch bytes (target ~32 MB input each), floored
        at the executor-slot count so every core engages: a flat
        cores×3 both drowns small batches in stage overhead (measured
        2.7× wall at sf0.1) and undershoots 10^12-scale batches, where
        partition count must track data volume, not cluster width."""
        if self.partitions:
            return self.partitions
        try:
            from urllib.parse import urlparse

            sz = sum(os.path.getsize(urlparse(u).path or u) for u in group)
        except OSError:
            return self.dp * 3  # non-posix FS — fall back to cluster width
        return max(self.dp, -(-sz // (32 << 20)))

    def read(self, group: List[str]):
        """The group's documents, and the HTTP headers column (WARC
        only) that feeds charset detection."""
        if self.input_format == "parquet":
            return self.spark.read.parquet(*group), None
        from .warc import read_warc_files, read_warc_files_split

        if self.warc_slice_bytes > 0:
            recs = read_warc_files_split(
                self.spark, group, target_slice_bytes=self.warc_slice_bytes
            )
        else:
            recs = read_warc_files(self.spark, group)
        docs = recs.where(
            (F.col("http_status") == 200)
            & F.col("content_type").startswith("text/html")
        ).select(
            F.col("url").alias(self.doc_id_col),
            F.col("payload").alias(self.html_col),
            F.col("url").alias(self.base_url_col),
            F.concat(F.lit("Content-Type: "), F.col("content_type")).alias("__headers"),
        )
        return docs, "__headers"

    def run(self, group: List[str], bid: str, lineage: dict) -> None:
        meter = on_commit = None
        if self.metrics_path:
            meter = self.spark.sparkContext.accumulator({}, PartitionMeter())

            def on_commit(_snap):  # the tasks' reports are all in by now
                _write_sidecar(self.metrics_path, bid, meter.value)

        docs, headers_col = self.read(group)
        docs = docs.withColumn(
            "__size", F.length(F.col(self.html_col)).cast("long")
        )
        docs = split_tail_repartition(
            docs,
            self.batch_parts(group),
            size_col="__size",
            tail_bytes=self.tail_bytes,
            key_col=self.doc_id_col,
        )
        spans = extract_spans_df(
            docs,
            doc_id_col=self.doc_id_col,
            html_col=self.html_col,
            base_url_col=self.base_url_col
            if self.base_url_col in docs.columns
            else None,
            headers_col=headers_col,
            meter=meter,
        )
        self.tbl.append(spans, bid, lineage=lineage, on_commit=on_commit)
        if meter is not None:
            meter.value = {}  # the context keeps every accumulator it made


def batched_extract(
    spark: SparkSession,
    input_path: str,
    output_table: str,
    batches: int = 8,
    max_batches: int = 0,
    partitions: int = 0,
    tail_bytes: int = 4 << 20,
    metrics_path: Optional[str] = None,
    doc_id_col: str = "doc_id",
    html_col: str = "html",
    base_url_col: str = "base_url",
    partition_spec: Optional[list] = None,
    input_format: str = "parquet",
    warc_slice_bytes: int = 0,
) -> dict:
    """Extract spans batch-by-batch into a snapshot table; resume = skip
    committed batch ids.  Returns {"ran": k, "skipped": s, "total": B}.

    ``partition_spec`` (e.g. ``[("doc_id", "bucket", 64)]``) creates the
    output as a hidden-partitioned snaptable: per-doc point lookups
    (``read(eq=...)``) then plan only the key's bucket files instead of
    the whole table.

    ``input_format="warc"``: ``input_path`` names WARC archives (a glob
    or directory); ``warc_slice_bytes`` > 0 range-splits each archive
    into slices of about that many compressed bytes."""
    tbl = SnapTable(output_table, partition_spec=partition_spec)
    if input_format == "parquet":
        files = spark.read.parquet(input_path).inputFiles()
    else:  # lists the archives without reading their content
        files = spark.read.format("binaryFile").load(input_path).inputFiles()
    groups = plan_file_batches(files, batches)
    b_total = len(groups)

    done = tbl.committed_batches()
    lineage = tbl.lineage()
    # refuse to resume against a different batch plan or mutated input
    for bid in done:
        if bid.startswith("d-"):
            raise ValueError(
                "table %s was ingested incrementally (delta batches "
                "present); a fixed-plan batched_extract over the full "
                "input would double-ingest — use incremental_extract"
                % output_table
            )
        suffix = bid.rsplit("-of-", 1)
        if len(suffix) == 2 and int(suffix[1]) != b_total:
            raise ValueError(
                "table %s was ingested with --batches %s; this run planned %d"
                % (output_table, suffix[1], b_total)
            )
    ex = _Extractor(
        spark, tbl, partitions, tail_bytes, metrics_path,
        doc_id_col, html_col, base_url_col, input_format, warc_slice_bytes,
    )

    ran = skipped = 0
    for i, group in enumerate(groups):
        bid = "b%05d-of-%05d" % (i, b_total)
        sha = _group_sha(group)
        if bid in done:
            prior = lineage.get(bid, {}).get("group_sha")
            if prior is not None and prior != sha:
                raise ValueError(
                    "batch %s committed from a different file group "
                    "(input mutated under a resumable ingest): %s != %s"
                    % (bid, prior, sha)
                )
            skipped += 1
            continue
        if max_batches and ran >= max_batches:
            break
        ex.run(
            group, bid,
            lineage={
                "group_sha": sha,
                "input_files": len(group),
                "inputs": group,
            },
        )
        ran += 1
    return {"ran": ran, "skipped": skipped, "total": b_total}


def incremental_extract(
    spark: SparkSession,
    input_path: str,
    output_table: str,
    batches: int = 8,
    max_batches: int = 0,
    partitions: int = 0,
    tail_bytes: int = 4 << 20,
    metrics_path: Optional[str] = None,
    doc_id_col: str = "doc_id",
    html_col: str = "html",
    base_url_col: str = "base_url",
    partition_spec: Optional[list] = None,
) -> dict:
    """Extract only the input files never ingested before (growing-input
    resume).  Returns {"ran": k, "skipped": s, "total": B} where
    ``skipped`` counts previously committed batches and ``total`` is
    skipped + this run's planned delta batches.

    Exactly-once across runs: the committed batches' recorded ``inputs``
    lists partition the ingested file set, the driver-side set
    difference plans only the complement, and each new batch commits its
    own list atomically with its data.  Re-running after a crash
    regroups only the still-missing files; ``batches`` applies to the
    DELTA, so a daily drop of any size lands in ≤``batches`` commits.
    """
    tbl = SnapTable(output_table, partition_spec=partition_spec)
    files = set(spark.read.parquet(input_path).inputFiles())
    lineage = tbl.lineage()
    ingested: set = set()
    for bid, lin in lineage.items():
        if "inputs" not in lin:
            raise ValueError(
                "batch %r of %s predates per-batch input recording — "
                "incremental_extract cannot prove which files it covered; "
                "re-ingest into a fresh table" % (bid, output_table)
            )
        ingested.update(lin["inputs"])
    missing = ingested - files
    if missing:
        raise ValueError(
            "input mutated under a resumable ingest: %d previously "
            "ingested file(s) vanished from %s (e.g. %s)"
            % (len(missing), input_path, sorted(missing)[0])
        )
    remaining = sorted(files - ingested)
    skipped = len(lineage)
    if not remaining:
        return {"ran": 0, "skipped": skipped, "total": skipped}
    groups = plan_file_batches(remaining, batches)
    ex = _Extractor(
        spark, tbl, partitions, tail_bytes, metrics_path,
        doc_id_col, html_col, base_url_col,
    )
    ran = 0
    for group in groups:
        if max_batches and ran >= max_batches:
            break
        sha = _group_sha(group)
        bid = "d-%s" % sha  # content-addressed: replay is a no-op
        ex.run(
            group, bid,
            lineage={
                "group_sha": sha,
                "input_files": len(group),
                "inputs": group,
            },
        )
        ran += 1
    return {"ran": ran, "skipped": skipped, "total": skipped + len(groups)}
