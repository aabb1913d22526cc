"""Documents-table readers and the committed-id ledger reader.

The engine's canonical input is an Iceberg/Parquet table
``documents(doc_id, html|text, base_url?, size_bytes?)``; output is
``spans(doc_id, spans array<struct<kind,text,media_ref,offset>>, …metrics)``.

* ``read_documents`` — format-agnostic scan (iceberg when a catalog is
  configured, parquet otherwise); only the projected columns reach the
  scan (Catalyst prunes the rest).
* ``read_html_files`` — whole-file ingestion (the reference's
  ``fromFile``, hQuery.php:112-125): ``binaryFile`` source keeps raw
  bytes so charset detection sees the original encoding.
* ``read_done_ids`` — the doc_ids of a committed id ledger (the curate
  and pack jobs' consumed-id ledgers), for ``resume_filter``.  Span
  extraction commits through ``sources.ingest.batched_extract`` and
  resumes from its snapshot manifest instead.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_documents", "read_html_files", "read_done_ids"]


def read_documents(
    spark: SparkSession,
    path_or_table: str,
    columns: Optional[Sequence[str]] = None,
    fmt: Optional[str] = None,
) -> DataFrame:
    """Scan a documents table (iceberg table name or parquet path)."""
    if fmt == "iceberg" or (fmt is None and "/" not in path_or_table):
        df = spark.read.table(path_or_table)
    else:
        df = spark.read.parquet(path_or_table)
    if columns:
        df = df.select(*columns)
    return df


def read_html_files(spark: SparkSession, glob_path: str) -> DataFrame:
    """Whole-file read → (doc_id=path, html=bytes, size_bytes).

    binaryFile keeps the ORIGINAL bytes (no implicit UTF-8 decode), so
    the engine's charset detection/conversion sees what was on disk —
    the reference's fromFile semantics."""
    raw = spark.read.format("binaryFile").load(glob_path)
    return raw.select(
        F.col("path").alias("doc_id"),
        F.col("content").alias("html"),
        F.col("length").alias("size_bytes"),
    )


def read_done_ids(spark: SparkSession, out_path: str) -> Optional[DataFrame]:
    """doc_ids already committed to ``out_path``.

    None only when nothing was committed yet: the directory is missing,
    or holds no data file (a write killed before its first commit leaves
    just ``_temporary``).  Any other read error — a corrupt file, say —
    is raised: treating it as "nothing committed" would re-process and
    re-append the whole input."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(out_path).select("doc_id")
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
