"""The extraction metrics sidecar of ``sources.ingest.batched_extract``.

Each batch is one Spark write job: the tasks total their documents on
an accumulator and the driver writes the batch's per-partition rows as
one parquet file after the batch commits.  These tests hold the sidecar
to the aggregation it replaced — a ``groupBy(spark_partition_id())``
over the batch's spans, kept here as the oracle — and to its
exactly-once and no-extra-job contracts."""

import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest

pytest.importorskip("pyspark")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hquery_php_spark.operators.pipeline import PartitionMeter
from hquery_php_spark.sources.ingest import _write_sidecar, batched_extract
from hquery_php_spark.sources.snaptable import SnapTable
from hquery_php_spark.sources.warc import make_warc

N_DOCS = 90
# every column but the two that record when and how long
VALUE_COLS = [
    "partition_id", "n_docs", "n_tags", "n_text", "n_media", "bytes",
    "n_errors", "min_doc_id", "max_doc_id",
]
SIDECAR_DTYPES = [
    ("partition_id", "int"), ("n_docs", "bigint"), ("n_tags", "bigint"),
    ("n_text", "bigint"), ("n_media", "bigint"), ("bytes", "bigint"),
    ("n_errors", "bigint"), ("elapsed_us", "bigint"),
    ("min_doc_id", "string"), ("max_doc_id", "string"),
    ("batch_id", "string"), ("committed_at", "timestamp"),
]


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _oracle(spans):
    """The sidecar before the accumulator: a second pass over the spans."""
    return (
        spans.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tags").alias("n_tags"),
            F.sum("n_text").alias("n_text"),
            F.sum("n_media").alias("n_media"),
            F.sum("size_bytes").alias("bytes"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.sum("elapsed_us").alias("elapsed_us"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .withColumnRenamed("__pid", "partition_id")
    )


def _capture_appends(monkeypatch) -> list:
    """Record the (batch id, spans DataFrame) of every SnapTable.append."""
    seen = []
    append = SnapTable.append

    def recording(self, df, batch_id, *args, **kwargs):
        seen.append((batch_id, df))
        return append(self, df, batch_id, *args, **kwargs)

    monkeypatch.setattr(SnapTable, "append", recording)
    return seen


def _write_docs(path, null_html=False, big_every=0):
    html = [
        "<html><body><p>doc %d</p>" % i
        + "".join('<span class="w">t%d</span>' % j for j in range(i % 7))
        + '<img src="/i/%d.png"><a href="/p/%d">go</a>' % (i, i)
        + ("<p>%s</p>" % ("pad " * 800) if big_every and i % big_every == 0 else "")
        + "</body></html>"
        for i in range(N_DOCS)
    ]
    if null_html:
        html[5] = None  # a failed document: extraction records an error
    docs = pd.DataFrame({
        "doc_id": ["d%03d" % i for i in range(N_DOCS)],
        "html": html,
        "base_url": ["https://ex.example/%d" % i for i in range(N_DOCS)],
    })
    os.makedirs(path)
    for k in range(3):
        docs.iloc[k::3].to_parquet(os.path.join(path, "part-%d.parquet" % k))


def _write_warcs(path):
    os.makedirs(path)
    for k in range(3):
        recs = [
            (f"https://w{k}.example/{i}", 200, "text/html; charset=ISO-8859-2",
             f"<p>archive {k} page {i} priv\xe9t</p><img src='/x{i}.png'>".encode("latin-1"))
            for i in range(12)
        ] + [(f"https://w{k}.example/gone", 404, "text/html", b"<p>no</p>")]
        with open(os.path.join(path, "a%d.warc" % k), "wb") as f:
            f.write(make_warc(recs))


def _rows(df):
    return sorted(tuple(r) for r in df.select(*VALUE_COLS).collect())


CASES = {
    "parquet": dict(kw={}, docs={}),
    # each task writes one file per bucket it holds
    "bucketed": dict(kw={"partition_spec": [("doc_id", "bucket", 4)]}, docs={}),
    # a few docs above tail_bytes take the split-tail side of the union
    "split_tail": dict(kw={"tail_bytes": 3000}, docs={"big_every": 11}),
    "null_html": dict(kw={}, docs={"null_html": True}),
    "warc": dict(kw={"input_format": "warc"}, docs=None),
}


@pytest.mark.parametrize("case", list(CASES))
def test_sidecar_matches_groupby_oracle(spark, tmp_path, monkeypatch, case):
    kw, docs = CASES[case]["kw"], CASES[case]["docs"]
    inp = str(tmp_path / "in")
    if docs is None:
        _write_warcs(inp)
    else:
        _write_docs(inp, **docs)
    metrics = str(tmp_path / "metrics")
    seen = _capture_appends(monkeypatch)
    batched_extract(spark, inp, str(tmp_path / "tbl"), batches=2, partitions=3,
                    metrics_path=metrics, **kw)
    assert len(seen) == 2
    side = spark.read.parquet(metrics)
    assert side.dtypes == SIDECAR_DTYPES
    for bid, spans in seen:
        want = _rows(_oracle(spans))
        assert want and _rows(side.where(F.col("batch_id") == bid)) == want, bid
    n_docs, n_errors = side.agg(F.sum("n_docs"), F.sum("n_errors")).first()
    assert n_docs == SnapTable(str(tmp_path / "tbl")).row_count()
    if case == "null_html":
        assert n_errors > 0


def test_batch_committed_elsewhere_is_not_metered_again(spark, tmp_path, monkeypatch):
    """A re-run that finds its batch already in the snapshot (here: a
    stale committed-batch read) commits nothing and meters nothing."""
    inp, out, metrics = (str(tmp_path / d) for d in ("in", "tbl", "metrics"))
    _write_docs(inp)
    batched_extract(spark, inp, out, batches=2, partitions=2, metrics_path=metrics)
    monkeypatch.setattr(SnapTable, "committed_batches", lambda self: set())
    s = batched_extract(spark, inp, out, batches=2, partitions=2, metrics_path=metrics)
    assert s["ran"] == 2
    (m_docs,) = duckdb.sql(f"SELECT sum(n_docs) FROM '{metrics}/*.parquet'").fetchone()
    assert m_docs == N_DOCS == SnapTable(out).row_count()


def test_append_on_commit_only_when_this_call_commits(spark, tmp_path, monkeypatch):
    """on_commit runs for a real commit, not for a replay, and not when a
    concurrent duplicate commits the batch id while this call stages."""
    tbl = SnapTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(i,) for i in range(4)], "id long")
    calls = []
    tbl.append(df, "b0", on_commit=calls.append)
    assert [c["batch_ids"] for c in calls] == [["b0"]]
    tbl.append(df, "b0", on_commit=calls.append)  # replay
    assert len(calls) == 1

    # the pre-staging check sees the table without b1, the commit loop
    # sees it with b1: another writer won the race
    tbl.append(df, "b1")
    current = SnapTable._raw_current
    reads = []

    def raced(self):
        reads.append(1)
        return tbl._raw_snapshot(1) if len(reads) == 1 else current(self)

    monkeypatch.setattr(SnapTable, "_raw_current", raced)
    snap = tbl.append(df, "b1", on_commit=calls.append)
    assert len(calls) == 1 and snap["snapshot_id"] == 2 and len(reads) >= 2


def test_meter_merges_per_task_and_counts_rerun_partitions_once(tmp_path):
    meter = PartitionMeter()
    acc = meter.zero(None)
    # documents of partition 0, first attempt (task attempt id 7)
    for doc in ([1, 10, 3, 1, 100, 0, 5, "d2", "d2"],
                [1, 20, 4, 0, 200, 1, 6, None, None],
                [1, 30, 5, 2, 300, 0, 7, "d1", "d1"]):
        meter.addInPlace(acc, {(0, 7): doc})
    meter.addInPlace(acc, {(1, 8): [1, 1, 1, 0, 9, 0, 1, "d9", "d9"]})
    # partition 0 ran again (task attempt id 12): its report must not add
    meter.addInPlace(acc, {(0, 12): [3, 60, 12, 3, 600, 1, 40, "d1", "d2"]})
    assert acc[(0, 7)] == [3, 60, 12, 3, 600, 1, 18, "d1", "d2"]

    path = _write_sidecar(str(tmp_path / "m"), "b0", acc)
    rows = pq.read_table(path).to_pylist()
    assert [r["partition_id"] for r in rows] == [0, 1]
    assert [r["n_docs"] for r in rows] == [3, 1]
    assert (rows[0]["min_doc_id"], rows[0]["max_doc_id"]) == ("d1", "d2")
    assert os.listdir(str(tmp_path / "m")) == [os.path.basename(path)]


def test_sidecar_adds_no_spark_job(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_docs(inp)
    sc = spark.sparkContext
    batched_extract(spark, inp, str(tmp_path / "warm"), batches=1, partitions=2)
    jobs = {}
    for name, metrics in (("plain", None), ("metered", str(tmp_path / "metrics"))):
        sc.setJobGroup("sidecar-" + name, name)
        try:
            batched_extract(spark, inp, str(tmp_path / name), batches=1,
                            partitions=2, metrics_path=metrics)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup("sidecar-" + name))
    assert jobs["plain"] > 0
    assert jobs["metered"] == jobs["plain"], jobs


def test_spark_and_driver_written_sidecars_read_together(spark, tmp_path, monkeypatch):
    """A metrics dir holding files Spark wrote (the old sidecar) and the
    driver's files reads as one table in Spark and in duckdb."""
    inp, out, metrics = (str(tmp_path / d) for d in ("in", "tbl", "metrics"))
    _write_docs(inp)
    seen = _capture_appends(monkeypatch)
    batched_extract(spark, inp, out, batches=2, partitions=2, max_batches=1)
    (bid, spans), = seen
    _oracle(spans).withColumn("batch_id", F.lit(bid)).withColumn(
        "committed_at", F.current_timestamp()
    ).write.mode("append").parquet(metrics)
    spark_files = {f for f in os.listdir(metrics) if f.endswith(".parquet")}
    batched_extract(spark, inp, out, batches=2, partitions=2, metrics_path=metrics)
    driver_files = {f for f in os.listdir(metrics) if f.endswith(".parquet")} - spark_files
    assert spark_files and len(driver_files) == 1

    side = spark.read.parquet(metrics)
    assert side.dtypes == SIDECAR_DTYPES
    assert side.agg(F.sum("n_docs")).first()[0] == N_DOCS
    assert side.select("batch_id").distinct().count() == 2

    def types(glob):
        return duckdb.sql(f"DESCRIBE SELECT * FROM '{glob}'").df()[
            ["column_name", "column_type"]].values.tolist()

    want = types(os.path.join(metrics, sorted(spark_files)[0]))
    assert types(os.path.join(metrics, driver_files.pop())) == want
    assert types(os.path.join(metrics, "*.parquet")) == want
    (m_docs,) = duckdb.sql(f"SELECT sum(n_docs) FROM '{metrics}/*.parquet'").fetchone()
    assert m_docs == N_DOCS
