"""The status-store harvester, pinned against one known query: the rows
and bytes it reports for a parquet write and its read-back must equal
what is on disk.  Also the metric-string parser and the output checks.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check import check_rows, check_survivors  # noqa: E402
from harvest import StatusHarvester, parse_metric  # noqa: E402


def test_parse_metric():
    assert parse_metric("10,000") == 10000
    assert parse_metric("44.2 KiB") == pytest.approx(44.2 * 1024)
    assert parse_metric("28 ms") == pytest.approx(0.028)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n8.6 s (2.0 s, 2.2 s, 2.3 s (stage 3.0: task 9))"
    ) == pytest.approx(8.6)
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "true")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def test_harvest_pins_rows_and_bytes(spark, tmp_path):
    h = StatusHarvester(spark)
    path = str(tmp_path / "t")
    df = spark.range(1000, numPartitions=4).selectExpr("id", "repeat('x', 50) AS s")

    mark = h.mark()
    df.repartition(3).write.parquet(path)
    w = h.since(mark)
    files = glob.glob(os.path.join(path, "part-*.parquet"))
    on_disk = sum(os.path.getsize(f) for f in files)
    ins = "Execute InsertIntoHadoopFsRelationCommand"
    assert w.sql_metric(ins, "number of output rows") == 1000
    assert w.sql_metric(ins, "number of written files") == len(files) == 3
    # "written output" is rendered to 0.1 KiB
    assert w.sql_metric(ins, "written output") == pytest.approx(on_disk, abs=52)
    assert w.stage_sum("shuffleWriteBytes") > 0
    assert w.stage_sum("shuffleReadBytes") == w.stage_sum("shuffleWriteBytes")
    assert w.job_time_s() > 0

    mark = h.mark()
    back = spark.read.parquet(path)
    n = back.mapInPandas(lambda it: it, back.schema).count()
    w = h.since(mark)
    assert n == 1000
    assert w.sql_metric("Scan parquet", "number of output rows") == 1000
    assert w.sql_metric("Scan parquet", "size of files read") == pytest.approx(on_disk, abs=52)
    assert w.sql_metric("MapInPandas", "number of output rows") == 1000
    assert w.sql_metric("MapInPandas", "data sent to Python workers") > 0
    st = w.busiest_stage()
    p50, mx = h.task_quantiles(st, (0.5, 1.0))
    assert 0 <= p50 <= mx


def test_check_rows_counts_missing_errors_and_diffs():
    exp = {"a": ("x",), "b": ("y",), "c": ("z",), "d": ("w",)}
    rows = [("a", None, "x"), ("b", "ValueError: boom", "y"), ("c", None, "q")]
    attempted, failed, examples = check_rows(exp, rows)
    assert (attempted, failed) == (4, 3)  # b errored, c differs, d missing
    assert check_rows(exp, [(k, None, v[0]) for k, v in exp.items()])[:2] == (4, 0)


def test_check_survivors():
    assert check_survivors([1, 2, 3], 10, [(1, 0), (2, 2), (3, 1)])[:2] == (10, 0)
    assert check_survivors([1, 2, 3], 10, [(1, 0), (4, 1)])[:2] == (10, 3)
