#!/usr/bin/env python
"""Fixed per-task cost of a Python task, read from Spark's SQL metrics.

Starts a local[4] session, imports the engine in every Python worker
(the state every extraction job reaches after its first batch), then
times ``PASSES`` no-op 4-task ``mapInPandas`` passes over
``spark.range``.  Each pass does no work in Python, so what it costs is
the per-task overhead: launching the task, the worker's set-up
(``pyspark.worker_util.setup_spark_files``), unpickling the function and
the Arrow round trip.  Printed, each as median [min-max] over the
passes:

* ``pass_wall_s``  — the pass, driver side;
* ``init_s``       — MapInPandas "time to initialize Python workers"
  per task: the worker's idle time since its previous task (here the
  scheduling gap between two back-to-back passes), its set-up and the
  function's unpickling;
* ``run_s``        — MapInPandas "time to run Python workers" per task.

Run from the repository root:

    python tools/py_task_overhead.py

Reads the status store with ``perfbench/harvest.py`` (imported, not
changed).  Run it alone on the machine: the figures are walls.
"""

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TASKS = 4
PASSES = 10


def _import_engine(batches):
    import hquery_php_spark.operators.pipeline  # noqa: F401

    yield from batches


def _noop(batches):
    yield from batches


def band(xs):
    return "%.3f [%.3f-%.3f]" % (statistics.median(xs), min(xs), max(xs))


def main() -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from harvest import StatusHarvester, Window
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[%d]" % TASKS).appName("py-task-overhead")
             .config("spark.ui.enabled", "true")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        h = StatusHarvester(spark)
        df = spark.range(TASKS, numPartitions=TASKS)
        # every pass back to back, harvested once after the last: a reused
        # worker's "initialize" starts when its previous task ends, so a
        # driver-side pause between passes would land in it
        mark = h.mark()
        df.mapInPandas(_import_engine, "id long").write.format("noop").mode("overwrite").save()
        walls = []
        for _ in range(PASSES):
            t = time.perf_counter()
            df.mapInPandas(_noop, "id long").write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
        execs = sorted(h.since(mark).sql, key=lambda e: e["id"])[1:]
        assert len(execs) == PASSES, len(execs)
        init, run = [], []
        for ex in execs:
            one = Window(sql=[ex])
            init.append(one.sql_metric("MapInPandas", "time to initialize Python workers") / TASKS)
            run.append(one.sql_metric("MapInPandas", "time to run Python workers") / TASKS)
    finally:
        spark.stop()
    print("py_task_overhead: %d no-op passes of %d tasks, median [min-max]" % (PASSES, TASKS))
    print("  pass_wall_s        %s" % band(walls))
    print("  init_s per task    %s" % band(init))
    print("  run_s per task     %s" % band(run))
    return 0


if __name__ == "__main__":
    sys.exit(main())
