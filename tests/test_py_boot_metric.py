"""What perfbench's ``py.boot_s`` and ``py.run_s`` count, pinned on one
known query: four ``mapInPandas`` tasks that each sleep 1 s, run after
the driver has paused 1 s with the Python workers idle.

* The sleep runs inside the function, so it lands in MapInPandas "time
  to run Python workers" (≈ 4 s summed over the tasks).
* "time to initialize Python workers" does not hold the sleep, but it
  does hold the pause: a reused worker takes its start time as soon as
  its previous task ends (``pyspark/daemon.py`` loops straight back into
  ``worker.main``, which reads the clock before it blocks on the next
  task), so each task's "initialize" is its worker's idle time in the
  pool plus the set-up and the function's unpickling.
* "time to start Python workers" is 0 for a reused worker.

``perfbench/harvest.py`` is imported from its file, read-only."""

import importlib.util
import os
import sys
import time

import pytest

pytest.importorskip("pyspark")

_spec = importlib.util.spec_from_file_location(
    "perfbench_harvest",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "perfbench", "harvest.py"))
harvest = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(harvest)

SLEEP_S = 1.0
PAUSE_S = 1.0
TASKS = 4


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    # a fresh context, so that the idle pool pass 2 draws from is exactly
    # the TASKS workers pass 1 leaves (a session another module left
    # running would bring its own)
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    s = (SparkSession.builder.master("local[%d]" % TASKS).appName("py-boot-metric")
         .config("spark.ui.enabled", "true")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    if s.sparkContext.master != "local[%d]" % TASKS:
        s.stop()
        pytest.skip("got a %s session, not a fresh local[%d] one"
                    % (s.sparkContext.master, TASKS))
    yield s
    s.stop()


def test_task_body_is_run_and_pool_idle_is_init(spark):
    def overlap(batches):
        import time

        time.sleep(0.3)
        yield from batches

    def sleepy(batches):
        import time

        time.sleep(SLEEP_S)
        yield from batches

    df = spark.range(TASKS, numPartitions=TASKS)
    h = harvest.StatusHarvester(spark)
    mark = h.mark()
    # TASKS workers started and left idle in the pool: each task of pass 1
    # holds its worker for a moment, so no worker serves two of them
    df.mapInPandas(overlap, "id long").write.format("noop").mode("overwrite").save()
    time.sleep(PAUSE_S)
    df.mapInPandas(sleepy, "id long").write.format("noop").mode("overwrite").save()
    w = h.since(mark)
    assert len(w.sql) == 2
    measured = harvest.Window(sql=[max(w.sql, key=lambda e: e["id"])])

    def metric(name):
        return measured.sql_metric("MapInPandas", name)

    run = metric("time to run Python workers")
    init = metric("time to initialize Python workers")
    start = metric("time to start Python workers")
    # every task's sleep is in run (the metrics are sums over the tasks)
    assert TASKS * SLEEP_S * 0.95 <= run < TASKS * SLEEP_S + 3.0, (run, init)
    # every worker's idle pause is in init, and no task's sleep is
    assert TASKS * PAUSE_S * 0.95 <= init < TASKS * (PAUSE_S + SLEEP_S), (run, init)
    assert start == 0, start
