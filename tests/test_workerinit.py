"""The zipimport guard (``hquery_php_spark._workerinit``): an unchanged
archive is not re-read by ``importlib.invalidate_caches()``, a rewritten
one is, a deleted one behaves as under the stock method — and in a Spark
worker, once a task's set-up has run through the guard, the next task
re-reads no zip directory during its own set-up."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import hquery_php_spark  # noqa: F401  (installs the guard)
from hquery_php_spark import _workerinit


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(name + ".py", body)


@pytest.fixture
def reads(monkeypatch):
    seen = []
    read = zipimport._read_directory

    def counted(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "guarded.zip")
    _write_zip(path, {"wi_guard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for m in ("wi_guard_a", "wi_guard_b"):
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    _workerinit._read_at.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, reads):
    import wi_guard_a

    assert wi_guard_a.X == 1
    del reads[:]
    importlib.invalidate_caches()  # the first guarded call reads
    assert reads.count(archive) == 1
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive, reads):
    import wi_guard_a  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(archive, {"wi_guard_a": "X = 1\n", "wi_guard_b": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import wi_guard_b

    assert wi_guard_b.Y == 2


def test_deleted_archive_behaves_as_stock(archive, reads):
    import wi_guard_a  # noqa: F401

    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()  # raises nothing
    # the stock method's outcome: no directory, nothing cached
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    _write_zip(archive, {"wi_guard_a": "X = 1\n"})
    importlib.invalidate_caches()
    assert "wi_guard_a.py" in importer._files


def test_task_after_first_guarded_setup_rereads_nothing(tmp_path):
    """Spark reuses the worker.  The task after the one that imported the
    package runs the first guarded set-up, which reads each archive once;
    the task after that must read no zip directory during its own set-up
    (which ends in ``importlib.invalidate_caches()``).  The shipped
    ``--py-files`` zip makes sure the worker holds a zipimporter wherever
    pyspark itself is installed."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    # a session another module left running would hand out its own pool
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    shipped = str(tmp_path / "wi_shipped.zip")
    _write_zip(shipped, {"wi_shipped_mod": "Z = 3\n"})
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("workerinit-test")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        if spark.sparkContext.master != "local[1]":
            pytest.skip("got a %s session, not a fresh local[1] one"
                        % spark.sparkContext.master)
        spark.sparkContext.addPyFile(shipped)

        def first(batches):
            import os

            import pandas as pd

            import hquery_php_spark  # noqa: F401  (installs the guard)
            import wi_shipped_mod  # noqa: F401

            for _ in batches:
                pass
            yield pd.DataFrame({"pid": [os.getpid()]})

        def second(batches):
            import os
            import zipimport

            import pandas as pd

            for _ in batches:
                pass
            # count every directory read from here on, into the next task
            seen = []
            read = zipimport._read_directory

            def counted(path):
                seen.append(path)
                return read(path)

            zipimport._read_directory = counted
            zipimport._wi_test_reads = seen
            yield pd.DataFrame({"pid": [os.getpid()]})

        def third(batches):
            import os
            import sys
            import zipimport

            import pandas as pd

            from hquery_php_spark import _workerinit

            reads = list(zipimport._wi_test_reads)
            n_zip = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
            guarded = zipimport.zipimporter.invalidate_caches is _workerinit.invalidate_caches
            for _ in batches:
                pass
            yield pd.DataFrame({"pid": [os.getpid()], "guarded": [guarded],
                                "reads": [len(reads)], "n_zip": [n_zip]})

        one = spark.range(1, numPartitions=1)
        (a,) = one.mapInPandas(first, "pid long").collect()
        (b,) = one.mapInPandas(second, "pid long").collect()
        (c,) = one.mapInPandas(
            third, "pid long, guarded boolean, reads long, n_zip long").collect()
    finally:
        spark.stop()
    assert a.pid == b.pid == c.pid, "the tasks ran in more than one worker"
    assert c.guarded
    assert c.n_zip >= 1
    assert c.reads == 0
