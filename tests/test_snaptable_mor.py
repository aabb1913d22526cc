"""Merge-on-read equality deletes (Iceberg v2 semantics) on SnapTable.

The 10^12-doc takedown story: ``delete_keys`` commits the key set as an
equality-delete parquet file in O(|keys|) — no data file is rewritten —
``read()`` anti-joins it against strictly-older data files, and
``compact()`` materializes the deletes back into a clean layout.  These
tests pin the sequence-number semantics (re-appended keys survive),
lineage exactness through materialization, delete-id idempotence across
``compact()``, maintenance integration (expire / orphan GC / fsck), and
the guards (row_count, incremental reads) that keep the pending-delete
state honest.
"""

import os

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession

from hquery_php_spark.sources.snaptable import SnapTable


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("snaptable-mor-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _df(spark, ids):
    return spark.createDataFrame([(i, "v%d" % i) for i in ids], "id int, v string")


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id int")


def test_delete_keys_hides_rows_without_rewriting_files(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(10)), "b0")
    tbl.append(_df(spark, range(10, 20)), "b1")
    before = set(tbl.current_snapshot()["files"])
    snap = tbl.delete_keys(_keys(spark, [3, 7, 15]))
    # merge-on-read: the data file set is UNCHANGED — only a delete file
    # plus the snapshot JSON were written (commit cost O(|keys|))
    assert set(snap["files"]) == before
    assert snap["operation"] == "delete-mor"
    assert len(tbl.pending_deletes()) == 1
    assert tbl.pending_deletes()[0]["n_keys"] == 3
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == [i for i in range(20) if i not in (3, 7, 15)]
    # every data file still exists on disk, untouched
    for f in before:
        assert os.path.exists(os.path.join(str(tmp_path / "t"), f))


def test_reappended_key_survives_older_delete(spark, tmp_path):
    """Iceberg sequence semantics: a delete applies only to data files
    committed strictly BEFORE it — re-adding a deleted key is new data."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(5)), "b0")
    tbl.delete_keys(_keys(spark, [2]))
    tbl.append(_df(spark, [2, 100]), "b1")  # re-adds key 2 after the delete
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 100]  # old 2 gone, new 2 kept
    # and a SECOND delete of the same key removes the re-added row too
    tbl.delete_keys(_keys(spark, [2]))
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == [0, 1, 3, 4, 100]


def test_compact_materializes_deletes_and_restores_exact_counts(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(30)), "b0")
    tbl.append(_df(spark, range(30, 60)), "b1")
    tbl.delete_keys(_keys(spark, [0, 10, 40, 59]))
    with pytest.raises(ValueError, match="pending equality-delete"):
        tbl.row_count()  # live count unknowable without a scan
    want = sorted(r.id for r in tbl.read(spark).collect())
    snap = tbl.compact(spark)
    assert snap is not None and not snap.get("equality_deletes")
    assert tbl.pending_deletes() == []
    assert sorted(r.id for r in tbl.read(spark).collect()) == want
    # lineage reconciled by one negative correction entry → exact again
    assert tbl.row_count() == 56 == tbl.read(spark).count()
    f = tbl.fsck()
    assert f["ok"] and f["pending_deletes"] == 0
    corr = [k for k in tbl.lineage() if k.startswith("__eqdelete_")]
    assert len(corr) == 1 and tbl.lineage()[corr[0]]["n_rows"] == -4


def test_compact_applies_deletes_even_on_single_file(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(8)).coalesce(1), "b0")
    tbl.delete_keys(_keys(spark, [1]))
    # one data file is normally "nothing to compact" — pending deletes
    # force the rewrite that materializes them
    assert tbl.compact(spark) is not None
    assert tbl.pending_deletes() == [] and tbl.row_count() == 7


def test_delete_id_idempotent_for_resumable_jobs(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(6)), "b0")
    s1 = tbl.delete_keys(_keys(spark, [1, 2]), delete_id="takedown-42")
    s2 = tbl.delete_keys(_keys(spark, [1, 2]), delete_id="takedown-42")
    assert s2["snapshot_id"] == s1["snapshot_id"]  # replay was a no-op
    assert len(tbl.pending_deletes()) == 1
    assert tbl.read(spark).count() == 4


def test_delete_id_replay_after_compact_is_noop(spark, tmp_path):
    """A takedown re-submitted after ``--materialize``: compact() has
    folded the delete in and cleared the pending entry, yet the replay
    must still commit nothing — a re-crawled copy of a deleted key
    appended since is new data and survives, and the table keeps exact
    counts."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(6)), "b0")
    tbl.delete_keys(_keys(spark, [3]), delete_id="tk-1")
    tbl.compact(spark)
    tbl.append(_df(spark, [3]), "b1")  # re-crawled id 3
    sid = tbl.current_snapshot()["snapshot_id"]
    snap = tbl.delete_keys(_keys(spark, [3]), delete_id="tk-1")
    assert snap["snapshot_id"] == sid == tbl.current_snapshot()["snapshot_id"]
    assert tbl.pending_deletes() == []
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(range(6))
    assert tbl.row_count() == 6
    # the id survives expiry of every snapshot that held it pending
    tbl.expire_snapshots(keep_last=1)
    tbl.delete_keys(_keys(spark, [3]), delete_id="tk-1")
    assert tbl.current_snapshot()["snapshot_id"] == sid
    assert tbl.read(spark).count() == 6


def test_empty_key_set_commits_nothing(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    s0 = tbl.append(_df(spark, range(4)), "b0")
    s1 = tbl.delete_keys(_keys(spark, []))
    assert s1["snapshot_id"] == s0["snapshot_id"]
    assert tbl.pending_deletes() == []


def test_null_key_and_type_mismatch_rejected(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(4)), "b0")
    with pytest.raises(ValueError, match="NULL"):
        tbl.delete_keys(
            spark.createDataFrame([(1,), (None,)], "id int")
        )
    with pytest.raises(ValueError, match="type mismatch"):
        tbl.delete_keys(spark.createDataFrame([(1,)], "id bigint"))
    with pytest.raises(ValueError, match="not in table"):
        tbl.delete_keys(spark.createDataFrame([(1,)], "nope int"))


def test_time_travel_sees_predelete_rows(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    s0 = tbl.append(_df(spark, range(5)), "b0")
    tbl.delete_keys(_keys(spark, [0, 1]))
    assert tbl.read(spark).count() == 3
    assert tbl.read(spark, snapshot_id=s0["snapshot_id"]).count() == 5


def test_point_read_on_deleted_key_is_empty(spark, tmp_path):
    """Manifest pruning (eq=) composes with the merge: the planned file
    subset is still anti-joined against the delete set."""
    tbl = SnapTable(
        str(tmp_path / "t"), partition_spec=[("id", "bucket", 4)]
    )
    tbl.append(_df(spark, range(40)), "b0")
    tbl.delete_keys(_keys(spark, [17]))
    assert tbl.read(spark, eq=("id", 17)).count() == 0
    assert tbl.read(spark, eq=("id", 18)).count() == 1
    kept, total = tbl.pruned_file_count(eq=("id", 17))
    assert kept < total  # bucket pruning still active under the merge


def test_guards_incremental_over_pending_delete(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    s0 = tbl.append(_df(spark, range(6)), "b0")
    tbl.delete_keys(_keys(spark, [2]))
    # delete-mor is a non-append operation: incremental over it raises
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_incremental(spark, s0["snapshot_id"])
    # ...but an append range BEYOND the delete is incremental as usual,
    # and its new files are not subject to the older delete
    s2 = tbl.current_snapshot()
    tbl.append(_df(spark, [2, 50]), "b1")
    inc = tbl.read_incremental(spark, s2["snapshot_id"])
    assert sorted(r.id for r in inc.collect()) == [2, 50]


def test_expire_reclaims_materialized_delete_files(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(10)), "b0")
    tbl.delete_keys(_keys(spark, [1, 2]))
    dfiles = [f for d in tbl.pending_deletes() for f in d["files"]]
    assert dfiles and all(
        os.path.exists(os.path.join(str(tmp_path / "t"), f)) for f in dfiles
    )
    tbl.compact(spark)
    # pre-compaction snapshots still reference the delete file — expire
    # with history kept must NOT reclaim it
    tbl.expire_snapshots(keep_last=3)
    assert all(
        os.path.exists(os.path.join(str(tmp_path / "t"), f)) for f in dfiles
    )
    # dropping the delete-era snapshots reclaims it
    tbl.expire_snapshots(keep_last=1)
    assert not any(
        os.path.exists(os.path.join(str(tmp_path / "t"), f)) for f in dfiles
    )
    assert tbl.read(spark).count() == 8 and tbl.fsck()["ok"]


def test_fsck_detects_missing_delete_file(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(5)), "b0")
    tbl.delete_keys(_keys(spark, [0]))
    f = tbl.pending_deletes()[0]["files"][0]
    assert tbl.fsck()["ok"] and tbl.fsck()["pending_deletes"] == 1
    os.unlink(os.path.join(str(tmp_path / "t"), f))
    r = tbl.fsck()
    assert not r["ok"] and f in r["missing_files"]


def test_multiple_deletes_and_appends_interleaved(spark, tmp_path):
    """Model-checked interleaving: the read must equal a per-row replay
    of (append | delete) events under sequence semantics."""
    tbl = SnapTable(str(tmp_path / "t"))
    live = {}  # id -> v (keep latest surviving append)
    step = 0

    def do_append(ids):
        nonlocal step
        step += 1
        tbl.append(_df(spark, ids), "b%d" % step)
        for i in ids:
            live[i] = "v%d" % i

    def do_delete(ids):
        tbl.delete_keys(_keys(spark, ids))
        for i in ids:
            live.pop(i, None)

    do_append(range(10))
    do_delete([0, 5])
    do_append([5, 20])  # 5 comes back
    do_delete([9, 20])
    do_append(range(30, 35))
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == sorted(live)
    tbl.compact(spark)
    assert sorted(r.id for r in tbl.read(spark).collect()) == sorted(live)
    assert tbl.row_count() == len(live)
    # appends after materialization keep exact counts
    do_append([99])
    assert tbl.row_count() == len(live)
    assert tbl.fsck()["ok"]


def test_orphan_gc_spares_referenced_delete_dirs(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(5)), "b0")
    tbl.delete_keys(_keys(spark, [3]))
    dfile = tbl.pending_deletes()[0]["files"][0]
    ddir = os.path.join(str(tmp_path / "t"), *dfile.split(os.sep)[:2])
    # age everything past the grace window, then sweep
    past = 1.0
    for root, dirs, files in os.walk(str(tmp_path / "t")):
        for n in dirs + files:
            os.utime(os.path.join(root, n), (past, past))
    tbl.remove_orphans(older_than_s=3600.0)
    assert os.path.isdir(ddir)  # referenced by the current snapshot
    assert tbl.read(spark).count() == 4
