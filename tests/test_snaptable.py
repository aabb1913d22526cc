"""Snapshot-manifest table (snaptable) + batched manifest-resume ingest.

North-rule leg: "per-partition lineage/metrics checkpointed to Iceberg
so the job resumes idempotently" — these tests pin the commit protocol
(atomic snapshot visibility, idempotent batch append, optimistic CAS)
and the O(#batches) resume of ``batched_extract`` (kill after k of B
batches, re-run completes the remainder, third run is a no-op).
"""

import json
import os

import pytest

pyspark = pytest.importorskip("pyspark")

import pandas as pd
from pyspark.sql import SparkSession

from hquery_php_spark.sources.ingest import batched_extract, plan_file_batches
from hquery_php_spark.sources.snaptable import SnapTable


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("snaptable-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _df(spark, ids):
    return spark.createDataFrame([(i, "v%d" % i) for i in ids], "id int, v string")


def test_append_read_roundtrip_and_lineage(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    assert tbl.read(spark) is None
    assert tbl.committed_batches() == set()
    snap = tbl.append(_df(spark, range(5)), "b0", lineage={"src": "unit"})
    assert snap["snapshot_id"] == 1 and snap["parent"] is None
    assert tbl.committed_batches() == {"b0"}
    lin = tbl.lineage()["b0"]
    assert lin["n_rows"] == 5 and lin["src"] == "unit" and lin["n_files"] >= 1
    got = tbl.read(spark).orderBy("id").collect()
    assert [r.id for r in got] == list(range(5))


def test_uncommitted_staging_is_invisible(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(3)), "b0")
    # simulate a job that died after staging, before its snapshot commit
    orphan = os.path.join(tbl.data_dir, "b-dead-beef")
    _df(spark, range(100, 110)).write.parquet(orphan)
    assert tbl.read(spark).count() == 3  # orphan never read
    assert tbl.committed_batches() == {"b0"}


def test_idempotent_append_same_batch_id(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    s1 = tbl.append(_df(spark, range(4)), "b0")
    s2 = tbl.append(_df(spark, range(4)), "b0")  # replay — must be a no-op
    assert s2["snapshot_id"] == s1["snapshot_id"] == 1
    assert tbl.read(spark).count() == 4
    assert len(tbl.snapshots()) == 1


def test_commit_cas_loses_race_then_retries(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    snap = tbl.append(_df(spark, range(2)), "b0")
    # the EEXIST arm: sequence 1 is taken, _try_commit must refuse
    assert tbl._try_commit(1, snap) is False
    # a full append against the occupied log lands at sequence 2
    s2 = tbl.append(_df(spark, range(2, 4)), "b1")
    assert s2["snapshot_id"] == 2 and s2["parent"] == 1
    assert tbl.read(spark).count() == 4


def test_schema_mismatch_raises(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(2)), "b0")
    bad = spark.createDataFrame([(1.5, "x")], "id double, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        tbl.append(bad, "b1")


def test_time_travel_and_cumulative_manifest(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(3)), "b0")
    tbl.append(_df(spark, range(3, 8)), "b1")
    assert tbl.read(spark).count() == 8
    assert tbl.read(spark, snapshot_id=1).count() == 3
    with pytest.raises(ValueError, match="no snapshot"):
        tbl.read(spark, snapshot_id=9)
    # resume reads ONE manifest, never the data: latest snapshot carries
    # the cumulative batch set
    latest = json.load(
        open(os.path.join(tbl.snap_dir, "snap-%08d.json" % 2))
    )
    assert latest["batch_ids"] == ["b0", "b1"]


def test_committed_batches_without_touching_data(spark, tmp_path):
    import shutil

    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(3)), "b0")
    shutil.rmtree(tbl.data_dir)  # manifest alone answers the resume question
    assert tbl.committed_batches() == {"b0"}


def test_plan_file_batches_deterministic_and_even():
    files = ["f%02d" % i for i in range(10)]
    g = plan_file_batches(list(reversed(files)), 4)
    assert g == plan_file_batches(files, 4)  # order-blind
    assert sorted(sum(g, [])) == files
    sizes = sorted(len(x) for x in g)
    assert sizes[-1] - sizes[0] <= 1
    assert len(plan_file_batches(files[:2], 8)) == 2  # capped at #files


N_DOCS = 240


def _write_docs(spark, path):
    pdf = pd.DataFrame(
        {
            "doc_id": ["d%04d" % i for i in range(N_DOCS)],
            "html": [
                '<html><body><div id="x%d">'
                % i
                + "".join('<span class="w">t%d</span>' % j for j in range(8))
                + '<a href="/p/%d">go</a></div></body></html>' % i
                for i in range(N_DOCS)
            ],
        }
    )
    spark.createDataFrame(pdf).repartition(6).write.parquet(path)


def test_batched_extract_kill_resume_noop(spark, tmp_path):
    inp = str(tmp_path / "docs")
    _write_docs(spark, inp)
    out = str(tmp_path / "spans_tbl")
    metrics = str(tmp_path / "metrics")

    # "killed" first run: only 1 of 3 batches commits
    s1 = batched_extract(
        spark, inp, out, batches=3, max_batches=1, partitions=4,
        metrics_path=metrics,
    )
    assert s1 == {"ran": 1, "skipped": 0, "total": 3}
    tbl = SnapTable(out)
    part = tbl.read(spark).count()
    assert 0 < part < N_DOCS

    # resume completes the remainder without re-running batch 0
    s2 = batched_extract(
        spark, inp, out, batches=3, partitions=4, metrics_path=metrics
    )
    assert s2 == {"ran": 2, "skipped": 1, "total": 3}
    got = tbl.read(spark)
    ids = [r.doc_id for r in got.select("doc_id").collect()]
    assert sorted(ids) == ["d%04d" % i for i in range(N_DOCS)]  # no dupes

    # third submit: pure no-op, no new snapshots
    n_snaps = len(tbl.snapshots())
    s3 = batched_extract(spark, inp, out, batches=3, partitions=4)
    assert s3 == {"ran": 0, "skipped": 3, "total": 3}
    assert len(tbl.snapshots()) == n_snaps

    # per-batch lineage covers the corpus; metrics sidecar tagged by batch
    assert sum(l["n_rows"] for l in tbl.lineage().values()) == N_DOCS
    assert tbl.row_count() == N_DOCS  # manifest-answered COUNT(*)
    m = spark.read.parquet(metrics)
    assert set(r.batch_id for r in m.select("batch_id").distinct().collect()) == {
        "b00000-of-00003", "b00001-of-00003", "b00002-of-00003",
    }
    assert m.groupBy().sum("n_docs").collect()[0][0] == N_DOCS

    # a resume planned with a different batch count must refuse
    with pytest.raises(ValueError, match="--batches"):
        batched_extract(spark, inp, out, batches=2, partitions=4)


def test_batched_extract_matches_direct_extraction(spark, tmp_path):
    from hquery_php_spark.operators.pipeline import extract_spans_df

    inp = str(tmp_path / "docs")
    _write_docs(spark, inp)
    out = str(tmp_path / "tbl")
    batched_extract(spark, inp, out, batches=4, partitions=4)
    via_tbl = SnapTable(out).read(spark)
    direct = extract_spans_df(spark.read.parquet(inp), base_url_col=None)
    a = {(r.doc_id, str(r.spans)) for r in via_tbl.select("doc_id", "spans").collect()}
    b = {(r.doc_id, str(r.spans)) for r in direct.select("doc_id", "spans").collect()}
    assert a == b


def test_compact_then_expire_reclaims_small_files(spark, tmp_path):
    import time as _t

    tbl = SnapTable(str(tmp_path / "t"))
    for b in range(4):  # 4 batches × multiple part files → small-file debris
        tbl.append(_df(spark, range(b * 10, b * 10 + 10)).repartition(3), "b%d" % b)
    pre = tbl.current_snapshot()
    assert len(pre["files"]) >= 8

    snap = tbl.compact(spark, target_file_bytes=1 << 30)  # everything → 1 file
    assert snap is not None and len(snap["files"]) == 1
    assert snap["compaction_of"] == pre["snapshot_id"]
    # resume state survives compaction
    assert tbl.committed_batches() == {"b0", "b1", "b2", "b3"}
    assert tbl.append(_df(spark, range(99)), "b2")["snapshot_id"] == snap["snapshot_id"]
    got = tbl.read(spark)
    assert got.count() == 40
    assert [r.id for r in got.orderBy("id").collect()] == list(range(40))
    # time travel to a pre-compaction snapshot still works pre-expiry
    assert tbl.read(spark, snapshot_id=2).count() == 20

    # expire: old manifests go, files referenced only by them are deleted
    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["snapshots_dropped"] == 4 and stats["files_deleted"] >= 8
    assert len(tbl.snapshots()) == 1
    assert tbl.read(spark).count() == 40  # current view intact
    with pytest.raises(ValueError, match="no snapshot"):
        tbl.read(spark, snapshot_id=2)

    # orphan GC: unreferenced staging (crashed writer) is removed only
    # past the grace window
    orphan = os.path.join(tbl.data_dir, "b-dead-1234")
    _df(spark, range(3)).write.parquet(orphan)
    assert tbl.remove_orphans(older_than_s=3600) == 0  # too young — kept
    assert os.path.isdir(orphan)
    _t.sleep(0.01)
    assert tbl.remove_orphans(older_than_s=0.0) == 1
    assert not os.path.isdir(orphan)
    assert tbl.read(spark).count() == 40


def test_compact_noop_cases(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    assert tbl.compact(spark) is None  # empty table
    tbl.append(_df(spark, range(5)).coalesce(1), "b0")
    assert tbl.compact(spark) is None  # single file — below min_files


def test_manifest_stats_file_skipping(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    # three single-file batches with disjoint id ranges
    for b, lo in enumerate((0, 100, 200)):
        tbl.append(_df(spark, range(lo, lo + 50)).coalesce(1), "b%d" % b)
    snap = tbl.current_snapshot()
    assert len(snap["files"]) == 3
    assert all(f in snap["file_stats"] for f in snap["files"])

    # a point/range lookup plans only the file that can contain it
    assert tbl.pruned_file_count(("id", 120, 130)) == (1, 3)
    assert tbl.pruned_file_count(("id", 60, 99)) == (0, 3)  # gap → zero files
    assert tbl.pruned_file_count(("id", 0, 300)) == (3, 3)

    got = tbl.read(spark, between=("id", 120, 130)).orderBy("id").collect()
    assert [r.id for r in got] == list(range(120, 131))
    assert tbl.read(spark, between=("id", 60, 99)).count() == 0
    # row-level predicate still applied inside a kept file
    got = tbl.read(spark, between=("id", 205, 207)).collect()
    assert sorted(r.id for r in got) == [205, 206, 207]
    # stats on the string column work too (footer byte-stats decode);
    # lexicographic ranges overlap more than numeric ones ("v100" sorts
    # inside b0's [v0, v9]), so only b2 [v200, v249] is prunable here
    assert tbl.pruned_file_count(("v", "v100", "v100")) == (2, 3)


def test_compaction_recomputes_file_stats(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    for b, lo in enumerate((0, 1000)):
        tbl.append(_df(spark, range(lo, lo + 20)).coalesce(1), "b%d" % b)
    snap = tbl.compact(spark, target_file_bytes=1 << 30)
    assert len(snap["files"]) == 1
    # stats describe the NEW file, not the replaced ones
    assert set(snap["file_stats"]) == set(snap["files"])
    assert tbl.pruned_file_count(("id", 5, 5)) == (1, 1)
    assert tbl.pruned_file_count(("id", 2000, 3000)) == (0, 1)
    assert tbl.read(spark, between=("id", 990, 1005)).count() == 6


def test_additive_schema_evolution(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(3)), "b0")
    wide = spark.createDataFrame(
        [(i, "v%d" % i, i * 10) for i in range(3, 6)],
        "id int, v string, score int",
    )
    # strict default refuses the extra column
    with pytest.raises(ValueError, match="schema mismatch"):
        tbl.append(wide, "b1")
    tbl.append(wide, "b1", allow_evolution=True)

    got = tbl.read(spark).orderBy("id")
    assert got.columns == ["id", "v", "score"]  # stable manifest order
    rows = got.collect()
    # pre-evolution files read as NULL for the added column
    assert [r.score for r in rows] == [None, None, None, 30, 40, 50]

    # time travel reads with the schema AS OF that snapshot
    assert tbl.read(spark, snapshot_id=1).columns == ["id", "v"]

    # writers must carry the full current schema afterwards
    with pytest.raises(ValueError, match="schema mismatch"):
        tbl.append(_df(spark, range(9, 12)), "b2")
    # dropping/re-typing is never evolution
    bad = spark.createDataFrame(
        [(1.0, "x", 1, "y")], "id double, v string, score int, z string"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        tbl.append(bad, "b2", allow_evolution=True)


def test_fsck_detects_missing_and_mismatched_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(10)).coalesce(1), "b0")
    tbl.append(_df(spark, range(10, 30)).coalesce(1), "b1")
    assert tbl.fsck() == {
        "ok": True,
        "missing_files": [],
        "batch_mismatches": [],
        "pending_deletes": 0,
    }

    snap = tbl.current_snapshot()
    f0, f1 = snap["files"]
    # silent data corruption: a manifest-listed file loses rows
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int32()), "v": ["x"]}),
        os.path.join(tbl.path, f1),
    )
    r = tbl.fsck()
    assert not r["ok"] and r["batch_mismatches"][0]["expected"] == 20

    # a manifest-listed file disappears
    os.unlink(os.path.join(tbl.path, f0))
    r = tbl.fsck()
    assert r["missing_files"] == [f0]

    # compacted table: per-batch layout is gone, total still checked
    tbl2 = SnapTable(str(tmp_path / "t2"))
    tbl2.append(_df(spark, range(5)).coalesce(1), "b0")
    tbl2.append(_df(spark, range(5, 9)).coalesce(1), "b1")
    tbl2.compact(spark, target_file_bytes=1 << 30)
    assert tbl2.fsck()["ok"]
    cf = tbl2.current_snapshot()["files"][0]
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int32()), "v": ["x"]}),
        os.path.join(tbl2.path, cf),
    )
    r2 = tbl2.fsck()
    assert not r2["ok"] and r2["batch_mismatches"][0]["batch"] == "__total__"


def test_randomized_ops_match_model(spark, tmp_path):
    """Model-based soak: a random interleaving of append / replay /
    compact / expire must always leave read() equal to the model (the
    dict of committed batches), batch set monotone, fsck green."""
    import random

    rng = random.Random(0xC0FFEE)
    tbl = SnapTable(str(tmp_path / "t"))
    model = {}  # batch_id -> list of ids
    next_lo = 0
    for step in range(24):
        op = rng.choice(["append", "append", "append", "replay", "compact", "expire"])
        if op == "append" or (op == "replay" and not model):
            bid = "b%03d" % len(model)
            n = rng.randint(1, 12)
            ids = list(range(next_lo, next_lo + n))
            next_lo += n
            tbl.append(_df(spark, ids).coalesce(rng.randint(1, 2)), bid)
            model[bid] = ids
        elif op == "replay":
            bid = rng.choice(sorted(model))  # duplicate delivery of a
            tbl.append(_df(spark, model[bid]), bid)  # committed batch
        elif op == "compact":
            tbl.compact(spark, target_file_bytes=1 << 30)
        elif op == "expire":
            tbl.expire_snapshots(keep_last=1)
        got = sorted(r.id for r in tbl.read(spark).collect()) if model else None
        want = sorted(i for ids in model.values() for i in ids) if model else None
        assert got == want, (step, op)
        assert tbl.committed_batches() == set(model)
        f = tbl.fsck()
        assert f["ok"], (step, op, f)


def test_concurrent_appends_both_commit(spark, tmp_path):
    """Two writers committing different batches at the same time: the
    loser of each CAS retries and lands on the next sequence — both
    batches end up in the table exactly once."""
    import threading

    tbl = SnapTable(str(tmp_path / "t"))
    errs = []

    def _writer(bid, lo):
        try:
            for k in range(3):
                tbl.append(_df(spark, range(lo + k * 10, lo + k * 10 + 10)),
                           "%s-%d" % (bid, k))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=_writer, args=("w%d" % w, w * 100))
          for w in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert tbl.committed_batches() == {
        "w0-0", "w0-1", "w0-2", "w1-0", "w1-1", "w1-2"}
    got = sorted(r.id for r in tbl.read(spark).collect())
    want = sorted(list(range(0, 30)) + list(range(100, 130)))
    assert got == want
    assert len(tbl.snapshots()) == 6  # one commit per batch, no clobbers
    assert tbl.fsck()["ok"]


def test_fsck_ok_after_compact_then_append(spark, tmp_path):
    """Regression: append() must carry the compacted layout forward so
    fsck keeps using total reconciliation — the per-batch branch would
    falsely flag every pre-compaction batch (rows now live in compact-*
    dirs invisible to b-* attribution)."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(10)), "b0")
    tbl.append(_df(spark, range(10, 30)), "b1")
    tbl.compact(spark, target_file_bytes=1 << 30)
    tbl.append(_df(spark, range(30, 35)), "b2")
    assert tbl.current_snapshot()["layout"] == "compacted"
    r = tbl.fsck()
    assert r == {
        "ok": True,
        "missing_files": [],
        "batch_mismatches": [],
        "pending_deletes": 0,
    }
    assert tbl.read(spark).count() == 35 == tbl.row_count()


def test_append_lost_race_revalidates_schema(spark, tmp_path):
    """Regression: a writer that loses the CAS must re-validate its
    schema decision against the WINNER's snapshot — the stale decision
    would commit a wrong (or never-validated) table schema."""
    tbl = SnapTable(str(tmp_path / "t"))
    orig = tbl._try_commit
    fired = []

    def race(seq, snap):
        if not fired:
            fired.append(True)  # a competing writer lands first commit
            SnapTable(tbl.path).append(_df(spark, range(3)), "winner")
        return orig(seq, snap)

    tbl._try_commit = race
    bad = spark.createDataFrame([(1.5, "x")], "id double, v string")
    # table was EMPTY at entry (no upfront check possible); after losing
    # the race the retry must validate against the winner's schema
    with pytest.raises(ValueError, match="schema mismatch"):
        tbl.append(bad, "loser")
    assert tbl.committed_batches() == {"winner"}
    assert [f.name for f in tbl.read(spark).schema.fields] == ["id", "v"]


# ----------------------------------------------------------------------
# hidden partitioning (identity / bucket / truncate transforms)


def _docs(spark, n, hosts=("a.com", "b.com", "c.com")):
    rows = [(i, hosts[i % len(hosts)], "d%04d" % i) for i in range(n)]
    return spark.createDataFrame(rows, "id int, host string, doc_id string")


def test_partition_identity_hidden_and_pruned(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"), partition_spec=[("host", "identity")])
    tbl.append(_docs(spark, 30), "b0")
    tbl.append(_docs(spark, 30), "b1")
    # hidden: readers see exactly the declared schema, no transform cols
    df = tbl.read(spark)
    assert [f.name for f in df.schema.fields] == ["id", "host", "doc_id"]
    assert df.count() == 60
    # exact partition pruning: only a.com's files are planned
    kept, total = tbl.pruned_file_count(partition_where={"p_host": "a.com"})
    assert 0 < kept < total
    got = tbl.read(spark, partition_where={"p_host": "a.com"})
    assert got.count() == 20 and got.select("host").distinct().collect()[0][0] == "a.com"
    # value-list form
    kept2, _ = tbl.pruned_file_count(partition_where={"p_host": ["a.com", "b.com"]})
    assert kept < kept2 < total


def test_partition_bucket_point_lookup(spark, tmp_path):
    n_buckets = 8
    tbl = SnapTable(
        str(tmp_path / "t"), partition_spec=[("doc_id", "bucket", n_buckets)]
    )
    tbl.append(_docs(spark, 200), "b0")
    snap = tbl.current_snapshot()
    total = len(snap["files"])
    # a point lookup plans only the key's bucket — exactly the files the
    # manifest attributes to it — with no Spark job spent deciding
    import zlib

    want = str(zlib.crc32(b"d0042") % n_buckets)
    in_bucket = sum(
        1 for pv in snap["file_partitions"].values()
        if pv["p_doc_id_b%d" % n_buckets] == want
    )
    assert 0 < in_bucket < total
    # bucket pruning alone keeps exactly the manifest-attributed files —
    # and the driver-side bucket (zlib.crc32) matches the writer's
    assert tbl.pruned_file_count(partition_where={
        "p_doc_id_b%d" % n_buckets: int(want)
    }) == (in_bucket, total)
    # the eq point path stacks footer-stats pruning on top
    kept, tot = tbl.pruned_file_count(eq=("doc_id", "d0042"))
    assert tot == total and 0 < kept <= in_bucket
    got = tbl.read(spark, eq=("doc_id", "d0042")).collect()
    assert len(got) == 1 and got[0]["id"] == 42
    # a missing key reads zero rows but still prunes to one bucket
    assert tbl.read(spark, eq=("doc_id", "nope")).count() == 0


def test_partition_truncate_string_and_int(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"), partition_spec=[("doc_id", "truncate", 2)])
    df = spark.createDataFrame(
        [("aa1", 1), ("aa2", 2), ("zz9", 3)], "doc_id string, x int"
    )
    tbl.append(df, "b0")
    kept, total = tbl.pruned_file_count(partition_where={"p_doc_id_t2": "aa"})
    assert kept < total
    assert tbl.read(spark, partition_where={"p_doc_id_t2": "aa"}).count() == 2
    # integer truncate: floor to multiples (negatives round DOWN)
    tbl2 = SnapTable(str(tmp_path / "t2"), partition_spec=[("x", "truncate", 10)])
    tbl2.append(
        spark.createDataFrame([(-15,), (-5,), (5,), (15,)], "x int"), "b0"
    )
    parts = {
        v
        for p in tbl2.current_snapshot()["file_partitions"].values()
        for v in p.values()
    }
    assert parts == {"-20", "-10", "0", "10"}
    assert tbl2.read(spark, partition_where={"p_x_t10": -20}).collect()[0][0] == -15


def test_partition_spec_mismatch_and_collision(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"), partition_spec=[("host", "identity")])
    tbl.append(_docs(spark, 9), "b0")
    # conflicting ctor spec on an existing table fails loudly
    with pytest.raises(ValueError, match="partition spec mismatch"):
        SnapTable(str(tmp_path / "t"), partition_spec=[("host", "bucket", 4)]).append(
            _docs(spark, 3), "b1"
        )
    # spec-less handle writes with the TABLE's spec (manifest wins)
    tbl2 = SnapTable(str(tmp_path / "t"))
    tbl2.append(_docs(spark, 9), "b1")
    assert tbl2.pruned_file_count(partition_where={"p_host": "a.com"})[0] > 0
    # a df column colliding with the transform name is rejected
    bad = _docs(spark, 3).withColumnRenamed("id", "p_host")
    with pytest.raises(ValueError, match="collides"):
        SnapTable(str(tmp_path / "t3"), partition_spec=[("host", "identity")]).append(
            bad, "b0"
        )


def test_partitioned_compact_preserves_pruning_and_fsck(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"), partition_spec=[("host", "identity")])
    for b in range(4):
        tbl.append(_docs(spark, 30), "b%d" % b)
    before = tbl.pruned_file_count(partition_where={"p_host": "a.com"})
    assert tbl.compact(spark, target_file_bytes=1 << 30) is not None
    kept, total = tbl.pruned_file_count(partition_where={"p_host": "a.com"})
    assert total < before[1] and kept < total  # fewer files, still pruned
    got = tbl.read(spark, partition_where={"p_host": "a.com"})
    assert got.count() == 40
    assert tbl.read(spark).count() == 120 == tbl.row_count()
    assert tbl.fsck()["ok"]
    # expiry reclaims the pre-compaction partition dirs completely
    tbl.expire_snapshots(keep_last=1)
    left = {
        d for d in os.listdir(tbl.data_dir) if not d.startswith("compact-")
    }
    assert left == set()
    assert tbl.read(spark).count() == 120 and tbl.fsck()["ok"]


def test_randomized_partitioned_soak_with_deletes(spark, tmp_path):
    """Model-based soak over the operations jobs make — append / replay /
    delete_keys (with delete-id replays) / compact / expire — on a
    partitioned table.  After every step read() equals the model,
    partition pruning stays exact over rewritten file sets and fsck is
    green; row_count() is manifest-exact whenever no delete is pending
    and raises while one is."""
    import random

    rng = random.Random(0x5EED7)
    tbl = SnapTable(str(tmp_path / "t"), partition_spec=[("id", "truncate", 10)])
    model = {}  # batch_id -> ids appended by it
    live = set()  # ids visible to read()
    deletes = {}  # delete_id -> ids it removed when first committed
    next_lo = 0
    n_batches = 0
    replays_after_compact = 0
    for step in range(30):
        op = rng.choice(
            ["append", "append", "reappend", "replay", "delete", "redelete",
             "compact", "expire"]
        )
        if op in ("append", "reappend") or not model:
            bid = "b%03d" % n_batches
            n_batches += 1
            ids = set(range(next_lo, next_lo + rng.randint(1, 12)))
            next_lo += len(ids)
            gone = set().union(*model.values()) - live
            if op == "reappend" and gone:
                # a re-crawled copy of a deleted id is new data: it
                # survives every delete committed before it
                ids |= set(rng.sample(sorted(gone), min(3, len(gone))))
            tbl.append(_df(spark, sorted(ids)), bid)
            model[bid] = ids
            live |= ids
        elif op == "replay":
            bid = rng.choice(sorted(model))
            tbl.append(_df(spark, sorted(model[bid])), bid)
        elif op == "delete" or (op == "redelete" and not deletes):
            did = "d%03d" % len(deletes)
            keys = set(rng.sample(range(next_lo), min(4, next_lo)))
            tbl.delete_keys(
                spark.createDataFrame([(i,) for i in sorted(keys)], "id int"),
                delete_id=did,
            )
            deletes[did] = keys
            live -= keys
        elif op == "redelete":
            # a resubmitted takedown: a no-op whether its delete is still
            # pending or compact() has materialized it
            did = rng.choice(sorted(deletes))
            pending = {d.get("delete_id") for d in tbl.pending_deletes()}
            replays_after_compact += did not in pending
            sid = tbl.current_snapshot()["snapshot_id"]
            tbl.delete_keys(
                spark.createDataFrame(
                    [(i,) for i in sorted(deletes[did])], "id int"
                ),
                delete_id=did,
            )
            assert tbl.current_snapshot()["snapshot_id"] == sid, (step, did)
        elif op == "compact":
            tbl.compact(spark, target_file_bytes=1 << 30)
        elif op == "expire":
            tbl.expire_snapshots(keep_last=1)
        want = sorted(live)
        got = sorted(r.id for r in tbl.read(spark).collect())
        assert got == want, (step, op)
        if tbl.pending_deletes():
            with pytest.raises(ValueError, match="pending equality-delete"):
                tbl.row_count()
        else:
            assert tbl.row_count() == len(want), (step, op)
        assert tbl.committed_batches() == set(model)
        if want:  # partition pruning stays exact over rewrites
            v = rng.choice(want) // 10 * 10
            in_part = sorted(i for i in want if i // 10 * 10 == v)
            got_p = sorted(
                r.id
                for r in tbl.read(
                    spark, partition_where={"p_id_t10": v}
                ).collect()
            )
            assert got_p == in_part, (step, op, v)
        f = tbl.fsck()
        assert f["ok"], (step, op, f)
    # the seed exercises the replay of a delete compact() materialized
    assert replays_after_compact >= 1


# ----------------------------------------------------------------------
# incremental (changelog) reads


def test_read_incremental_append_range(spark, tmp_path):
    """(after, to] over pure appends returns exactly the added rows;
    after=0 is the whole table; after==to is empty with the table
    schema."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(5)), "b0")          # snapshot 1
    tbl.append(_df(spark, range(5, 8)), "b1")       # snapshot 2
    tbl.append(_df(spark, range(8, 12)), "b2")      # snapshot 3
    got = tbl.read_incremental(spark, 1).orderBy("id").collect()
    assert [r.id for r in got] == list(range(5, 12))
    # bounded upper endpoint
    got = tbl.read_incremental(spark, 1, to_snapshot_id=2).collect()
    assert sorted(r.id for r in got) == [5, 6, 7]
    # whole table / empty delta
    assert tbl.read_incremental(spark, 0).count() == 12
    empty = tbl.read_incremental(spark, 3)
    assert empty.count() == 0
    assert empty.schema == tbl.read(spark).schema
    # a replayed (idempotent, no-op) append adds no delta rows
    tbl.append(_df(spark, range(5, 8)), "b1")
    assert tbl.read_incremental(spark, 3).count() == 0


def test_read_incremental_rejects_nonappend_range(spark, tmp_path):
    """Any delete or compact inside the range makes rows-added
    undefined -> ValueError — including a batch appended and then
    deleted from WITHIN the range (endpoint file sets alone look
    consistent there; the chain walk catches it).  A later pure-append
    range is fine again; an expired snapshot in the range fails
    loudly."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(5)), "b0")           # 1
    tbl.append(_df(spark, range(5, 8)), "b1")        # 2
    tbl.delete_keys(spark.createDataFrame([(6,)], "id int"))  # 3
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_incremental(spark, 2)
    tbl.append(_df(spark, range(8, 10)), "b2")       # 4
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_incremental(spark, 1, 4)
    # range strictly after the delete is append-only again
    got = tbl.read_incremental(spark, 3, 4).collect()
    assert sorted(r.id for r in got) == [8, 9]
    tbl.compact(spark)                               # 5
    with pytest.raises(ValueError, match="non-append"):
        tbl.read_incremental(spark, 4, 5)
    tbl.append(_df(spark, range(10, 12)), "b3")      # 6
    tbl.expire_snapshots(keep_last=2)                # drops 1..4
    assert sorted(
        r.id for r in tbl.read_incremental(spark, 5, 6).collect()
    ) == [10, 11]
    with pytest.raises(ValueError, match="no snapshot"):
        tbl.read_incremental(spark, 2)  # expired endpoint fails loudly


def test_read_incremental_pruning_and_evolution(spark, tmp_path):
    """The delta scan lists only the files appended in the range — the
    manifest delta prunes every older file before the scan — and reads
    with the TO-snapshot schema (pre-evolution files in the delta
    surface NULL for later-added columns)."""
    from urllib.parse import unquote, urlparse

    tbl = SnapTable(
        str(tmp_path / "t"), partition_spec=[("id", "bucket", 4)]
    )
    tbl.append(_df(spark, range(8)), "b0")           # 1
    tbl.append(_df(spark, range(8, 16)), "b1")       # 2
    ev = spark.createDataFrame(
        [(i, "v%d" % i, i * 10) for i in range(16, 20)],
        "id int, v string, extra int",
    )
    tbl.append(ev, "b2", allow_evolution=True)       # 3
    old = set(tbl._snapshot_at(1)["files"])
    delta = set(tbl.current_snapshot()["files"]) - old
    rows_df = tbl.read_incremental(spark, 1)
    scanned = {
        os.path.relpath(unquote(urlparse(f).path), tbl.path)
        for f in rows_df.inputFiles()
    }
    assert scanned == delta and not scanned & old
    # evolution: b1 files (pre-evolution) are in the delta and read NULL
    rows = rows_df.orderBy("id").collect()
    assert [r.id for r in rows] == list(range(8, 20))
    assert all(r.extra is None for r in rows if r.id < 16)
    assert all(r.extra == r.id * 10 for r in rows if r.id >= 16)


def test_sharded_manifests_commit_cost_is_per_batch(spark, tmp_path):
    """Iceberg snapshot/manifest split: each append writes exactly ONE
    new manifest file and re-points the parent's untouched ones, so the
    snapshot JSON carries no file lists (commit I/O ∝ batch, not table);
    a delete writes no manifest and a compaction replaces the list with
    one; expiry and orphan GC reclaim dead/unreferenced manifests."""
    tbl = SnapTable(str(tmp_path / "t"))
    for k in range(4):
        tbl.append(_df(spark, range(k * 5, k * 5 + 5)), "b%d" % k)
    raws = [
        json.load(open(os.path.join(tbl.snap_dir, f)))
        for f in sorted(os.listdir(tbl.snap_dir))
        if f.startswith("snap-")
    ]
    for i, raw in enumerate(raws):
        assert "files" not in raw and "file_stats" not in raw
        assert len(raw["manifests"]) == i + 1  # one new manifest per append
        if i:  # parent's manifests reused verbatim
            assert raw["manifests"][: i] == raws[i - 1]["manifests"]
    # inflation reconstructs the full view
    snap = tbl.current_snapshot()
    assert len(snap["files"]) >= 4 and tbl.read(spark).count() == 20
    assert set(snap["file_stats"]) == set(snap["files"])

    # a merge-on-read delete re-points every manifest and writes none;
    # compaction replaces the whole list with its one rewrite manifest
    before = _raw(tbl, 4)["manifests"]
    tbl.delete_keys(spark.createDataFrame([(7,)], "id int"))
    assert _raw(tbl, 5)["manifests"] == before
    tbl.compact(spark)
    (rewritten,) = _raw(tbl, 6)["manifests"]
    assert rewritten not in before
    assert tbl.read(spark).count() == 19
    assert tbl.fsck()["ok"]

    # expiry drops manifests referenced only by dropped snapshots
    all_mfs = lambda: {
        f for f in os.listdir(tbl.snap_dir) if f.startswith("mf-")
    }
    tbl.expire_snapshots(keep_last=1)
    assert all_mfs() == {rewritten}
    assert tbl.read(spark).count() == 19

    # lost-CAS manifest (written, never referenced) is orphan-GC'd
    stray = os.path.join(tbl.snap_dir, "mf-99999999-deadbeef.json")
    json.dump({"files": []}, open(stray, "w"))
    os.utime(stray, (1, 1))
    assert tbl.remove_orphans(older_than_s=60) >= 1
    assert not os.path.exists(stray)
    assert tbl.fsck()["ok"]


# ----------------------------------------------------------------------
# one snapshot format, one commit path


_SNAP_KEYS = {
    "snapshot_id", "parent", "operation", "schema", "layout", "manifests",
    "manifest_summaries", "batch_ids", "lineage", "committed_at",
    "partition_spec",
}
_MANIFEST_KEYS = {"files", "file_stats", "file_seq", "file_partitions"}


def _raw(tbl, sid):
    return json.load(open(os.path.join(tbl.snap_dir, "snap-%08d.json" % sid)))


def _new_manifests(tbl, sid):
    """Manifests snapshot ``sid`` references that its parent did not."""
    prior = set(_raw(tbl, sid - 1)["manifests"]) if sid > 1 else set()
    return [
        json.load(open(os.path.join(tbl.snap_dir, r)))
        for r in _raw(tbl, sid)["manifests"]
        if r not in prior
    ]


def test_commit_kinds_write_pinned_snapshot_and_manifest_keys(spark, tmp_path):
    """Every commit kind — append, delete_keys ("delete-mor") and
    compact — writes the same manifest-sharded format: a light snapshot
    JSON (no per-file maps) with exactly these keys, and at most one new
    manifest with exactly these keys."""
    tbl = SnapTable(str(tmp_path / "t"), partition_spec=[("id", "bucket", 4)])
    wide = "id int, v string, score double"

    tbl.append(_df(spark, range(10)), "b0")  # 1: append creating a spec
    tbl.append(  # 2: append with additive evolution
        spark.createDataFrame([(i, "w", 1.0) for i in range(10, 20)], wide),
        "b1",
        allow_evolution=True,
    )
    tbl.delete_keys(  # 3
        spark.createDataFrame([(12,)], "id int"), delete_id="d1"
    )
    tbl.compact(spark, min_files=1)  # 4
    tbl.append(  # 5
        spark.createDataFrame([(i, "z", 3.0) for i in range(30, 34)], wide), "b2"
    )
    want = {
        1: ("append", _SNAP_KEYS, 1),
        2: ("append", _SNAP_KEYS, 1),
        3: ("delete-mor", _SNAP_KEYS | {"equality_deletes"}, 0),
        4: ("compact", _SNAP_KEYS | {"compaction_of", "materialized_delete_ids"}, 1),
        5: ("append", _SNAP_KEYS | {"materialized_delete_ids"}, 1),
    }
    for sid, (op, keys, n_new) in want.items():
        raw = _raw(tbl, sid)
        assert raw["operation"] == op, sid
        assert set(raw) == keys, (sid, sorted(set(raw) ^ keys))
        assert set(raw["manifest_summaries"]) == set(raw["manifests"]), sid
        new = _new_manifests(tbl, sid)
        assert len(new) == n_new, sid
        for m in new:
            assert set(m) == _MANIFEST_KEYS, (sid, sorted(m))
            assert set(m["file_seq"]) == set(m["files"]) == set(m["file_partitions"])
            assert set(m["file_seq"].values()) == {sid}
    # appends and delete_keys re-point every parent manifest verbatim
    for sid in (2, 3, 5):
        prev = _raw(tbl, sid - 1)
        assert _raw(tbl, sid)["manifests"][: len(prev["manifests"])] == prev["manifests"]
        assert all(
            _raw(tbl, sid)["manifest_summaries"][r] == prev["manifest_summaries"][r]
            for r in prev["manifests"]
        )
    # compact keeps no parent manifest: its list is its one rewrite
    assert len(_raw(tbl, 4)["manifests"]) == 1
    assert _raw(tbl, 5)["materialized_delete_ids"] == ["d1"]
    assert tbl.read(spark).count() == 10 + 10 - 1 + 4
    assert tbl.fsck()["ok"]


def test_snapshot_without_manifests_is_rejected(spark, tmp_path):
    """A snapshot JSON that lists its files inline (no manifest list) is
    not a format this table reads: every entry point fails loudly."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(_df(spark, range(3)), "b0")
    inline = {
        **_raw(tbl, 1),
        "snapshot_id": 2,
        "parent": 1,
        "files": tbl.current_snapshot()["files"],
    }
    del inline["manifests"]
    json.dump(inline, open(os.path.join(tbl.snap_dir, "snap-%08d.json" % 2), "w"))
    cold = SnapTable(tbl.path)
    for call in (
        cold.current_snapshot,
        cold.committed_batches,
        cold.snapshots,
        lambda: cold.read(spark),
        lambda: cold.read_incremental(spark, 1),
        lambda: cold.append(_df(spark, range(3, 5)), "b1"),
    ):
        with pytest.raises(ValueError, match="no manifest list"):
            call()
    # earlier snapshots stay readable by id
    assert cold.read(spark, snapshot_id=1).count() == 3


def test_try_commit_has_one_caller():
    """Commit metadata has one writer: the snapshot CAS is reached from
    exactly one function."""
    import ast

    import hquery_php_spark.sources.snaptable as mod

    tree = ast.parse(open(mod.__file__).read())
    callers = set()
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "_try_commit"
                ):
                    callers.add(fn.name)
    assert callers == {"_commit"}
