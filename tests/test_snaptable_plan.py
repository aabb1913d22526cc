"""Two-level scan planning: manifest-list summaries (Iceberg's
manifest_file partition summaries + column bounds).

The 10^12-row property under test: planning METADATA I/O scales with
the matching subset, not the table.  ``plan_scan`` must (a) skip — not
even load — every manifest shard whose summary proves it holds no
matching file, and (b) return exactly the same planned file set as
inflating every shard and pruning per-file (`_plan_files`), because a
summary may only ever prove non-matches.
"""

import json
import os

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession

from hquery_php_spark.sources.snaptable import SnapTable


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("snaptable-plan-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _df(spark, ids):
    return spark.createDataFrame([(i, "v%d" % i) for i in ids], "id int, v string")


def _range_table(spark, tmp_path, n_batches=8, per=10):
    """One append per disjoint id range — the time-ordered ingest shape
    (each day's batch covers a disjoint key range), which is what
    manifest summaries prune."""
    tbl = SnapTable(str(tmp_path / "t"))
    for b in range(n_batches):
        tbl.append(_df(spark, range(b * per, (b + 1) * per)), "b%02d" % b)
    return tbl


def _full_plan(tbl, **kw):
    """Ground truth: inflate everything, prune per-file."""
    snap = tbl._snapshot_at(kw.pop("snapshot_id", None))
    return tbl._plan_files(
        snap, kw.get("between"), kw.get("partition_where"), kw.get("eq")
    )


PREDICATES = [
    dict(between=("id", 23, 27)),
    dict(between=("id", 0, 9)),
    dict(between=("id", 75, 200)),
    dict(between=("id", 500, 600)),  # nothing
    dict(eq=("id", 41)),
    dict(eq=("id", -5)),
    dict(),  # full scan
]


def test_lazy_plan_equals_full_plan(spark, tmp_path):
    tbl = _range_table(spark, tmp_path)
    for kw in PREDICATES:
        want_files, want_res = _full_plan(tbl, **dict(kw))
        plan = tbl.plan_scan(**kw)
        assert plan["files"] == want_files, kw
        assert plan["residual"] == want_res, kw
        assert plan["files_total"] == len(tbl.current_snapshot()["files"])
        assert plan["files_kept"] == len(want_files)


def test_point_lookup_loads_one_manifest_shard(spark, tmp_path):
    tbl = _range_table(spark, tmp_path, n_batches=8)
    st = tbl.plan_scan(eq=("id", 41))
    assert st["manifests_total"] == 8
    assert st["manifests_loaded"] == 1  # only batch b04's shard read
    assert st["files_kept"] >= 1
    # the planned read is still row-exact
    assert [r.v for r in tbl.read(spark, eq=("id", 41)).collect()] == ["v41"]
    # a provably-empty range loads NOTHING
    st0 = tbl.plan_scan(between=("id", 5000, 6000))
    assert st0["manifests_loaded"] == 0 and st0["files_kept"] == 0
    assert tbl.read(spark, between=("id", 5000, 6000)).count() == 0


def test_summary_prunes_on_identity_partition(spark, tmp_path):
    tbl = SnapTable(
        str(tmp_path / "t"), partition_spec=[("v", "identity", None)]
    )
    for b, host in enumerate(["a.com", "b.com", "c.com"]):
        df = spark.createDataFrame(
            [(b * 10 + i, host) for i in range(5)], "id int, v string"
        )
        tbl.append(df, "b%d" % b)
    st = tbl.plan_scan(partition_where={"p_v": "b.com"})
    assert st["manifests_total"] == 3 and st["manifests_loaded"] == 1
    got = tbl.read(spark, partition_where={"p_v": "b.com"}).collect()
    assert sorted(r.id for r in got) == [10, 11, 12, 13, 14]


def test_missing_summary_falls_back_to_loading(spark, tmp_path):
    """A snapshot whose summaries were stripped (legacy commit shape)
    must load every shard and still plan the identical file set."""
    tbl = _range_table(spark, tmp_path, n_batches=4)
    cur = tbl._raw_current()
    ref_path = os.path.join(tbl.snap_dir, "snap-%08d.json" % cur["snapshot_id"])
    cur.pop("manifest_summaries", None)
    with open(ref_path, "w") as f:
        json.dump(cur, f)
    tbl2 = SnapTable(tbl.path)  # fresh cache
    want_files, _ = _full_plan(tbl2, between=("id", 12, 17))
    plan = tbl2.plan_scan(between=("id", 12, 17))
    assert plan["files"] == want_files
    assert plan["manifests_loaded"] == plan["manifests_total"] == 4


def test_summaries_survive_reuse_delete_and_compact(spark, tmp_path):
    tbl = _range_table(spark, tmp_path, n_batches=4)

    def _all_summarized(t):
        raw = t._raw_current()
        sums = raw.get("manifest_summaries", {})
        assert set(sums) == set(raw["manifests"])
        for ref, s in sums.items():
            assert s["n"] == len(t._load_manifest(ref)["files"])

    _all_summarized(tbl)
    # delete_keys re-points every manifest (reuse path) — summaries carry
    keys = spark.createDataFrame([(12,)], "id int")
    tbl.delete_keys(keys)
    _all_summarized(tbl)
    # planning still prunes AND the merge still applies to planned files
    assert tbl.read(spark, eq=("id", 12)).count() == 0
    assert tbl.read(spark, eq=("id", 13)).count() == 1
    st = tbl.plan_scan(eq=("id", 13))
    assert st["manifests_loaded"] == 1
    # compact materializes the delete and rebuilds one summarized manifest
    tbl.compact(spark, min_files=1)
    _all_summarized(tbl)
    assert len(tbl._raw_current()["manifests"]) == 1
    assert tbl.read(spark).count() == 4 * 10 - 1
    assert tbl.read(spark, eq=("id", 31)).count() == 1


def test_plan_after_schema_evolution(spark, tmp_path):
    tbl = _range_table(spark, tmp_path, n_batches=2)
    wide = spark.createDataFrame(
        [(100 + i, "w%d" % i, float(i)) for i in range(5)],
        "id int, v string, score double",
    )
    tbl.append(wide, "b-wide", allow_evolution=True)
    st = tbl.plan_scan(between=("id", 100, 104))
    assert st["manifests_total"] == 3 and st["manifests_loaded"] == 1
    got = tbl.read(spark, between=("id", 100, 104)).collect()
    assert sorted(r.score for r in got) == [0.0, 1.0, 2.0, 3.0, 4.0]
    # pre-evolution rows read NULL for the new column on the full scan
    assert tbl.read(spark).where("score IS NULL").count() == 20


def test_append_never_reads_parent_manifests(spark, tmp_path, monkeypatch):
    """The commit-side O(1) property: an append from a COLD process
    (empty manifest cache) must not load a single parent manifest shard
    — parent refs and summaries are carried verbatim from the snapshot
    JSON.  At 10^12 rows this is the difference between a daily-ingest
    commit reading two small JSONs and re-reading the whole manifest
    list."""
    tbl = _range_table(spark, tmp_path, n_batches=6)
    tbl2 = SnapTable(tbl.path)  # fresh writer — nothing cached
    loads = []
    orig = SnapTable._load_manifest
    monkeypatch.setattr(
        SnapTable,
        "_load_manifest",
        lambda self, ref: (loads.append(ref), orig(self, ref))[1],
    )
    tbl2.append(_df(spark, range(100, 110)), "b-new")
    assert loads == []
    raw = tbl2._raw_current()
    assert len(raw["manifests"]) == 7
    assert set(raw["manifest_summaries"]) == set(raw["manifests"])
    assert tbl2.read(spark).count() == 70
    # the new shard's summary immediately serves manifest-level pruning
    st = tbl2.plan_scan(eq=("id", 105))
    assert st["manifests_loaded"] == 1


def test_incremental_read_loads_only_delta_shards(spark, tmp_path, monkeypatch):
    """Changelog consumption is O(delta) metadata too: the added files
    are exactly the manifest refs new since the watermark, so a daily
    consumer of a 10^12-row table never loads the corpus's shards."""
    tbl = _range_table(spark, tmp_path, n_batches=5)
    sid = tbl._raw_current()["snapshot_id"]
    tbl.append(_df(spark, range(50, 60)), "b-d1")
    tbl.append(_df(spark, range(60, 70)), "b-d2")
    cold = SnapTable(tbl.path)
    loads = []
    orig = SnapTable._load_manifest
    monkeypatch.setattr(
        SnapTable,
        "_load_manifest",
        lambda self, ref: (loads.append(ref), orig(self, ref))[1],
    )
    got = cold.read_incremental(spark, sid)
    assert sorted(r.id for r in got.collect()) == list(range(50, 70))
    assert len(set(loads)) == 2  # the two delta shards, nothing else


def test_time_travel_plan(spark, tmp_path):
    tbl = _range_table(spark, tmp_path, n_batches=3)
    sid = tbl.current_snapshot()["snapshot_id"]
    tbl.append(_df(spark, range(30, 40)), "b-late")
    plan = tbl.plan_scan(snapshot_id=sid, between=("id", 0, 100))
    assert plan["manifests_total"] == 3  # the late batch is invisible
    assert len(plan["files"]) == plan["files_kept"]
    assert tbl.read(spark, snapshot_id=sid).count() == 30
    with pytest.raises(ValueError, match="no snapshot"):
        tbl.plan_scan(snapshot_id=999)
