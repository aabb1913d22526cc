"""Incremental curate/pack over snapshot tables + growing-input ingest.

The delta-consumption contract: each run's cost follows NEW data (spans
read_incremental + ledger probes), outputs commit with watermark batch
ids, crashes repair, and the kept set equals keep-first-arrival
semantics across runs.
"""

import os
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession

from hquery_php_spark.operators.curate import CurateOptions
from hquery_php_spark.operators.incremental_pipeline import (
    PipelineTables,
    curate_increment,
    pack_increment,
)
from hquery_php_spark.sources.snaptable import SnapTable


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("incr-pipeline-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


_SPANS_SCHEMA = (
    "doc_id string, spans array<struct"
    "<kind:string,text:string,media_ref:string,offset:int>>"
)

# each passes the Gopher gate at min_words=10 (>=10 words, mean word
# length in [3,10], >=2 stopwords, >=80% alphabetic words) and the
# texts are pairwise DISTANT under the curation near-dup metric
# (character 5-shingles, shingle_k=5) — one-word variants would all be
# near-dups of each other at jaccard ~0.92
_TEXT = {
    "alpha": "the sun rises over quiet hills and farmers walk their "
             "fields checking young crops before breakfast while birds "
             "gather seeds near the wooden fence",
    "beta": "a modern compiler turns source code into machine words and "
            "the optimizer removes wasted steps so that programs finish "
            "their work faster",
    "gamma": "ocean currents move warm water toward the poles and this "
             "steady flow shapes weather patterns that sailors have "
             "tracked for many centuries",
    "delta": "the museum opened a new wing with paintings from several "
             "schools and visitors lined the marble halls to study each "
             "canvas in detail",
    "epsilon": "careful bakers measure flour and water with a scale "
               "because small errors change how the dough rises and the "
               "crust forms in the oven",
}
_BASE = (  # distinct-subject filler for the ingest tests
    "the quick brown fox jumps over and around the lazy dog while "
    "reading careful notes about subject %s with many different words "
    "that keep this document varied enough for every quality gate"
)
_JUNK = "zz top %s"  # fails the gate: too short, no stopword pair


def _spans_df(spark, rows):
    """rows: list[(doc_id, text)] -> one-text-span interleaved docs."""
    return spark.createDataFrame(
        [(i, [("text", t, None, 0)]) for i, t in rows], _SPANS_SCHEMA
    )


def _opts(near=True):
    return CurateOptions(
        id_col="doc_id", text_col="main_text", domain_col=None,
        min_words=10, near_dup=near,
    )


def test_two_run_incremental_keep_first_arrival(spark, tmp_path):
    t = PipelineTables(str(tmp_path))
    # run 1: 3 unique good docs, 1 within-batch exact dup, 1 junk doc
    t.spans.append(
        _spans_df(
            spark,
            [
                ("a1", _TEXT["alpha"]),
                ("a2", _TEXT["beta"]),
                ("a3", _TEXT["gamma"]),
                ("a4", _TEXT["alpha"]),  # exact dup of a1 (keep-min-id)
                ("a5", _JUNK % "one"),   # quality-gated out
            ],
        ),
        "s0",
    )
    r1 = curate_increment(spark, t, opts=_opts(), params={"v": 1})
    assert not r1["skipped"] and (r1["from"], r1["upto"]) == (0, 1)
    kept1 = {r.doc_id for r in t.curated.read(spark).collect()}
    assert kept1 == {"a1", "a2", "a3"}
    assert r1["kept"] == 3
    # ledgers committed for the run
    assert t.ledger_fp.committed_batches() == {"upto-1"}
    assert t.ledger_bands.committed_batches() == {"upto-1"}
    p1 = pack_increment(spark, t, max_tokens=64, n_shards=2)
    assert not p1["skipped"] and p1["rows"] > 0

    # run 2: cross-run exact dup, cross-run near dup, 1 new good doc
    t.spans.append(
        _spans_df(
            spark,
            [
                ("b1", _TEXT["beta"]),  # exact dup of kept a2 -> dropped
                ("b2", _TEXT["gamma"] + " plus a small extra tail"),
                # ^ near dup of kept a3 -> LSH band hit -> dropped
                ("b3", _TEXT["delta"]),  # genuinely new -> kept
            ],
        ),
        "s1",
    )
    r2 = curate_increment(spark, t, opts=_opts(), params={"v": 1})
    assert not r2["skipped"] and (r2["from"], r2["upto"]) == (1, 2)
    rows = {r.doc_id: r for r in t.curated.read(spark).collect()}
    assert set(rows) == {"a1", "a2", "a3", "b3"}
    # pos continues densely across runs (offset = prior row_count)
    assert sorted(r.pos for r in rows.values()) == [0, 1, 2, 3]
    assert rows["b3"].pos == 3
    p2 = pack_increment(spark, t, max_tokens=64, n_shards=2)
    assert not p2["skipped"] and p2["rows"] > 0

    # run 3: nothing new anywhere -> all no-ops, no new snapshots
    n_snaps = (
        len(t.curated.snapshots()),
        len(t.packs.snapshots()),
        len(t.ledger_fp.snapshots()),
    )
    r3 = curate_increment(spark, t, opts=_opts(), params={"v": 1})
    p3 = pack_increment(spark, t, max_tokens=64, n_shards=2)
    assert r3["skipped"] and p3["skipped"]
    assert n_snaps == (
        len(t.curated.snapshots()),
        len(t.packs.snapshots()),
        len(t.ledger_fp.snapshots()),
    )
    # packs cover exactly the kept docs, once each across both runs
    packed = t.packs.read(spark).groupBy("doc_id").count().collect()
    assert {r.doc_id for r in packed} == {"a1", "a2", "a3", "b3"}
    assert all(r["count"] == 1 for r in packed)


def test_ledger_repair_after_crash_between_commits(spark, tmp_path):
    """Kill between the curated commit and the ledger appends: the next
    run rebuilds the ledger rows from the committed curated batch, and
    cross-run dedup still drops the duplicate."""
    t = PipelineTables(str(tmp_path))
    t.spans.append(
        _spans_df(spark, [("a1", _TEXT["alpha"]), ("a2", _TEXT["beta"])]),
        "s0",
    )
    curate_increment(spark, t, opts=_opts())
    # simulate the crash: ledgers never committed
    shutil.rmtree(t.ledger_fp.path)
    shutil.rmtree(t.ledger_bands.path)
    assert t.ledger_fp.current_snapshot() is None

    t.spans.append(
        _spans_df(
            spark,
            [("b1", _TEXT["alpha"]), ("b2", _TEXT["epsilon"])],
        ),
        "s1",
    )
    r = curate_increment(spark, t, opts=_opts())
    assert not r["skipped"]
    # repair reinstated upto-1 before the delta was screened
    assert t.ledger_fp.committed_batches() == {"upto-1", "upto-2"}
    kept = {r_.doc_id for r_ in t.curated.read(spark).collect()}
    assert kept == {"a1", "a2", "b2"}  # b1 caught by the repaired ledger


def test_mode_mixing_refused(spark, tmp_path):
    t = PipelineTables(str(tmp_path))
    t.spans.append(_spans_df(spark, [("a1", _TEXT["alpha"])]), "s0")
    t.curated.append(
        spark.createDataFrame(
            [("a1", 0, 5)], "doc_id string, pos long, n_tokens long"
        ),
        "curate-all",
    )
    with pytest.raises(ValueError, match="full"):
        curate_increment(spark, t, opts=_opts())
    t2 = PipelineTables(str(tmp_path / "other"))
    t2.spans.append(_spans_df(spark, [("a1", _TEXT["alpha"])]), "s0")
    t2.packs.append(
        spark.createDataFrame([(0, 0)], "pack_no long, shard long"),
        "pack-all",
    )
    t2.curated.append(
        spark.createDataFrame(
            [("a1", 0, 5)], "doc_id string, pos long, n_tokens long"
        ),
        "curate-upto-1",
        lineage={"from_snapshot": 0, "upto_snapshot": 1, "params": {}},
    )
    with pytest.raises(ValueError, match="full mode"):
        pack_increment(spark, t2)


@pytest.mark.parametrize(
    "stamp",
    [
        # what a ledger built with the engine-specific hash family records
        {"num_perm": 32, "shingle_k": 5, "bands": 8, "portable": False},
        # same family, different MinHash operating point
        {"num_perm": 16, "shingle_k": 5, "bands": 8, "portable": True},
    ],
    ids=["other-family", "other-num_perm"],
)
def test_band_ledger_with_other_params_refused(spark, tmp_path, stamp):
    """A band ledger stamped with another hash family or operating point
    would silently never match this run's probes: curate_increment
    refuses it before probing."""
    from hquery_php_spark.operators.incremental import (
        ledger_band_keys,
        ledger_fingerprints,
    )

    t = PipelineTables(str(tmp_path))
    kept = spark.createDataFrame(
        [("a1", _TEXT["alpha"])], "doc_id string, main_text string"
    )
    t.ledger_fp.append(ledger_fingerprints(kept, text_col="main_text"), "upto-0")
    t.ledger_bands.append(
        ledger_band_keys(kept, text_col="main_text"),
        "upto-0",
        lineage={"band_params": stamp},
    )
    t.spans.append(_spans_df(spark, [("b1", _TEXT["beta"])]), "s0")
    with pytest.raises(ValueError, match="band ledger"):
        curate_increment(spark, t, opts=_opts())


def test_incremental_extract_growing_input(spark, tmp_path):
    """New parquet files landing under the same input path are ingested
    exactly once per run; old files are never re-read; vanished files
    fail loudly."""
    import pandas as pd

    from hquery_php_spark.sources.ingest import incremental_extract

    inp = str(tmp_path / "docs")
    os.makedirs(inp)

    def _drop(name, ids):
        pd.DataFrame(
            {
                "doc_id": ["d%03d" % i for i in ids],
                "html": [
                    "<html><body><p>%s</p></body></html>" % (_BASE % i)
                    for i in ids
                ],
            }
        ).to_parquet(os.path.join(inp, name))

    out = str(tmp_path / "spans")
    _drop("day0-a.parquet", range(0, 4))
    _drop("day0-b.parquet", range(4, 8))
    s1 = incremental_extract(spark, inp, out, batches=2)
    assert s1 == {"ran": 2, "skipped": 0, "total": 2}
    tbl = SnapTable(out)
    assert tbl.row_count() == 8

    # re-run with nothing new: pure no-op
    s2 = incremental_extract(spark, inp, out, batches=2)
    assert s2 == {"ran": 0, "skipped": 2, "total": 2}
    assert len(tbl.snapshots()) == 2

    # day 1 drop: only the new file is planned (and scanned)
    _drop("day1-a.parquet", range(8, 12))
    s3 = incremental_extract(spark, inp, out, batches=2)
    assert s3 == {"ran": 1, "skipped": 2, "total": 3}
    ids = sorted(r.doc_id for r in tbl.read(spark).select("doc_id").collect())
    assert ids == ["d%03d" % i for i in range(12)]  # once each, no dupes
    new_batch = [b for b in tbl.committed_batches() if b.startswith("d-")]
    assert len(new_batch) == 3
    lin = tbl.lineage()
    day1 = [
        l for l in lin.values()
        if any("day1-a" in f for f in l["inputs"])
    ]
    assert len(day1) == 1 and day1[0]["input_files"] == 1

    # the delta reaches downstream through read_incremental
    assert sorted(
        r.doc_id
        for r in tbl.read_incremental(spark, 2).select("doc_id").collect()
    ) == ["d%03d" % i for i in range(8, 12)]

    # a previously ingested file vanishing is input mutation -> loud
    os.remove(os.path.join(inp, "day0-a.parquet"))
    with pytest.raises(ValueError, match="vanished"):
        incremental_extract(spark, inp, out, batches=2)


def test_incremental_and_fixed_plan_modes_do_not_mix(spark, tmp_path):
    import pandas as pd

    from hquery_php_spark.sources.ingest import (
        batched_extract,
        incremental_extract,
    )

    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    pd.DataFrame(
        {"doc_id": ["d1"], "html": ["<p>%s</p>" % (_BASE % 1)]}
    ).to_parquet(os.path.join(inp, "a.parquet"))
    out = str(tmp_path / "spans")
    incremental_extract(spark, inp, out, batches=1)
    with pytest.raises(ValueError, match="incremental"):
        batched_extract(spark, inp, out, batches=1)


def test_compact_ledger_reopens_taken_down_content(spark):
    """After a takedown, compaction must (a) unblock re-ingestion of
    the removed content, (b) keep blocking duplicates of retained
    content — including shared-content keys (same text backing both a
    removed and a retained doc)."""
    from hquery_php_spark.operators.incremental import (
        compact_ledger,
        incremental_dedup_exact,
        ledger_fingerprints,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha text one"),
            (2, "bravo text two"),
            (3, "charlie shared text"),
            (4, "charlie shared text"),  # same content as doc 3
        ],
        "doc_id long, text string",
    )
    ledger = ledger_fingerprints(corpus)

    probe = spark.createDataFrame(
        [
            (10, "bravo text two"),       # dup of removed doc 2
            (11, "charlie shared text"),  # dup of retained doc 3
            (12, "delta brand new"),
        ],
        "doc_id long, text string",
    )
    before = {r["keep_id"] for r in
              incremental_dedup_exact(probe, ledger).collect()}
    assert before == {12}  # everything ledgered blocks

    # takedown: docs 2 and 4 removed; 1 and 3 retained
    removed = corpus.where("doc_id IN (2, 4)")
    retained = corpus.where("doc_id IN (1, 3)")
    compacted = compact_ledger(
        ledger,
        dead=ledger_fingerprints(removed),
        retained=ledger_fingerprints(retained),
    )
    after = {r["keep_id"] for r in
             incremental_dedup_exact(probe, compacted).collect()}
    # doc-2 content is re-ingestable; doc-3/4 shared content still blocks
    assert after == {10, 12}

    # equivalence pin: compaction == rebuild from the retained corpus
    rebuilt = {r["fp"] for r in ledger_fingerprints(retained).collect()}
    got = {r["fp"] for r in compacted.collect()}
    assert got == rebuilt


def test_compact_ledger_near_band_keys(spark):
    """Same contract for the (band, bucket) near-dup ledger: compaction
    on the composite key preserves the screening anti-join semantics."""
    from hquery_php_spark.operators.incremental import (
        compact_ledger,
        incremental_dedup_near,
        ledger_band_keys,
    )

    base = "the quick brown fox jumps over the lazy dog number"
    corpus = spark.createDataFrame(
        [(1, f"{base} one two three four"), (2, f"totally different words "
                                               "entirely here and more of them now")],
        "doc_id long, text string",
    )
    ledger = ledger_band_keys(corpus)
    probe = spark.createDataFrame(
        [(10, f"{base} one two three four"),  # near-dup of doc 1
         (11, "unrelated fresh content with many novel tokens inside")],
        "doc_id long, text string",
    )
    before = {r["id"] for r in incremental_dedup_near(probe, ledger).collect()}
    assert before == {11}

    removed = corpus.where("doc_id = 1")
    retained = corpus.where("doc_id = 2")
    compacted = compact_ledger(
        ledger,
        dead=ledger_band_keys(removed),
        retained=ledger_band_keys(retained),
        key_cols=("band", "bucket"),
    )
    after = {r["id"] for r in incremental_dedup_near(probe, compacted).collect()}
    assert after == {10, 11}  # doc-1 content re-ingestable
    rebuilt = {(r["band"], r["bucket"])
               for r in ledger_band_keys(retained).collect()}
    got = {(r["band"], r["bucket"]) for r in compacted.collect()}
    assert got == rebuilt


def test_compact_ledger_probe_stays_delta_sized(spark, tmp_path):
    """Compaction committed through write_ledger_bucketed restores the
    bucketed at-rest layout: the post-compaction probe plan still has
    exactly one Exchange (the batch side) — per-probe cost ∝ delta."""
    from hquery_php_spark.operators.incremental import (
        compact_ledger,
        ledger_fingerprints,
        write_ledger_bucketed,
    )

    corpus = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(50)],
        "doc_id long, text string",
    )
    ledger = ledger_fingerprints(corpus)
    dead = ledger_fingerprints(corpus.where("doc_id % 5 = 0"))
    compacted = compact_ledger(ledger, dead)
    tbl = "compact_ledger_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    write_ledger_bucketed(
        compacted, tbl, n_buckets=8, path=str(tmp_path / "led")
    )
    probe = spark.createDataFrame(
        [(100, "document number 5 body text"), (101, "fresh content")],
        "doc_id long, text string",
    )
    from hquery_php_spark.operators.incremental import incremental_dedup_exact

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = incremental_dedup_exact(probe, spark.table(tbl))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # both Exchanges are batch-side (partial-agg + join alignment);
        # the corpus-sized ledger streams straight from its buckets
        assert plan.count("Exchange") == 2, plan
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan, plan
        ledger_leaf = plan[plan.rindex("Sort [") :]
        assert "Exchange" not in ledger_leaf, plan
        assert {r["keep_id"] for r in out.collect()} == {100, 101}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
