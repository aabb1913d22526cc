"""spark-submit-level tests of the packaged jobs in jobs/: each job is
submitted (north rule: ``spark-submit --py-files``), killed or stopped
part-way, and re-submitted; the final output must equal one clean run —
every doc exactly once, zero duplicates — and a further submit must be
a no-op.

The in-process resume cycle is covered in test_spark.py and
test_snaptable.py; these exercise the real process boundary: leftover
staging dirs, manifest and ledger resume after a SIGKILL, and the
--py-files packaging path.
"""

import os
import shutil
import subprocess
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_curate_job_submit_and_resume(tmp_path):
    """Packaged curation job via spark-submit: one run curates the
    corpus (dedup removes the planted exact+near dupes, positions are
    dense); a second submit is a no-op (resume anti-join leaves zero
    rows to process, including the empty-input path through the
    near-dup/components legs)."""
    base = "the quick brown fox and the lazy dog jumps over with grace "
    rows = []
    for i in range(200):
        if i % 7 == 0 and i > 0:
            txt = rows[i - 1][1]              # exact dup of previous
        else:
            txt = (base * 3) + f"tail{i} marker{i * 17}"
        rows.append((i, txt, f"s{i % 4}"))
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    inp = str(tmp_path / "docs.parquet")
    docs.to_parquet(inp)
    out = str(tmp_path / "curated")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")
    cmd = [
        "spark-submit", "--master", "local[4]", "--py-files", zipf,
        os.path.join(REPO, "jobs", "curate_job.py"),
        "--input", inp, "--output", out,
        "--min-words", "3", "--jaccard-threshold", "0.9",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    subprocess.run(cmd, check=True, capture_output=True, env=env, timeout=600)
    got = duckdb.sql(f"SELECT * FROM '{out}/*.parquet'").df()
    n1 = len(got)
    assert 0 < n1 < 200                       # dupes actually removed
    assert sorted(got["pos"]) == list(range(n1))
    assert set(got.columns) >= {"doc_id", "source", "text", "n_tokens", "pos"}
    # near-identical tails are CLOSE but distinct; exact dups must be gone
    assert got["doc_id"].nunique() == n1
    subprocess.run(cmd, check=True, capture_output=True, env=env, timeout=600)
    n2 = duckdb.sql(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n2 == n1


def _spans_table(ids):
    """North-rule spans rows: text span + (i % 3) media spans, plus two
    planted oversize docs (huge text / media wall)."""
    rows = []
    for i in ids:
        spans = [
            {"kind": "text",
             "text": " ".join(f"w{i}x{j}" for j in range(8 + i % 30)),
             "media_ref": None, "offset": 0}
        ] + [
            {"kind": "media", "text": "", "media_ref": f"m{i}_{j}.png",
             "offset": 10 + j}
            for j in range(i % 3)
        ]
        rows.append({"doc_id": f"d{i}", "spans": spans})
    return rows


def test_pack_job_submit_resume_and_increment(tmp_path):
    """Packaged batch-assembly job via spark-submit: one run packs the
    spans table into ≤max-token shards (oversize flagged -1), a second
    submit is a no-op, and an INCREMENTAL batch appends packs offset
    past each shard's committed maximum — never colliding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _spans_table(range(150))
    rows.append({"doc_id": "huge", "spans": [
        {"kind": "text", "text": " ".join(f"t{j}" for j in range(500)),
         "media_ref": None, "offset": 0}]})
    rows.append({"doc_id": "wall", "spans": [
        {"kind": "media", "text": "", "media_ref": f"w{j}.png",
         "offset": j} for j in range(5)]})
    inp = str(tmp_path / "spans.parquet")
    pq.write_table(pa.Table.from_pylist(rows), inp)
    out = str(tmp_path / "packs")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO,
                               "hquery_php_spark")
    MAX = 256
    cmd = [
        "spark-submit", "--master", "local[4]", "--py-files", zipf,
        os.path.join(REPO, "jobs", "pack_job.py"),
        "--input", inp, "--output", out,
        "--max-tokens", str(MAX), "--media-token-cost", "64",
        "--shards", "4",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    subprocess.run(cmd, check=True, capture_output=True, env=env, timeout=600)
    got = duckdb.sql(
        f"SELECT * FROM read_parquet('{out}/*/*.parquet', "
        f"hive_partitioning=true)").df()
    assert len(got) == 152 and got["doc_id"].nunique() == 152
    over = got.set_index("doc_id")["pack_no"]
    assert over["huge"] == -1 and over["wall"] == -1
    packs = got[got.pack_no >= 0].groupby(["shard", "pack_no"])["cost"]
    assert ((packs.sum() - packs.max()) < MAX).all()
    # re-submit: resume ledger leaves nothing to pack (incl. oversize)
    subprocess.run(cmd, check=True, capture_output=True, env=env, timeout=600)
    n2 = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*/*.parquet', "
        f"hive_partitioning=true)").fetchone()[0]
    assert n2 == 152
    # incremental batch: packs append past each shard's committed max
    pq.write_table(pa.Table.from_pylist(rows + _spans_table(range(200, 240))),
                   inp)
    subprocess.run(cmd, check=True, capture_output=True, env=env, timeout=600)
    g3 = duckdb.sql(
        f"SELECT * FROM read_parquet('{out}/*/*.parquet', "
        f"hive_partitioning=true)").df()
    assert len(g3) == 192 and g3["doc_id"].nunique() == 192
    # lineage sidecar: per-shard metric rows across all runs account for
    # every committed doc exactly once
    m = duckdb.sql(f"SELECT * FROM '{out}_metrics/*.parquet'").df()
    assert m["n_docs"].sum() == 192
    assert m["n_oversize"].sum() == 2
    assert m["total_cost"].sum() == g3["cost"].sum()
    old = got[got.pack_no >= 0]
    new = g3[~g3.doc_id.isin(got.doc_id)]
    for sh, grp in new[new.pack_no >= 0].groupby("shard"):
        prior = old[old.shard == sh]
        if len(prior):
            assert grp.pack_no.min() > prior.pack_no.max(), (sh, grp)
    # crash-window healing: simulate a run that died AFTER the data
    # commit but BEFORE metrics+ledger (delete both sidecars) — the next
    # submit must re-meter the orphaned docs without duplicating data
    shutil.rmtree(f"{out}_metrics")
    shutil.rmtree(f"{out}_ledger")
    subprocess.run(cmd, check=True, capture_output=True, env=env, timeout=600)
    g4 = duckdb.sql(
        f"SELECT * FROM read_parquet('{out}/*/*.parquet', "
        f"hive_partitioning=true)").df()
    assert len(g4) == 192 and g4["doc_id"].nunique() == 192
    m4 = duckdb.sql(f"SELECT * FROM '{out}_metrics/*.parquet'").df()
    assert m4["n_docs"].sum() == 192
    assert m4["total_cost"].sum() == g4["cost"].sum()


def test_extract_job_snaptable_submit_resume(tmp_path):
    """Packaged extract job: a partial run
    (--max-batches 1 of 3) commits one snapshot; the re-submit completes
    the remaining batches by manifest set-difference (O(#batches), no
    row anti-join); a third submit commits nothing."""
    import json

    n = 600
    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(n)],
            "html": [
                f'<html><body><p id="p{i}">'
                + " ".join(f"<b>w{j}</b>" for j in range(20))
                + "</p></body></html>"
                for i in range(n)
            ],
        }
    )
    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    for k in range(6):  # 6 input files → 3 file-group batches of 2
        docs.iloc[k::6].to_parquet(os.path.join(inp, f"part-{k}.parquet"))
    out = str(tmp_path / "spans_tbl")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")

    def cmd(extra):
        return [
            "spark-submit", "--master", "local[4]", "--py-files", zipf,
            os.path.join(REPO, "jobs", "extract_job.py"),
            "--input", inp, "--output", out, "--partitions", "4",
            "--batches", "3",
        ] + extra

    r1 = subprocess.run(
        cmd(["--max-batches", "1"]), cwd=REPO, capture_output=True, timeout=600
    )
    assert r1.returncode == 0, r1.stderr[-3000:]
    snaps = sorted(
        f for f in os.listdir(os.path.join(out, "snaps"))
        if f.startswith("snap-")
    )
    assert snaps == ["snap-00000001.json"]

    r2 = subprocess.run(cmd([]), cwd=REPO, capture_output=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert b"ran 2, skipped 1" in r2.stdout, r2.stdout[-2000:]
    latest = json.load(open(os.path.join(out, "snaps", "snap-00000003.json")))
    assert latest["batch_ids"] == [f"b0000{i}-of-00003" for i in range(3)]
    # file lists live in the sharded manifests; inflate via the API
    from hquery_php_spark.sources.snaptable import SnapTable as _ST

    files = [os.path.join(out, f) for f in _ST(out).current_snapshot()["files"]]
    got = duckdb.sql(
        "SELECT count(*) AS c, count(DISTINCT doc_id) AS d FROM read_parquet($f)",
        params={"f": files},
    ).df()
    assert (got["c"][0], got["d"][0]) == (n, n)

    r3 = subprocess.run(cmd([]), cwd=REPO, capture_output=True, timeout=600)
    assert r3.returncode == 0, r3.stderr[-3000:]
    assert b"ran 0, skipped 3" in r3.stdout
    assert sorted(
        f for f in os.listdir(os.path.join(out, "snaps"))
        if f.startswith("snap-")
    )[-1] == "snap-00000003.json"


def test_pipeline_job_three_phases_resume(tmp_path):
    """Composed pipeline via spark-submit: extract (batched) -> curate
    (corpus-level) -> pack, each phase committed to its own snapshot
    table.  A --max-batches run stops before curate; the full re-submit
    finishes extract by manifest set-difference and runs the remaining
    phases; a third submit is three no-op phases."""
    import json

    n = 120
    texts = [  # Gopher gate wants stopwords present — keep them in
        "the quick notes and more of it to read "
        + " ".join(f"tok{i}w{j}" for j in range(12))
        for i in range(n)
    ]
    for k in range(1, 6):  # 6 docs share doc 0's text: exact dupes
        texts[k] = texts[0]
    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(n)],
            "html": [f"<html><body><p>{t}</p></body></html>" for t in texts],
        }
    )
    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    for k in range(4):
        docs.iloc[k::4].to_parquet(os.path.join(inp, f"part-{k}.parquet"))
    out = str(tmp_path / "pipe")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")

    def cmd(extra):
        return [
            "spark-submit", "--master", "local[4]", "--py-files", zipf,
            os.path.join(REPO, "jobs", "pipeline_job.py"),
            "--input", inp, "--output", out,
            "--batches", "2", "--partitions", "4", "--n-shards", "4",
        ] + extra

    r1 = subprocess.run(
        cmd(["--max-batches", "1"]), cwd=REPO, capture_output=True, timeout=600
    )
    assert r1.returncode == 0, r1.stderr[-3000:]
    assert b"extract phase incomplete" in r1.stdout
    assert not os.path.exists(os.path.join(out, "curated", "snaps"))

    r2 = subprocess.run(cmd([]), cwd=REPO, capture_output=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert b"phase extract: 1 ran, 1 committed, of 2" in r2.stdout
    assert b"kept 115 of 120 docs" in r2.stdout, r2.stdout[-2000:]

    curated = json.load(
        open(os.path.join(out, "curated", "snaps", "snap-00000001.json"))
    )
    assert curated["lineage"]["curate-all"]["n_rows"] == 115
    from hquery_php_spark.sources.snaptable import SnapTable as _ST

    packs_files = _ST(os.path.join(out, "packs")).current_snapshot()["files"]
    got = duckdb.sql(
        "SELECT count(*) AS c, count(DISTINCT doc_id) AS d, "
        "count(*) FILTER (pack_no < 0) AS oversize FROM read_parquet($f)",
        params={"f": [os.path.join(out, "packs", f) for f in packs_files]},
    ).df()
    assert (got["c"][0], got["d"][0], got["oversize"][0]) == (115, 115, 0)

    r3 = subprocess.run(cmd([]), cwd=REPO, capture_output=True, timeout=600)
    assert r3.returncode == 0, r3.stderr[-3000:]
    assert b"phase extract: 0 ran, 2 committed" in r3.stdout
    assert b"phase curate: committed, skipping" in r3.stdout
    assert b"phase pack: committed, skipping" in r3.stdout


def test_extract_job_snaptable_sigkill_resume(tmp_path):
    """SIGKILL the snaptable ingest while a batch is STAGING (its b-* dir
    exists but no snapshot for it yet): the orphan staging stays
    invisible to readers, the re-submit re-runs the killed batch under a
    fresh staging dir, and the final corpus is exact — every doc once,
    with its whole span payload, and metered once by the --metrics
    sidecar.  The graceful --max-batches variant above can't see this
    window."""
    import glob
    import json

    n = 1200
    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(n)],
            "html": [
                f'<html><body><div id="x{i}">'
                + " ".join(f"<span class=\"w{j % 3}\">w{j}</span>" for j in range(60))
                + f'<a href="/p/{i}">link</a></div></body></html>'
                for i in range(n)
            ],
        }
    )
    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    for k in range(6):
        docs.iloc[k::6].to_parquet(os.path.join(inp, f"part-{k}.parquet"))
    out = str(tmp_path / "tbl")
    metrics = str(tmp_path / "metrics")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")
    cmd = [
        "spark-submit", "--master", "local[2]", "--py-files", zipf,
        os.path.join(REPO, "jobs", "extract_job.py"),
        "--input", inp, "--output", out, "--metrics", metrics,
        "--partitions", "2", "--batches", "3",
    ]
    log = open(tmp_path / "kill.log", "wb")
    p = subprocess.Popen(cmd, cwd=REPO, stdout=log, stderr=log)
    # kill as soon as ANY staging dir appears (batch 0 mid-write)
    deadline = time.time() + 240
    while time.time() < deadline and p.poll() is None:
        if glob.glob(os.path.join(out, "data", "b-*")):
            break
        time.sleep(0.02)
    killed_midway = p.poll() is None
    if killed_midway:
        p.kill()
        p.wait()
    orphans_before = set(glob.glob(os.path.join(out, "data", "b-*")))
    # a sidecar write torn by a kill leaves only its hidden temp name
    os.makedirs(metrics, exist_ok=True)
    with open(os.path.join(metrics, ".tmp-killed"), "wb") as f:
        f.write(b"PAR1 torn")

    r = subprocess.run(cmd, cwd=REPO, capture_output=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    from hquery_php_spark.sources.snaptable import SnapTable as _ST

    latest = _ST(out).current_snapshot()
    assert sorted(latest["batch_ids"]) == [
        f"b0000{i}-of-00003" for i in range(3)
    ]
    files = [os.path.join(out, f) for f in latest["files"]]
    got = duckdb.sql(
        "SELECT count(*) AS c, count(DISTINCT doc_id) AS d FROM read_parquet($f)",
        params={"f": files},
    ).df()
    assert (got["c"][0], got["d"][0]) == (n, n), killed_midway
    # every doc's span payload made it (60 text words + 1 link per doc)
    (n_bad,) = duckdb.sql(
        "SELECT count(*) FROM read_parquet($f) WHERE n_tags < 60",
        params={"f": files},
    ).fetchone()
    assert n_bad == 0
    # metrics sidecar accounts for committed docs exactly once, one file
    # per batch, and neither reader counts the torn temp file
    (m_docs,) = duckdb.sql(
        f"SELECT sum(n_docs) FROM '{metrics}/*.parquet'"
    ).fetchone()
    assert m_docs == n
    import pyarrow.parquet as pq

    assert sum(pq.read_table(metrics).column("n_docs").to_pylist()) == n
    assert len(glob.glob(os.path.join(metrics, "*.parquet"))) == 3
    # nothing dangles into the manifest without a snapshot: every listed
    # file's staging dir encodes a batch id that IS committed (the killed
    # run's orphan staging, if any, therefore cannot appear)
    del killed_midway, orphans_before  # diagnostics for the asserts above
    for f in latest["files"]:
        d = os.path.basename(os.path.dirname(f))
        assert d.startswith("b-"), f
        bid = d[2:-33]  # strip "b-" prefix and "-<uuid32>" suffix
        assert bid in latest["batch_ids"], (f, bid)


def test_pipeline_job_bucketed_spans_point_lookup(tmp_path):
    """--bucket-docs N: the spans table lands bucket-partitioned by
    doc_id; a point lookup (or an at-rest decontamination delete) plans
    only the key's bucket files via the manifest — no Spark job, no
    full-table scan."""
    import zlib

    from hquery_php_spark.sources.snaptable import SnapTable

    n = 64
    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(n)],
            "html": [
                "<html><body><p>the quick notes and more of it to read "
                + " ".join(f"tok{i}w{j}" for j in range(12))
                + "</p></body></html>"
                for i in range(n)
            ],
        }
    )
    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    for k in range(2):
        docs.iloc[k::2].to_parquet(os.path.join(inp, f"part-{k}.parquet"))
    out = str(tmp_path / "pipe")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")
    r = subprocess.run(
        [
            "spark-submit", "--master", "local[4]", "--py-files", zipf,
            os.path.join(REPO, "jobs", "pipeline_job.py"),
            "--input", inp, "--output", out,
            "--batches", "2", "--partitions", "4", "--n-shards", "4",
            "--bucket-docs", "4",
        ],
        cwd=REPO, capture_output=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    tbl = SnapTable(os.path.join(out, "spans"))
    snap = tbl.current_snapshot()
    assert [p["transform"] for p in snap["partition_spec"]] == ["bucket"]
    # manifest-only planning: the key's bucket is a strict file subset
    kept, total = tbl.pruned_file_count(eq=("doc_id", "d0042"))
    assert 0 < kept < total
    want = str(zlib.crc32(b"d0042") % 4)
    in_bucket = [
        f for f, pv in snap["file_partitions"].items()
        if pv["p_doc_id_b4"] == want
    ]
    # bucket pruning alone plans exactly the manifest-attributed files
    # (eq= stacks footer stats on top, so kept can be even smaller)
    assert tbl.pruned_file_count(
        partition_where={"p_doc_id_b4": int(want)}
    ) == (len(in_bucket), total)
    assert kept <= len(in_bucket)
    files = [
        os.path.join(out, "spans", f)
        for f in snap["files"]
        if snap["file_partitions"][f]["p_doc_id_b4"] == want
    ]
    got = duckdb.sql(
        "SELECT count(*) AS c FROM read_parquet($f) WHERE doc_id = 'd0042'",
        params={"f": files},
    ).df()
    assert got["c"][0] > 0  # the bucket's files really hold the doc's spans


def test_pipeline_job_incremental_two_day_drop(tmp_path):
    """--incremental across a growing input: day-0 submit curates and
    packs the first drop; day-1 files land and a re-submit ingests ONLY
    the new files, curates only the new docs (cross-run dedup via the
    ledgers), and packs only the newly kept docs; a third submit is a
    no-op at every phase."""
    from hquery_php_spark.sources.snaptable import SnapTable

    texts = {
        "alpha": "the sun rises over quiet hills and farmers walk their "
                 "fields checking young crops before breakfast while "
                 "birds gather seeds near the wooden fence",
        "beta": "a modern compiler turns source code into machine words "
                "and the optimizer removes wasted steps so that programs "
                "finish their work faster",
        "gamma": "ocean currents move warm water toward the poles and "
                 "this steady flow shapes weather patterns that sailors "
                 "have tracked for many centuries",
        "delta": "the museum opened a new wing with paintings from "
                 "several schools and visitors lined the marble halls to "
                 "study each canvas in detail",
    }

    def _drop(name, rows):
        pd.DataFrame(
            {
                "doc_id": [i for i, _ in rows],
                "html": [
                    "<html><body><p>%s</p></body></html>" % t
                    for _, t in rows
                ],
            }
        ).to_parquet(os.path.join(inp, name))

    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    _drop("day0.parquet", [("a1", texts["alpha"]), ("a2", texts["beta"])])
    out = str(tmp_path / "pipe")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")
    cmd = [
        "spark-submit", "--master", "local[4]", "--py-files", zipf,
        os.path.join(REPO, "jobs", "pipeline_job.py"),
        "--input", inp, "--output", out,
        "--batches", "2", "--partitions", "2", "--n-shards", "2",
        "--incremental",
    ]
    r1 = subprocess.run(cmd, cwd=REPO, capture_output=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-3000:]
    curated = SnapTable(os.path.join(out, "curated"))
    got1 = {x.doc_id for x in _read_tbl(curated)}
    assert got1 == {"a1", "a2"}

    # day-1 drop: one cross-run dup, one new doc
    _drop("day1.parquet", [("b1", texts["alpha"]), ("b2", texts["gamma"])])
    r2 = subprocess.run(cmd, cwd=REPO, capture_output=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    out2 = r2.stdout.decode()
    assert "phase extract: 1 ran" in out2, out2  # only the new file
    got2 = {x.doc_id for x in _read_tbl(curated)}
    assert got2 == {"a1", "a2", "b2"}  # b1 deduped against the ledger
    packs = SnapTable(os.path.join(out, "packs"))
    packed = [x.doc_id for x in _read_tbl(packs)]
    assert sorted(packed) == ["a1", "a2", "b2"]  # once each, ever

    # third submit: nothing new anywhere
    r3 = subprocess.run(cmd, cwd=REPO, capture_output=True, timeout=600)
    assert r3.returncode == 0, r3.stderr[-3000:]
    out3 = r3.stdout.decode()
    assert "phase extract: 0 ran" in out3, out3
    assert "(nothing new)" in out3, out3
    n_snaps = len(curated.snapshots()) + len(packs.snapshots())
    assert n_snaps == 4  # two appends each, untouched by the no-op run


def _read_tbl(tbl):
    """Row list via duckdb (no SparkSession in the test process)."""
    files = [os.path.join(tbl.path, f) for f in tbl.current_snapshot()["files"]]
    return duckdb.sql(
        "SELECT * FROM read_parquet($f)", params={"f": files}
    ).df().itertuples()


def test_takedown_job_mor_delete_and_materialize(tmp_path):
    """spark-submit takedown over a committed pipeline: one merge-on-read
    equality-delete commit per phase table (no data file rewritten), a
    re-submit with the same --takedown-id is a no-op, and --materialize
    compacts the deletes away restoring exact manifest counts; a
    re-submit after that is a no-op as well."""
    import json

    n = 60
    texts = [
        "the quick notes and more of it to read "
        + " ".join(f"tok{i}w{j}" for j in range(12))
        for i in range(n)
    ]
    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i:04d}" for i in range(n)],
            "html": [f"<html><body><p>{t}</p></body></html>" for t in texts],
        }
    )
    inp = str(tmp_path / "docs")
    os.makedirs(inp)
    for k in range(2):
        docs.iloc[k::2].to_parquet(os.path.join(inp, f"part-{k}.parquet"))
    out = str(tmp_path / "pipe")
    zipf = shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark")

    r = subprocess.run(
        [
            "spark-submit", "--master", "local[4]", "--py-files", zipf,
            os.path.join(REPO, "jobs", "pipeline_job.py"),
            "--input", inp, "--output", out,
            "--batches", "2", "--partitions", "4", "--n-shards", "4",
        ],
        cwd=REPO, capture_output=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]

    gone = ["d0003", "d0017", "d0042"]
    keys = str(tmp_path / "keys.parquet")
    pd.DataFrame({"doc_id": gone}).to_parquet(keys)

    from hquery_php_spark.sources.snaptable import SnapTable

    tables = {
        name: SnapTable(os.path.join(out, name))
        for name in ("spans", "curated", "packs")
    }
    files_before = {
        name: set(t.current_snapshot()["files"]) for name, t in tables.items()
    }

    def tdcmd(extra):
        return [
            "spark-submit", "--master", "local[4]", "--py-files", zipf,
            os.path.join(REPO, "jobs", "takedown_job.py"),
            "--output", out, "--keys", keys, "--takedown-id", "tk-1",
        ] + extra

    r1 = subprocess.run(tdcmd([]), cwd=REPO, capture_output=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-3000:]
    assert r1.stdout.count(b"delete committed") == 3, r1.stdout[-2000:]

    for name, t in tables.items():
        snap = t.current_snapshot()
        # merge-on-read: the data file set is byte-identical
        assert set(snap["files"]) == files_before[name], name
        dels = snap["equality_deletes"]
        assert len(dels) == 1 and dels[0]["delete_id"] == "tk-1"
        # physical rows still carry the keys (nothing was rewritten);
        # the merged view — data anti-joined with the delete file, the
        # read() semantics replicated in duckdb — excludes them
        data = [os.path.join(t.path, f) for f in snap["files"]]
        dfiles = [os.path.join(t.path, f) for f in dels[0]["files"]]
        phys, hit = duckdb.sql(
            "SELECT count(*), count(*) FILTER (doc_id IN "
            "(SELECT doc_id FROM read_parquet($k))) FROM read_parquet($d)",
            params={"d": data, "k": dfiles},
        ).fetchone()
        assert hit == 3, (name, hit)  # merge-on-read: data untouched
        merged = duckdb.sql(
            "SELECT count(*) FROM read_parquet($d) WHERE doc_id NOT IN "
            "(SELECT doc_id FROM read_parquet($k))",
            params={"d": data, "k": dfiles},
        ).fetchone()[0]
        assert merged == phys - 3, (name, merged, phys)

    # idempotent re-submit: same takedown id, zero new commits
    snaps_before = {n_: t.current_snapshot()["snapshot_id"] for n_, t in tables.items()}
    r2 = subprocess.run(tdcmd([]), cwd=REPO, capture_output=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert r2.stdout.count(b"already committed, skipping") == 3, r2.stdout[-2000:]
    for n_, t in tables.items():
        assert t.current_snapshot()["snapshot_id"] == snaps_before[n_]

    # materialize: compaction folds the deletes in, exact counts return
    r3 = subprocess.run(
        tdcmd(["--materialize"]), cwd=REPO, capture_output=True, timeout=600
    )
    assert r3.returncode == 0, r3.stderr[-3000:]
    assert r3.stdout.count(b"materialized ->") == 3, r3.stdout[-2000:]
    for name, t in tables.items():
        assert t.pending_deletes() == [] and t.fsck()["ok"], name
        got = {x.doc_id for x in _read_tbl(t)}
        assert not (got & set(gone)), name
        assert t.row_count() == len(got), name

    # re-submit after materialization: the compacted tables still hold
    # tk-1 as committed, so nothing is re-deleted or re-compacted
    snaps_before = {n_: t.current_snapshot()["snapshot_id"] for n_, t in tables.items()}
    r4 = subprocess.run(
        tdcmd(["--materialize"]), cwd=REPO, capture_output=True, timeout=600
    )
    assert r4.returncode == 0, r4.stderr[-3000:]
    assert r4.stdout.count(b"already committed, skipping") == 3, r4.stdout[-2000:]
    assert b"materialized ->" not in r4.stdout, r4.stdout[-2000:]
    for n_, t in tables.items():
        assert t.current_snapshot()["snapshot_id"] == snaps_before[n_]
