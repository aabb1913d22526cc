"""Spark-side integration tests: pipeline, skew repartition, dedup,
similarity — on tiny data so the suite stays fast."""

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hquery_php_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_verify,
    simhash64_portable_df,
)
from hquery_php_spark.operators.pipeline import (
    PartitionMeter,
    explode_spans,
    extract_spans_df,
    resume_filter,
)
from hquery_php_spark.operators.similarity import brute_force_topk
from hquery_php_spark.sources.fixtures import gen_corpus


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("hquery-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = list(gen_corpus(40, seed=42, mega_every=17))
    return spark.createDataFrame(rows)


def test_extract_spans_df(spark, corpus_df):
    out = extract_spans_df(
        corpus_df, html_col="html", base_url_col="base_url", encoding="latin-1"
    )
    pdf = out.toPandas()
    assert len(pdf) == 40
    # fault tolerance: bad_html_2 has a charset error but still extracts
    bad = pdf[pdf.doc_id == "bad_html_2"].iloc[0]
    assert bad.error and "convert_encoding" in bad.error
    assert bad.n_tags == 5
    # body_html: spans in document order, media resolved vs base
    row = pdf[pdf.doc_id == "body_html"].iloc[0]
    assert row.error is None
    offsets = [s["offset"] for s in row.spans]
    assert offsets == sorted(offsets)
    refs = [s["media_ref"] for s in row.spans if s["kind"] == "media"]
    assert "https://DUzun.Me/path" in refs
    assert "https://cdn.duzun.me/images/logo.png" in refs
    # no row errored out entirely
    assert (pdf.n_tags > 0).sum() >= 38


def test_explode_spans_order(spark, corpus_df):
    out = explode_spans(
        extract_spans_df(corpus_df, encoding="latin-1")
    ).where(F.col("doc_id") == "body_html")
    pdf = out.orderBy("ord").toPandas()
    assert list(pdf["ord"]) == list(range(len(pdf)))
    assert list(pdf["offset"]) == sorted(pdf["offset"])


def _metered_spans(spark, corpus_df, **kw):
    """Spans plus the accumulator their extraction tasks report to."""
    meter = spark.sparkContext.accumulator({}, PartitionMeter())
    return extract_spans_df(corpus_df, meter=meter, **kw), meter


def test_extract_meter_and_resume(spark, corpus_df):
    spans, meter = _metered_spans(spark, corpus_df, encoding="latin-1")
    assert spans.count() == 40
    assert sum(m[0] for m in meter.value.values()) == 40
    done = spans.limit(10).select("doc_id")
    remaining = resume_filter(corpus_df, done)
    assert remaining.count() == 30


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b   c"), (3, "different")], ["doc_id", "text"]
    )
    out = dedup_exact(df).orderBy("keep_id").toPandas()
    assert list(out.keep_id) == [1, 3]
    assert list(out.n_dups) == [2, 1]


def test_minhash_finds_near_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "completely unrelated text about database query optimization"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df, num_perm=16, shingle_k=5)
    cands = minhash_lsh_candidates(sigs, bands=4, rows_per_band=4)
    verified = ngram_jaccard_verify(df, cands, k=5, threshold=0.5).toPandas()
    pairs = set(zip(verified.id_a, verified.id_b))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similarity(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "spark catalyst optimizer rewrites logical plans"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r.simhash for r in simhash64_portable_df(df).collect()}
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])


def test_brute_force_topk(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = brute_force_topk(df, [1.0, 0.0, 0.0, 0.0], k=1).collect()
    assert top[0]["id"] == 0


def test_resume_cycle_end_to_end(spark, corpus_df, tmp_path):
    """Idempotent resume: a killed job's committed output is skipped on
    re-run and the union equals a clean full run (north rule)."""
    out_dir = str(tmp_path / "spans_out")
    docs = corpus_df

    # full run (the expected final state)
    full = extract_spans_df(docs).select("doc_id", "n_tags").toPandas()

    # "first run dies" after committing only docs with even-length ids:
    # simulate by writing a committed subset
    part1 = extract_spans_df(docs.where(F.length("doc_id") % 2 == 0))
    part1.write.mode("overwrite").parquet(out_dir)

    committed = spark.read.parquet(out_dir)
    n_committed = committed.count()
    assert 0 < n_committed < len(full)

    # resume: anti-join against committed doc_ids, process the rest, append
    todo = resume_filter(docs, committed.select("doc_id"))
    extract_spans_df(todo).write.mode("append").parquet(out_dir)

    final = spark.read.parquet(out_dir).select("doc_id", "n_tags").toPandas()
    assert len(final) == len(full)
    a = full.sort_values("doc_id").reset_index(drop=True)
    b = final.sort_values("doc_id").reset_index(drop=True)
    assert (a["doc_id"] == b["doc_id"]).all()
    assert (a["n_tags"] == b["n_tags"]).all()

    # resuming again is a no-op (idempotence)
    assert resume_filter(docs, spark.read.parquet(out_dir).select("doc_id")).count() == 0


def test_read_done_ids_none_only_when_nothing_committed(spark, tmp_path):
    """A missing ledger, or one holding only a killed write's
    ``_temporary``, means "nothing committed yet"; an unreadable file
    must raise — swallowing it would re-process the whole input."""
    import os

    from hquery_php_spark.sources.reader import read_done_ids

    assert read_done_ids(spark, str(tmp_path / "missing")) is None

    killed = tmp_path / "killed" / "_temporary" / "0"
    os.makedirs(killed)
    (killed / "part-0.parquet").write_bytes(b"half-written")
    assert read_done_ids(spark, str(tmp_path / "killed")) is None

    corrupt = tmp_path / "corrupt"
    os.makedirs(corrupt)
    (corrupt / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_done_ids(spark, str(corrupt))


def test_metrics_sidecar_lineage_roundtrip(spark, corpus_df, tmp_path):
    """Metrics rows are writable/readable as the lineage table and
    account for every input document exactly once."""
    from hquery_php_spark.sources.ingest import _write_sidecar

    mdir = str(tmp_path / "metrics")
    spans, meter = _metered_spans(spark, corpus_df)
    spans.write.parquet(str(tmp_path / "spans"))
    _write_sidecar(mdir, "b0", meter.value)
    m = spark.read.parquet(mdir).toPandas()
    assert m["n_docs"].sum() == corpus_df.count()
    assert (m["n_errors"] >= 0).all()
    assert m["bytes"].sum() > 0


def test_split_tail_repartition_isolates_megas(spark):
    """Each mega-doc lands alone; body stays salted — no global sort."""
    from hquery_php_spark.operators.pipeline import split_tail_repartition

    rows = [(f"s{i}", "x" * 100, 100) for i in range(200)] + [
        (f"mega{i}", "y" * 100, 50_000_000) for i in range(6)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "html", "size_bytes"])
    out = split_tail_repartition(df, 8, tail_bytes=1 << 20)
    p = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.sum(F.when(F.col("size_bytes") >= 1 << 20, 1).otherwise(0)).alias("megas"),
            F.count("*").alias("n"),
        )
        .toPandas()
    )
    assert p["megas"].max() <= 1, p.to_string()
    assert int(p["megas"].sum()) == 6
    assert int(p["n"].sum()) == 206
    # longest-task-first: Spark launches tasks in partition-id order, so
    # every mega must sit below every body row
    assert p[p.megas > 0].pid.max() < p[p.n > p.megas].pid.min(), p.to_string()


def test_minhash_recall_vs_exact(spark):
    """Probe quality: verified MinHash+LSH pairs must be a subset of the
    exact brute-force pairs, with recall ≥ 0.8 at these parameters."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sigs = minhash_signatures(d, num_perm=16, shingle_k=8)
    cands = minhash_lsh_candidates(sigs, bands=2, rows_per_band=8)
    lsh = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_verify(d, cands, k=8, threshold=0.6).collect()
    }

    from hquery_php_spark.operators.dedup import char_shingles

    sh = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(char_shingles(F.col("text"), 8)).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    exact = {
        (r.id_a, r.id_b)
        for r in (
            a.join(b, F.col("a.id") < F.col("b.id"))
            .withColumn(
                "j",
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh")),
            )
            .where(F.col("j") >= 0.6)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .collect()
        )
    }
    assert lsh <= exact  # no false positives (verify stage is exact)
    assert exact, "fixture should contain near-dups"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, (recall, len(lsh), len(exact))


def test_spark_path_equals_direct_engine(spark, corpus_df):
    """The Arrow/mapInPandas plumbing must not change a single span:
    Spark output == direct per-doc engine output, field for field."""
    from hquery_php_spark.core.doc import HDoc
    from hquery_php_spark.core.extract import extract_spans as direct

    rows = corpus_df.collect()
    expected = {}
    for r in rows:
        html = r.html if isinstance(r.html, (bytes, bytearray)) else str(r.html).encode("utf-8")
        doc = HDoc(html, r.base_url if "base_url" in r.__fields__ else None)
        expected[str(r.doc_id)] = [tuple(s) for s in direct(doc)]

    got = {}
    for r in extract_spans_df(corpus_df).collect():
        got[r.doc_id] = [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
    assert got == expected


def test_spans_survive_parquet_roundtrip(spark, corpus_df, tmp_path):
    """Nested span structs written to parquet read back identical."""
    out = str(tmp_path / "rt")
    spans = extract_spans_df(corpus_df)
    before = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in spans.collect()
    }
    spans.write.mode("overwrite").parquet(out)
    after = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in spark.read.parquet(out).collect()
    }
    assert after == before


def test_ivf_recall_vs_brute_force(spark):
    """The LSH-bucketed IVF path must recover most of the exact top-k at
    the query parameters used by the driver contract."""
    from hquery_php_spark.operators.similarity import brute_force_topk, ivf_topk

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qvec = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    rest = embs.where(F.col("vec_id") != 0)
    exact = [r.id for r in brute_force_topk(rest, qvec, k=10).collect()]
    approx = [
        r.id for r in ivf_topk(rest, qvec, k=10, n_planes=6, hamming_radius=2).collect()
    ]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.6, (recall, exact, approx)


def test_ivf_partition_pruning(spark, tmp_path):
    """Pre-partitioning the vector table by coarse bucket turns the IVF
    bucket filter into scan-level partition pruning."""
    from hquery_php_spark.operators.similarity import bucket_of
    from hquery_php_spark.plans.explain import explain_str

    out = str(tmp_path / "vecs")
    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    (
        embs.withColumn("bucket", bucket_of(F.col("embedding"), 4))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(out)
    )
    t = spark.read.parquet(out)
    pruned = t.where(F.col("bucket").isin(3, 5, 9))
    plan = explain_str(pruned, "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    # pruned scan reads fewer rows than the full table
    assert pruned.count() < t.count()


def test_streaming_span_metrics(spark, tmp_path):
    """Windowed streaming metrics aggregate over the extraction stream."""
    from hquery_php_spark.streaming import (
        streaming_extract_spans,
        streaming_span_metrics,
    )

    src = str(tmp_path / "m_in")
    ckpt = str(tmp_path / "m_ckpt")
    import os

    os.makedirs(src, exist_ok=True)
    sch = "doc_id string, html string, base_url string"
    spark.createDataFrame(
        [("a", "<p>x</p><a href='/l'>L</a>", "https://s/"), ("b", "<p>y</p>", "https://s/")],
        sch,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(sch).parquet(src)
    metrics = streaming_span_metrics(streaming_extract_spans(stream))
    q = (
        metrics.writeStream.format("memory")
        .queryName("span_metrics_out")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM span_metrics_out").collect()
        assert sum(r.n_docs for r in got) == 2
        assert sum(r.n_media for r in got) == 1
    finally:
        q.stop()


def test_null_html_recorded_as_error(spark):
    """A null payload is a recorded per-row error, never literal 'None'
    text and never a stage failure (fault tolerance)."""
    df = spark.createDataFrame(
        [("ok", "<p>x</p>", "https://s/"), ("bad", None, "https://s/")],
        "doc_id string, html string, base_url string",
    )
    rows = {r.doc_id: r for r in extract_spans_df(df).collect()}
    assert rows["ok"].error is None and rows["ok"].n_tags == 1
    assert rows["bad"].error is not None
    assert rows["bad"].spans == []


def test_read_html_files_binary_ingestion(spark, tmp_path):
    """S2's Spark path: whole-file binary ingestion keeps original bytes
    (charset conversion happens in the engine, not the reader)."""
    from hquery_php_spark.sources.reader import read_html_files

    d = tmp_path / "pages"
    d.mkdir()
    (d / "a.html").write_bytes(
        '<html><head><meta charset="ISO-8859-1"></head>'
        "<body><p>caf\xe9 page</p></body></html>".encode("latin-1")
    )
    (d / "b.html").write_bytes(b"<html><body><p>plain</p></body></html>")
    df = read_html_files(spark, str(d / "*.html"))
    spans = explode_spans(
        extract_spans_df(df, base_url_col=None).select("doc_id", "spans")
    )
    texts = {
        r.doc_id.rsplit("/", 1)[-1]: r.text
        for r in spans.where(F.col("kind") == "text").collect()
    }
    assert texts["a.html"] == "café page"  # latin-1 bytes converted
    assert texts["b.html"] == "plain"


def test_pandas_topk_matches_jvm(spark):
    """The numpy-batched scorer returns the same top-k (ids and cosine
    to 1e-9) as the JVM aggregate implementation."""
    from hquery_php_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_pandas,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qvec = embs.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    rest = embs.where(F.col("vec_id") != 0)
    jvm = brute_force_topk(rest, qvec, k=10).collect()
    pdu = brute_force_topk_pandas(rest, qvec, k=10).collect()
    assert [r.id for r in jvm] == [r.id for r in pdu]
    for a, b in zip(jvm, pdu):
        assert abs(a.cos - b.cos) < 1e-9


def test_minhash_permutations_distinct(spark):
    """Regression: PySpark binds HOF lambdas by parameter count, so a
    `lambda h, i=i:` remix silently received the ELEMENT INDEX as i and
    every permutation collapsed to the same function.  A healthy sig has
    (mostly) distinct values across permutations."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 3)],
        ["doc_id", "text"],
    )
    sig = minhash_signatures(df, num_perm=16, shingle_k=5).collect()[0]["sig"]
    assert len(set(sig)) > 8, sig


def test_portable_minhash_simhash_match_duckdb(spark):
    """The portable polynomial/affine family must produce IDENTICAL
    values in DuckDB — that is the whole point of the family (cross-
    system dedup ledgers)."""
    import duckdb
    import pandas as pd
    from hquery_php_spark.operators.dedup import (
        minhash_verify_oracle_sql,
        simhash64_portable_df,
        simhash_oracle_sql,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "completely unrelated text about database query optimization"),
        (4, "Tiny"),
        (5, "the quick brown fox jumps over the lazy dog again & again"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))

    s_sim = {
        r.id: r.simhash for r in simhash64_portable_df(df, k=8).collect()
    }
    o_sim = {
        r[0]: r[1] for r in con.execute(simhash_oracle_sql(k=8)).fetchall()
    }
    assert s_sim == o_sim

    sigs = minhash_signatures(df, num_perm=16, shingle_k=8)
    cands = minhash_lsh_candidates(sigs, bands=2, rows_per_band=8)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_verify(df, cands, k=8, threshold=0.3).collect()
    }
    want = {
        tuple(r)
        for r in con.execute(
            minhash_verify_oracle_sql(
                num_perm=16, shingle_k=8, bands=2, rows_per_band=8, threshold=0.3
            )
        ).fetchall()
    }
    assert got == want and got, got


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized IVF index must turn the Hamming-ball filter into
    real partition pruning: the pruned read touches a strict subset of
    the index files, and the result equals the scan-time IVF path."""
    from hquery_php_spark.operators.similarity import (
        hamming_ball,
        ivf_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qvec = embs.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    idx = str(tmp_path / "ivf")
    write_ivf_index(embs, idx, n_planes=6)

    # count the files ACTUALLY read (inputFiles() lists pre-pruning):
    def files_read(df):
        return df.select(F.input_file_name()).distinct().count()

    total_files = files_read(spark.read.parquet(idx))
    qb = spark.read.parquet(idx)  # same reader the indexed path uses
    got = ivf_topk_indexed(
        spark, idx, qvec, k=10, n_planes=6, hamming_radius=2, exclude_id=0,
    )
    from hquery_php_spark.operators.similarity import bucket_of

    qbucket = (
        spark.range(1)
        .select(bucket_of(F.array(*[F.lit(float(x)) for x in qvec]), 6).alias("b"))
        .collect()[0]["b"]
    )
    pruned_files = files_read(qb.where(F.col("bucket").isin(*hamming_ball(qbucket, 6, 2))))
    # radius-2 ball over 6 planes = 1 + 6 + 15 = 22 of 64 buckets
    assert pruned_files < total_files, (pruned_files, total_files)
    assert pruned_files <= 22
    # and the pruning is visible in the physical plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    want = ivf_topk(
        embs.where(F.col("vec_id") != 0), qvec,
        k=10, n_planes=6, hamming_radius=2, portable=True,
    )
    assert [(r.id, round(r.cos, 6)) for r in got.collect()] == [
        (r.id, round(r.cos, 6)) for r in want.collect()
    ]

    # ball enumeration sanity: closed under the radius, includes center
    ball = hamming_ball(0b101010, 6, 2)
    assert 0b101010 in ball and len(ball) == 22


def test_connected_components(spark):
    """Min-label propagation closes transitive near-dup chains: a~b, b~c
    ⇒ one cluster labeled by the smallest member; disjoint components
    stay separate; a chain longer than one hop converges."""
    from hquery_php_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 7), (7, 9), (9, 11), (20, 21), (40, 3), (3, 2)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {2: 2, 3: 2, 7: 2, 9: 2, 11: 2, 40: 2, 20: 20, 21: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches per-round lineage truncation from
    executor-local blocks to a reliable checkpoint (survives executor
    loss at scale): identical labels, and checkpoint data actually
    written under the given dir."""
    import os

    from hquery_php_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 7), (7, 9), (9, 11), (20, 21), (40, 3), (3, 2)],
        ["id_a", "id_b"],
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r.id: r.cluster_id
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert got == {2: 2, 3: 2, 7: 2, 9: 2, 11: 2, 40: 2, 20: 20, 21: 20}
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable checkpoint must write under checkpoint_dir"


def test_deterministic_sample(spark):
    """Portable threshold sampling: fraction lands near target at scale,
    the selected id set is identical under any repartitioning (unlike
    df.sample), and strata rates apply per source."""
    from hquery_php_spark.functions.text import deterministic_sample

    ids = spark.range(20_000).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    s = deterministic_sample(ids, fraction=0.25)
    n = s.count()
    assert abs(n - 5000) < 300, n
    # partitioning-invariant: identical set after an arbitrary reshuffle
    s2 = deterministic_sample(ids.repartition(17, "source"), fraction=0.25)
    assert s2.count() == n
    assert s.join(s2, "doc_id", "left_anti").count() == 0

    st = deterministic_sample(ids, strata={"a": 0.5, "b": 0.0})
    counts = {r.source: r.n for r in st.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "b" not in counts
    assert abs(counts["a"] - 5000) < 300, counts


def test_pack_sequences_bounds(spark):
    """Every pack's token total stays under max_tokens + one doc's
    tokens (contiguous offset packing bound), packs are dense per shard,
    and the assignment is partitioning-invariant."""
    from hquery_php_spark.operators.pipeline import pack_sequences

    docs = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(90)) + 10).alias("n_tokens"),
    )
    MAX = 256
    out = pack_sequences(docs, max_tokens=MAX, n_shards=4)
    packs = (
        out.groupBy("shard", "pack_no")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert packs
    for p in packs:
        assert p.tot < MAX + p.mx, (p.shard, p.pack_no, p.tot)
    # dense pack numbering per shard: 0..max with no holes
    for sh in {p.shard for p in packs}:
        nos = sorted(p.pack_no for p in packs if p.shard == sh)
        assert nos == list(range(len(nos))), (sh, nos)
    # invariant under an arbitrary input repartitioning
    out2 = pack_sequences(docs.repartition(13), max_tokens=MAX, n_shards=4)
    diff = (
        out.withColumnRenamed("pack_no", "a")
        .join(out2.withColumnRenamed("pack_no", "b"), ["doc_id", "shard", "n_tokens"])
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert diff == 0


def test_pack_interleaved_media_cost_and_oversize(spark):
    """Multimodal packing: each media span costs the fixed vision-token
    budget, docs that cannot fit one sequence get pack_no = -1, fitting
    docs obey the contiguous-offset pack bound."""
    from hquery_php_spark.operators.pipeline import pack_interleaved

    def doc(did, n_words, n_media):
        spans = [("text", " ".join(f"w{i}" for i in range(n_words)), None, 0)]
        spans += [("media", "", f"m{j}.png", 10 + j) for j in range(n_media)]
        return (did, spans)

    rows = [doc(f"d{i}", 5 + i % 20, i % 3) for i in range(200)]
    rows.append(doc("huge_text", 500, 0))      # text alone exceeds MAX
    rows.append(doc("media_wall", 1, 10))      # 1 + 10*64 > MAX
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    MAX, MC = 256, 64
    out = pack_interleaved(df, max_tokens=MAX, media_token_cost=MC, n_shards=4)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 202
    # cost arithmetic: tokens + 64/media
    assert got["media_wall"].cost == 1 + 10 * MC
    for i in (3, 47, 101):
        assert got[f"d{i}"].cost == (5 + i % 20) + (i % 3) * MC
    # oversize flagged, never packed
    assert got["huge_text"].pack_no == -1 and got["media_wall"].pack_no == -1
    # fitting docs obey the pack bound
    packs = (
        out.where(F.col("pack_no") >= 0)
        .groupBy("shard", "pack_no")
        .agg(F.sum("cost").alias("tot"), F.max("cost").alias("mx"))
        .collect()
    )
    assert packs
    for p in packs:
        assert p.tot < MAX + p.mx, (p.shard, p.pack_no, p.tot)


def test_paragraph_dedup(spark):
    """Corpus-wide first occurrence survives; later repeats vanish
    (within AND across docs); fully-duplicated docs come back empty."""
    from hquery_php_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "alpha"]),       # in-doc repeat
            (2, ["beta", "gamma"]),                # cross-doc repeat of beta
            (3, ["alpha", "beta"]),                # fully duplicated
        ],
        ["doc_id", "paras"],
    )
    got = {r.id: r for r in paragraph_dedup(df).collect()}
    assert list(got[1].kept) == ["alpha", "beta"]
    assert list(got[2].kept) == ["gamma"]
    assert list(got[3].kept) == [] and got[3].n_kept == 0
    assert (got[1].n_paras, got[2].n_paras, got[3].n_paras) == (3, 2, 2)


def test_substring_dup_spans(spark):
    """Exact-substring dedup: duplicated word windows (across docs AND
    repeated in one doc) merge into maximal per-doc islands; overlapping
    windows coalesce; unique text yields no span."""
    from hquery_php_spark.operators.dedup import substring_dup_spans

    shared = "one two three four five"  # 5 words, window=3 → 3 windows
    df = spark.createDataFrame(
        [
            (1, f"{shared} unique tail words here now"),
            (2, f"prefix words {shared} and more"),
            (3, "totally different text with no duplication at all"),
            # windows repeated INSIDE one doc: "a b c" occurs at 0 and 3
            (4, "a b c a b c"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id, r.span_start): r
        for r in substring_dup_spans(df, window=3).collect()
    }
    # doc 1: words 0-4 are the shared run → windows at 0,1,2 → island 0..4
    r1 = got[(1, 0)]
    assert (r1.span_end, r1.n_windows) == (4, 3)
    # doc 2: shared run starts at word 2 → island 2..6
    r2 = got[(2, 2)]
    assert (r2.span_end, r2.n_windows) == (6, 3)
    # doc 3: nothing
    assert not any(k[0] == 3 for k in got)
    # doc 4: "a b c" at 0 and 3, plus the bridging windows "b c a"/"c a b"
    # are unique — positions 0 and 3 have gap 3 ≤ window → ONE island 0..5
    r4 = got[(4, 0)]
    assert (r4.span_end, r4.n_windows) == (5, 2)
    assert len(got) == 3


def test_ngram_decontaminate(spark):
    """A train doc sharing one 3-gram with the benchmark is flagged
    with the right hit count; clean mode drops exactly the flagged
    rows; the benchmark gram set is broadcast (no shuffle of it)."""
    from hquery_php_spark.operators.decontaminate import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "look at The Quick Brown fox here"),  # case-folded overlap
            (2, "completely different words entirely"),
            (3, "quick   brown\tfox jumps again"),  # ws-normalized overlap
            (4, "too few"),  # shorter than n
        ],
        ["doc_id", "text"],
    )
    flagged = ngram_decontaminate(train, bench, n=3, mode="flag")
    got = {r.id: r.n_hits for r in flagged.collect()}
    # doc 1 contains "the quick brown" + "quick brown fox";
    # doc 3 contains "quick brown fox" + "brown fox jumps"
    assert got == {1: 2, 3: 2}
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    clean = ngram_decontaminate(train, bench, n=3, mode="clean")
    assert sorted(r.doc_id for r in clean.collect()) == [2, 4]


def test_repetition_stats(spark):
    """Hand-computed Gopher-style signals on crafted docs."""
    from hquery_php_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),  # bigram loop
            (2, "all words here are unique tokens"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id", repetition_stats(F.col("text")).alias("r")
        ).select("doc_id", "r.*").collect()
    }
    r1 = rows[1]
    # 6 tokens, 2 distinct; bigrams: [spam ham, ham spam]*... 5 bigrams,
    # 2 distinct -> dup frac 3/5; top bigram "spam ham" count 3 -> 3/5
    assert (r1.n_tokens, r1.n_distinct_tokens) == (6, 2)
    assert abs(r1.dup_bigram_frac - 0.6) < 1e-9
    assert abs(r1.top_bigram_frac - 0.6) < 1e-9
    r2 = rows[2]
    assert r2.distinct_ratio == 1.0 and r2.dup_bigram_frac == 0.0
    r3 = rows[3]
    assert (r3.n_tokens, r3.dup_bigram_frac, r3.top_bigram_frac) == (0, 0.0, 0.0)


def test_minhash_query_releases_caches(spark):
    """q_dedup_minhash persists signatures/candidates/shingles for the
    verify funnel but must release every one of them after the pairs
    materialize — a long-lived session must not accumulate caches."""
    import __spark_entry__ as E

    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    out = E.q_dedup_minhash(spark, "/root/testdata/sf0.001")
    n = out.count()
    assert n > 0
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked persisted RDDs: {after - before}"


def test_auto_n_planes_occupancy_bound():
    """Plane count scales with the corpus: occupancy n/2^p stays ≤ the
    target instead of freezing at a fixed 2^8=256 buckets (n²/256 pair
    work at 10⁹ vectors)."""
    import math

    from hquery_php_spark.operators.similarity import auto_n_planes

    for n in (10_000, 10**6, 10**9, 10**12):
        p = auto_n_planes(n)
        if p < 30:  # below the cap the bound must hold
            assert n / (1 << p) <= 512, (n, p)
        assert p >= 4
    assert auto_n_planes(10**9) == math.ceil(math.log2(10**9 / 512))
    # monotonic in n
    ps = [auto_n_planes(10**k) for k in range(3, 13)]
    assert ps == sorted(ps)


def test_lsh_banding_recovers_recall(spark):
    """More planes per table cuts pair work but kills recall
    ((1−θ/π)^p per pair); banding recovers it (1−(1−s^p)^B) — the
    recall-vs-planes tradeoff pinned so scale calibration can't silently
    regress."""
    import numpy as np

    from hquery_php_spark.operators.dedup import embedding_near_dup

    rng = np.random.default_rng(11)
    dim, n_base = 16, 240
    base = rng.normal(size=(n_base, dim))
    rows, true_pairs = [], set()
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:
            dup = v + rng.normal(scale=0.02, size=dim)  # cos ≈ 0.999
            rows.append((10_000 + i, [float(x) for x in dup]))
    # exact ground truth (numpy n² — fine at test size)
    ids = [r[0] for r in rows]
    m = np.stack([np.asarray(r[1]) for r in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if cos[a, b] >= 0.98:
                true_pairs.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    assert len(true_pairs) >= 50

    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def recall(**kw):
        got = {
            (r.id_a, r.id_b)
            for r in embedding_near_dup(df, threshold=0.98, **kw).collect()
        }
        assert got <= true_pairs  # exact verify ⇒ no false positives
        return len(got & true_pairs) / len(true_pairs)

    r_single = recall(n_planes=16, bands=1)
    r_banded = recall(n_planes=8, bands=4)
    assert r_banded > r_single, (r_banded, r_single)
    assert r_banded >= 0.85, r_banded
    # auto-sizing path runs end-to-end (count() → planes)
    assert 0.0 <= recall(n_planes=None, bands=4) <= 1.0


def test_connected_components_long_chain(spark):
    """Pointer jumping makes long-chain convergence logarithmic: a
    512-node path (the gradual-drift near-dup shape) must close into
    one cluster well inside the 25-round budget — plain neighbor
    propagation would need 511 rounds."""
    from hquery_php_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], ["id_a", "id_b"]
    )
    out = connected_components(edges, max_iter=25).collect()
    assert len(out) == 512
    assert {r.cluster_id for r in out} == {0}


def test_per_domain_cap(spark):
    """<= cap rows per domain; survivors + ranks identical regardless of
    input partitioning (determinism is the whole point); rank is dense
    1..k in portable-hash order."""
    from hquery_php_spark.functions.text import per_domain_cap

    rows = [(i, f"d{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {
        (r.doc_id, r.source): r.rk
        for r in per_domain_cap(df, cap=5, n_salts=4).collect()
    }
    per_dom = {}
    for (_, s), rk in got.items():
        per_dom.setdefault(s, []).append(rk)
    assert set(per_dom) == {"d0", "d1", "d2"}
    for s, rks in per_dom.items():
        assert sorted(rks) == [1, 2, 3, 4, 5]
    got2 = {
        (r.doc_id, r.source): r.rk
        for r in per_domain_cap(df.repartition(7), cap=5, n_salts=4).collect()
    }
    assert got == got2


def test_global_order_index(spark):
    """Positions are a dense permutation of 0..n-1 equal to the rank
    under (portable_hash, key), independent of input partitioning."""
    from pyspark.sql import functions as F

    from hquery_php_spark.functions.text import portable_row_hash
    from hquery_php_spark.operators.pipeline import global_order_index

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    out = global_order_index(df, n_ranges=8).collect()
    assert sorted(r.pos for r in out) == list(range(200))
    ranked = [
        r.doc_id
        for r in df.select(
            "doc_id", portable_row_hash(F.col("doc_id")).alias("h")
        )
        .orderBy("h", "doc_id")
        .collect()
    ]
    by_pos = {r.pos: r.doc_id for r in out}
    assert [by_pos[i] for i in range(200)] == ranked
    out2 = global_order_index(df.repartition(5), n_ranges=8).collect()
    assert {(r.doc_id, r.pos) for r in out2} == {(r.doc_id, r.pos) for r in out}


def test_pack_interleaved_duckdb_lockstep_fuzz(spark):
    """Randomized spans tables (empty docs, media-only docs, ties at the
    pack boundary): Spark packing equals the generated SQL twin row for
    row, dtype-exact."""
    import random

    import duckdb
    import pandas as pd

    from hquery_php_spark.operators.pipeline import (
        pack_interleaved,
        pack_interleaved_oracle_sql,
    )

    rng = random.Random(421)
    for trial in range(3):
        max_tokens = rng.choice([32, 64, 128])
        rows, flat = [], []
        for i in range(rng.randint(5, 60)):
            did = f"d{i}"
            n_words = rng.choice([0, 1, rng.randint(2, 40), 200])
            n_media = rng.choice([0, 0, 1, 2, 5])
            spans = []
            if n_words:
                txt = " ".join(f"t{i}x{j}" for j in range(n_words))
                spans.append(
                    {"kind": "text", "text": txt, "media_ref": None, "offset": 0}
                )
            spans += [
                {"kind": "media", "text": "", "media_ref": f"m{i}_{j}",
                 "offset": 5 + j}
                for j in range(n_media)
            ]
            rows.append((did, spans))
            for o, s in enumerate(spans):
                flat.append((did, o, s["kind"], s["text"], s["media_ref"]))
        df = spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        sp = (
            pack_interleaved(df, max_tokens=max_tokens, media_token_cost=16,
                             n_shards=4)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register(
            "spans_pd",
            pd.DataFrame(flat, columns=["doc_id", "ord", "kind", "text",
                                        "media_ref"]),
        )
        op = (
            con.execute(pack_interleaved_oracle_sql(
                "SELECT * FROM spans_pd", max_tokens=max_tokens,
                media_token_cost=16, n_shards=4))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        # docs with NO spans at all produce no SQL group row; Spark also
        # keeps them only if the spans array row exists — both sides see
        # every doc here (arrays may be empty but rows exist)... except
        # SQL, which aggregates the EXPLODED rows: align on the docs the
        # twin can see
        sp = sp[sp.doc_id.isin(set(op.doc_id))].reset_index(drop=True)
        assert sp.dtypes.tolist() == op.dtypes.tolist(), (trial,)
        pd.testing.assert_frame_equal(sp, op)
