#!/usr/bin/env python3
"""perfbench — the extraction engine's benchmark.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all          # every workload in turn

Each run generates its workload's corpus from ``--seed``, starts Spark at
``local[nproc]`` (three times; ``setup_s`` is the median start), makes two
untimed warm-up passes, then runs timed passes back to back (a closed
loop, one job at a time) until ``--seconds`` of pass time have been
measured; ``docs_per_s`` is the median over the untraced timed passes.
Every pass's output is checked against the generator's expected results.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes, reads Spark's status stores after each traced
pass, probes the engine's layers in the driver, writes the spans to
``.perfbench/`` and prints the per-layer metrics.  The metric names and
units come from ``BENCHMARK.json``; the last line of standard output is
one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("crawl_ingest", "tiny_spans", "mega_tail", "curate_dedup")
# one warm-up pass leaves the first timed passes ~20% slow (JVM JIT)
WARMUP_PASSES = 2


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark session


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    from pyspark.sql import SparkSession

    spec = _load(os.path.join(HERE, "spec.json"))["spark"]
    tmp = os.path.join(work, "tmp")
    b = SparkSession.builder.master("local[%d]" % nproc()).appName("perfbench")
    for k, v in spec["conf"].items():
        b = b.config(k, v)
    b = (b.config("spark.sql.shuffle.partitions", str(2 * nproc()))
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions", " ".join(
             ["-Djava.io.tmpdir=" + tmp] + spec["driver_java_options"])))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_engine(batches):
    import hquery_php_spark.operators.extract_all  # noqa: F401
    import hquery_php_spark.operators.pipeline  # noqa: F401

    yield from batches


def warm_workers(spark) -> None:
    """First Python worker spawn on every core, importing the engine."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_import_engine, "id long").collect()


def stop_spark(spark) -> None:
    """Stop Spark and the JVM, then wait for every child process."""
    from pyspark import SparkContext

    from check import descendants, reap

    pids = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(pids)


# ---------------------------------------------------------------------------
# workloads


def _load(path: str):
    with open(path) as f:
        return json.load(f)


def write_parquet(path: str, columns: Dict[str, list], types: Dict[str, object],
                  files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    step = -(-n // files)
    for k in range(files):
        sl = slice(k * step, (k + 1) * step)
        t = pa.table({c: pa.array(v[sl], types[c]) for c, v in columns.items()})
        pq.write_table(t, os.path.join(path, "part-%05d.parquet" % k))


def write_pages(path: str, pages, files: int) -> None:
    import pyarrow as pa

    write_parquet(path, {
        "doc_id": [p.doc_id for p in pages],
        "html": [p.html for p in pages],
        "base_url": [p.base_url for p in pages],
    }, {"doc_id": pa.string(), "html": pa.binary(), "base_url": pa.string()}, files)


def x2_page(seed: int):
    """The page whose doubling gives each surface's ``x2_ratio``: a 600 KB
    mega page, big enough that a quadratic walk shows."""
    from corpus import mega_page

    return mega_page(seed * 100 + 99, "x2", 600_000)


class Workload:
    """One workload: corpus generation, a pass, and its output check."""

    name = ""

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.docs_per_pass = 0
        self.properties: dict = {}
        self.extra_checks: list = []  # (attempted, failed, examples) from probes

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", "pass%03d" % i)

    def input_dir(self, i: int) -> str:
        return os.path.join(self.work, "input")

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, i: int) -> None:
        raise NotImplementedError

    def check(self, spark, i: int):
        raise NotImplementedError

    def probe(self, spark) -> Dict[str, List[float]]:
        return {}


class _SpansIngest(Workload):
    """batched_extract into a snaptable with a metrics sidecar."""

    n_sets = 1

    def input_dir(self, i: int) -> str:
        return os.path.join(self.work, "input%d" % (i % self.n_sets))

    def _expect(self, pages) -> Dict[str, tuple]:
        from corpus import spans_digest

        return {p.doc_id: (spans_digest(p.spans),) for p in pages}

    def run_pass(self, spark, i: int) -> None:
        from hquery_php_spark.sources.ingest import batched_extract

        out = self.out_dir(i)
        batched_extract(spark, self.input_dir(i), os.path.join(out, "table"),
                        batches=1, metrics_path=os.path.join(out, "metrics"))

    def check(self, spark, i: int):
        from pyspark.sql import functions as F

        from check import check_rows
        from hquery_php_spark.sources.snaptable import SnapTable

        df = SnapTable(os.path.join(self.out_dir(i), "table")).read(spark)
        rows = df.select("doc_id", "error", F.sha2(F.to_json("spans"), 256)).collect()
        return check_rows(self.expected[i % self.n_sets], rows)


class CrawlIngest(_SpansIngest):
    name = "crawl_ingest"
    n_docs = 500

    def generate(self) -> None:
        from corpus import crawl_pages, input_properties

        pages = crawl_pages(self.seed, self.n_docs)
        write_pages(self.input_dir(0), pages, files=4)
        self.expected = [self._expect(pages)]
        rng = random.Random(self.seed)
        self.sample = rng.sample(pages, 120)
        self.docs_per_pass = len(pages)
        self.properties = input_properties(pages)

    def probe(self, spark):
        from probe import core_layers, surface_layers

        out = {"core." + k: v for k, v in core_layers(self.sample).items()}
        out.update({"surface." + k: v
                    for k, v in surface_layers(self.sample[:40], x2_page(self.seed)).items()})
        # pipeline_job's phase 2 on the planted curate_dedup table, so the
        # dedup and curate layers are measured by a workload BENCHMARK.json
        # lists (curate_dedup itself runs from the command line)
        cur = CurateDedup(self.seed, self.work)
        cur.generate()
        cur.run_pass(spark, 0)
        self.extra_checks.append(cur.check(spark, 0))
        out.update(cur.probe(spark))
        return out


class TinySpans(_SpansIngest):
    name = "tiny_spans"
    n_docs = 16_000
    n_sets = 3

    def generate(self) -> None:
        from corpus import input_properties, tiny_pages

        self.expected = []
        props = []
        for k in range(self.n_sets):
            pages = tiny_pages(self.seed * 10 + k, self.n_docs, id_prefix="t%d-" % k)
            write_pages(self.input_dir(k), pages, files=4)
            self.expected.append(self._expect(pages))
            props.append(input_properties(pages))
            if k == 0:
                self.sample = random.Random(self.seed).sample(pages, 2000)
        self.docs_per_pass = self.n_docs
        self.properties = dict(props[0], sets=self.n_sets,
                               distinct_attr_strings=sum(p["distinct_attr_strings"] for p in props))

    def probe(self, spark):
        from probe import core_layers

        return {"core." + k: v for k, v in core_layers(self.sample).items()}


class MegaTail(Workload):
    name = "mega_tail"
    n_body = 120
    mega_bytes = (1_000_000, 1_400_000)
    tail_bytes = 768 << 10

    def generate(self) -> None:
        from corpus import crawl_pages, input_properties, mega_page, spans_digest

        body = crawl_pages(self.seed, self.n_body, max_bytes=512 << 10, id_prefix="b")
        megas = [mega_page(self.seed * 100 + k, "mega%d" % k, n)
                 for k, n in enumerate(self.mega_bytes)]
        pages = body + megas
        write_pages(self.input_dir(0), pages, files=4)
        self.expected = {
            p.doc_id: (spans_digest(p.spans), p.n_sections, p.n_cells, p.title,
                       p.canonical, p.n_meta, "")
            for p in pages
        }
        rng = random.Random(self.seed)
        self.sample = rng.sample(body, 40)
        self.megas = megas
        self.docs_per_pass = len(pages)
        self.properties = input_properties(pages)

    def run_pass(self, spark, i: int) -> None:
        from pyspark.sql import functions as F

        from hquery_php_spark.operators.extract_all import extract_all_df
        from hquery_php_spark.operators.pipeline import split_tail_repartition

        docs = spark.read.parquet(self.input_dir(i)).withColumn(
            "size_bytes", F.length("html").cast("long"))
        docs = split_tail_repartition(
            docs, spark.sparkContext.defaultParallelism, size_col="size_bytes",
            tail_bytes=self.tail_bytes, key_col="doc_id")
        out = extract_all_df(docs, html_col="html", id_col="doc_id", url_col="base_url")
        out.write.parquet(self.out_dir(i))

    def check(self, spark, i: int):
        from pyspark.sql import functions as F

        from check import check_rows

        rows = spark.read.parquet(self.out_dir(i)).select(
            "doc_id", F.lit(None), F.sha2(F.to_json("spans"), 256), "n_sections",
            "n_cells", "title", "canonical", "n_meta", "sec1_path").collect()
        return check_rows(self.expected, rows)

    def probe(self, spark):
        from probe import core_layers, surface_layers

        out = {"core." + k: v for k, v in core_layers(self.sample + self.megas).items()}
        out.update({"surface." + k: v
                    for k, v in surface_layers(self.sample, x2_page(self.seed)).items()})
        return out


class CurateDedup(Workload):
    name = "curate_dedup"
    n_docs = 300

    def input_dir(self, i: int) -> str:
        return os.path.join(self.work, "curate-input")

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", "curate%03d" % i)

    def generate(self) -> None:
        import pyarrow as pa

        from corpus import curate_rows

        ci = curate_rows(self.seed, self.n_docs)
        rows = ci.rows
        write_parquet(self.input_dir(0), {
            "doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
            "domain": [r[2] for r in rows],
        }, {"doc_id": pa.int64(), "text": pa.string(), "domain": pa.string()}, files=4)
        self.survivors = ci.survivors
        self.docs_per_pass = len(rows)
        self.properties = ci.info

    def _opts(self):
        from hquery_php_spark.operators.curate import CurateOptions

        return CurateOptions(id_col="doc_id", text_col="text", domain_col="domain",
                             min_words=10, near_dup=True)

    def run_pass(self, spark, i: int) -> None:
        from hquery_php_spark.operators.curate import curate_corpus

        reg: list = []
        docs = spark.read.parquet(self.input_dir(i))
        kept = curate_corpus(docs, opts=self._opts(), persist_registry=reg)
        kept.select("doc_id", "pos", "n_tokens").write.parquet(self.out_dir(i))
        for cached in reg:
            cached.unpersist()

    def check(self, spark, i: int):
        from check import check_survivors

        rows = spark.read.parquet(self.out_dir(i)).select("doc_id", "pos").collect()
        self.rows_out = len(rows)
        return check_survivors(self.survivors, self.docs_per_pass, rows)

    def probe(self, spark):
        from hquery_php_spark.operators.curate import quality_gate
        from hquery_php_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
            ngram_jaccard_verify,
        )

        o = self._opts()
        docs = spark.read.parquet(self.input_dir(0))
        sigs = minhash_signatures(docs, text_col="text", id_col="doc_id",
                                  num_perm=o.num_perm, shingle_k=o.shingle_k)
        cands = minhash_lsh_candidates(sigs, bands=o.lsh_bands).persist()
        n_cands = cands.count()
        n_pairs = ngram_jaccard_verify(docs, cands, text_col="text", id_col="doc_id",
                                       k=o.shingle_k, threshold=o.jaccard_threshold).count()
        cands.unpersist()
        return {
            "dedup.candidate_pairs": [float(n_cands)],
            "dedup.verified_pairs": [float(n_pairs)],
            "dedup.pair_yield": [n_pairs / n_cands if n_cands else 0.0],
            "curate.rows_in": [float(self.docs_per_pass)],
            "curate.gate_rows": [float(quality_gate(docs, o).count())],
            "curate.rows_out": [float(self.rows_out)],
        }


CLASSES = {c.name: c for c in (CrawlIngest, TinySpans, MegaTail, CurateDedup)}


# ---------------------------------------------------------------------------
# layer metrics read from Spark's status stores


def window_layers(h, w, wall_s: float) -> Dict[str, float]:
    py = "MapInPandas"
    ins = "Execute InsertIntoHadoopFsRelationCommand"
    out = {
        "scan.time_s": w.sql_metric("Scan parquet", "scan time"),
        "scan.bytes": w.sql_metric("Scan parquet", "size of files read"),
        "py.boot_s": w.sql_metric(py, "time to start Python workers")
        + w.sql_metric(py, "time to initialize Python workers"),
        "py.run_s": w.sql_metric(py, "time to run Python workers"),
        "py.bytes_to_python": w.sql_metric(py, "data sent to Python workers"),
        "py.bytes_from_python": w.sql_metric(py, "data returned from Python workers"),
        "exchange.write_bytes": w.stage_sum("shuffleWriteBytes"),
        "exchange.read_bytes": w.stage_sum("shuffleReadBytes"),
        "exchange.write_time_s": w.stage_sum("shuffleWriteTime") / 1e9,
        "spill.bytes": w.stage_sum("memoryBytesSpilled") + w.stage_sum("diskBytesSpilled"),
        "write.rows": w.sql_metric(ins, "number of output rows"),
        "write.bytes": w.sql_metric(ins, "written output"),
        "write.files": w.sql_metric(ins, "number of written files"),
        "write.commit_s": w.sql_metric(ins, "task commit time")
        + w.sql_metric(ins, "job commit time"),
        "ingest.driver_s": max(0.0, wall_s - w.job_time_s()),
    }
    st = w.busiest_stage()
    if st is not None:
        p50, mx = h.task_quantiles(st, (0.5, 1.0))
        out["stage.task_p50_s"] = p50
        out["stage.task_max_s"] = mx
        out["stage.task_skew"] = mx / p50 if p50 > 0 else 0.0
    return out


def noop_pass_s(spark, path: str) -> float:
    """An identity mapInPandas over the workload's input to a noop sink."""
    df = spark.read.parquet(path)
    t = time.perf_counter()
    df.mapInPandas(lambda it: it, df.schema).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def summarize(samples: List[float]) -> dict:
    """Median, and the highest of p99/p95/p90 with >= 10 samples beyond it."""
    s = sorted(samples)
    out = {"n": len(s), "median": statistics.median(s)}
    for q in (0.99, 0.95, 0.90):
        if len(s) * (1 - q) >= 10:
            out["p%d" % round(q * 100)] = s[min(len(s) - 1, int(q * len(s)))]
            break
    return out


# ---------------------------------------------------------------------------
# one run


def run(args) -> dict:
    from check import Tally, peak_rss_mb

    wl = CLASSES[args.workload](args.seed, args.work)
    tracer = Tracer("%s-s%d-%d" % (args.workload, args.seed, os.getpid()))
    tally = Tally()
    spark = None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed, trace=args.trace):
            with tracer.span("generate"):
                t = time.perf_counter()
                wl.generate()
                gen_s = time.perf_counter() - t

            setups = []
            for k in range(3):
                with tracer.span("setup", attempt=k):
                    if spark is not None:
                        spark.stop()
                    t = time.perf_counter()
                    spark = start_session(args.work)
                    warm_workers(spark)
                    setups.append(time.perf_counter() - t)

            harvester = None
            if args.trace:
                from harvest import StatusHarvester

                harvester = StatusHarvester(spark)

            def one_pass(i: int, traced: bool):
                with tracer.span("pass", index=i, traced=traced):
                    mark = harvester.mark() if traced else None
                    t = time.perf_counter()
                    wl.run_pass(spark, i)
                    wall = time.perf_counter() - t
                    layers = window_layers(harvester, harvester.since(mark), wall) if traced else None
                with tracer.span("check", index=i):
                    a, f, ex = wl.check(spark, i)
                    tally.add(a, f, ex)
                    shutil.rmtree(wl.out_dir(i), ignore_errors=True)
                return wall, layers

            # warm-up: caches fill and the JIT settles, nothing timed
            for i in range(WARMUP_PASSES):
                one_pass(i, False)
            rates = {False: [], True: []}
            walls, per_pass = [], []
            i = WARMUP_PASSES
            while sum(walls) < args.seconds or len(rates[False]) < 2 or (
                    args.trace and len(rates[True]) < 2):
                traced = bool(args.trace) and i % 2 == 0
                wall, layers = one_pass(i, traced)
                walls.append(wall)
                rates[traced].append(wl.docs_per_pass / wall)
                if layers:
                    per_pass.append(layers)
                i += 1
            rss = peak_rss_mb()

            layer_samples: Dict[str, List[float]] = {}
            if args.trace:
                for layers in per_pass:
                    for k, v in layers.items():
                        layer_samples.setdefault(k, []).append(v)
                with tracer.span("noop_pass"):
                    layer_samples["py.noop_pass_s"] = [
                        noop_pass_s(spark, wl.input_dir(0)) for _ in range(2)]
                with tracer.span("probe"):
                    layer_samples.update(wl.probe(spark))
                for a, f, ex in wl.extra_checks:
                    tally.add(a, f, ex)
        return {
            "workload": wl, "gen_s": gen_s, "setups": setups, "rates": rates,
            "rss": rss, "tally": tally, "layers": layer_samples, "tracer": tracer,
        }
    finally:
        stop_spark(spark)


def report(args, res) -> dict:
    bench = _load(os.path.join(ROOT, "BENCHMARK.json"))
    wl, tally = res["workload"], res["tally"]
    untraced = res["rates"][False]
    e2e = {
        "setup_s": statistics.median(res["setups"]),
        "docs_per_s": statistics.median(untraced),
        "peak_rss_mb": sum(v for k, v in res["rss"].items() if not k.startswith("n_")),
    }
    print("workload %s  seed %d  nproc %d" % (wl.name, args.seed, nproc()))
    print("  input properties: %s" % json.dumps(wl.properties, sort_keys=True))
    print("  corpus generation: %.2f s (not part of setup_s)" % res["gen_s"])
    print("  setup_s     %.3f s   (median of %s)" % (
        e2e["setup_s"], ", ".join("%.2f" % s for s in res["setups"])))
    print("  docs_per_s  %.2f 1/s (median of %d untraced passes of %d docs)" % (
        e2e["docs_per_s"], len(untraced), wl.docs_per_pass))
    print("  failed_frac %.6f     (%d of %d documents)" % (
        tally.failed_frac, tally.failed, tally.attempted))
    print("  peak_rss_mb %.1f MB  (%s)" % (e2e["peak_rss_mb"], ", ".join(
        "%s %.0f MB in %d" % (k, v, res["rss"]["n_" + k])
        for k, v in sorted(res["rss"].items()) if not k.startswith("n_") and v)))
    print("  pass walls  %s s" % " ".join("%.2f" % (wl.docs_per_pass / r) for r in untraced))
    for ex in tally.examples:
        print("  FAILED %s" % ex)
    if args.trace:
        traced = res["rates"][True]
        layers = res["layers"]
        t_rate = statistics.median(traced)
        layers["trace.docs_per_s"] = [t_rate]
        layers["trace.overhead_frac"] = [1.0 - t_rate / e2e["docs_per_s"]]
        print("  tracing: %.2f docs/s traced vs %.2f untraced (overhead %.1f%%)" % (
            t_rate, e2e["docs_per_s"], 100 * layers["trace.overhead_frac"][0]))
        for m in bench["per_layer"]:
            s = layers.get(m["name"])
            if s:
                d = summarize(s)
                tail = "".join("  %s %.6g" % (k, v) for k, v in d.items() if k.startswith("p"))
                print("  %-28s %12.6g %-5s n=%d%s" % (m["name"], d["median"], m["unit"], d["n"], tail))
            else:
                print("  %-28s %12s %-5s (layer not run by this workload)" % (m["name"], "-", m["unit"]))
        if wl.name in ("crawl_ingest", "tiny_spans"):
            g = {k: statistics.median(v) for k, v in layers.items() if v}
            print("  split per pass: scan %.3f s | to Python %.0f B (boot %.3f s) | engine %.3f s"
                  " | from Python %.0f B | write commit %.3f s, driver %.3f s" % (
                      g.get("scan.time_s", 0), g.get("py.bytes_to_python", 0),
                      g.get("py.boot_s", 0), g.get("py.run_s", 0),
                      g.get("py.bytes_from_python", 0), g.get("write.commit_s", 0),
                      g.get("ingest.driver_s", 0)))
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench", "spans-%s.json" % res["tracer"].run_id)
        res["tracer"].write(path)
        print("  spans written to %s" % os.path.relpath(path, ROOT))
        names = bench["per_layer"]
        # a layer the workload does not run reports 0
        values = {m["name"]: statistics.median(layers[m["name"]]) if layers.get(m["name"]) else 0.0
                  for m in names}
    else:
        names = bench["end_to_end"]
        values = e2e
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }


def run_all(args) -> int:
    """Every workload in its own process; the last line merges them."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if p.returncode != 0 or not lines:
            print("workload %s failed (exit %d)" % (name, p.returncode))
            return 1
        r = json.loads(lines[-1])
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            merged["metrics"]["%s.%s" % (name, k)] = v
    print(json.dumps(merged))
    return 0


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM (e.g. from a timeout) unwinds like an exception, so Spark
    # is stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "hquery_php_spark")):
        print("perfbench: run from the repository root (no hquery_php_spark/ in %s)" % ROOT,
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    args.work = os.path.join(ROOT, ".perfbench", "work-%s-%d" % (args.workload, os.getpid()))
    os.makedirs(os.path.join(args.work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(args.work, "tmp")
    try:
        result = report(args, run(args))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
