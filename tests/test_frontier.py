"""Crawl-frontier assembly: dedup, robots gate, politeness layout."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def _cands(spark, rows):
    return spark.createDataFrame(
        rows, "url string, source_kind string, priority_micro long"
    )


def test_canonical_dedup_keeps_best_source(spark):
    from hquery_php_spark.operators.frontier import frontier_df

    # same page claimed as outlink and seed (tracking param stripped by
    # canonicalization) -> one row, seed wins
    c = _cands(
        spark,
        [
            ("https://A.com/p?utm_source=x", "outlink", 0),
            ("https://a.com/p", "seed", 0),
            ("https://b.com/q", "outlink", 0),
        ],
    )
    rows = frontier_df(c).collect()
    by_url = {r["url"]: r for r in rows}
    assert len(rows) == 2
    assert by_url["https://a.com/p"]["source_kind"] == "seed"


def test_priority_order_source_then_sitemap_priority(spark):
    from hquery_php_spark.operators.frontier import frontier_df

    c = _cands(
        spark,
        [
            ("https://h.com/a", "feed", 0),
            ("https://h.com/b", "sitemap", 500_000),
            ("https://h.com/c", "sitemap", 800_000),
            ("https://h.com/d", "seed", 0),
        ],
    )
    rows = frontier_df(c).orderBy("fetch_order").collect()
    order = [r["url"].rsplit("/", 1)[1] for r in rows]
    assert order == ["d", "c", "b", "a"]
    assert [r["fetch_order"] for r in rows] == [0, 1, 2, 3]


def test_robots_gate_drops_denied(spark):
    from hquery_php_spark.operators.frontier import frontier_df
    from hquery_php_spark.operators.robots import robots_rules_df

    robots = spark.createDataFrame(
        [("h.com", "User-agent: *\nDisallow: /no/\n")],
        "host string, robots_txt string",
    )
    c = _cands(
        spark,
        [
            ("https://h.com/no/x", "seed", 0),
            ("https://h.com/yes", "seed", 0),
        ],
    )
    urls = [r["url"] for r in frontier_df(c, robots_rules_df(robots)).collect()]
    assert urls == ["https://h.com/yes"]


def test_host_colocated_in_one_partition(spark):
    from hquery_php_spark.operators.frontier import frontier_df

    c = _cands(
        spark,
        [(f"https://host{i % 7}.com/p{i}", "outlink", 0) for i in range(70)],
    )
    out = frontier_df(c, n_host_buckets=4)
    # every host's rows carry exactly one bucket id
    per_host = (
        out.groupBy("host")
        .agg({"host_bucket": "count", "fetch_order": "max"})
        .collect()
    )
    import pyspark.sql.functions as F

    n_buckets = (
        out.groupBy("host").agg(F.countDistinct("host_bucket").alias("n")).collect()
    )
    assert all(r["n"] == 1 for r in n_buckets)
    # fetch_order is dense 0..n-1 per host
    for r in per_host:
        assert r["max(fetch_order)"] == r["count(host_bucket)"] - 1


def test_deterministic_rerun(spark):
    from hquery_php_spark.operators.frontier import frontier_df

    c = _cands(
        spark,
        [(f"https://h{i % 5}.com/{i}", ["seed", "sitemap", "feed", "outlink"][i % 4], (i % 3) * 100_000) for i in range(40)],
    )
    a = sorted(map(tuple, frontier_df(c).collect()))
    b = sorted(map(tuple, frontier_df(c).collect()))
    assert a == b


def test_host_link_edges_and_pagerank(spark):
    """Real-corpus feeder: exploded a[href] spans -> host edges -> the
    integer PageRank; a hub linked by everyone outranks the spokes."""
    import pyspark.sql.functions as F

    from hquery_php_spark.operators.graph import (
        host_ids,
        host_link_edges,
        pagerank_fixed_point,
    )

    rows = []
    # 6 spoke hosts each link to hub.com twice; hub links to s0 once
    for i in range(6):
        rows.append((f"s{i}.com", "media", f"https://hub.com/p{i}"))
        rows.append((f"s{i}.com", "media", f"https://hub.com/q{i}"))
        rows.append((f"s{i}.com", "text", None))
        rows.append((f"s{i}.com", "media", f"https://s{i}.com/self"))  # self-loop
    rows.append(("hub.com", "media", "https://s0.com/x"))
    spans = spark.createDataFrame(
        rows, "base_host string, kind string, media_ref string"
    )
    edges = host_link_edges(spans)
    got = {(r["src"], r["dst"]): r["n"] for r in edges.collect()}
    assert got[("s0.com", "hub.com")] == 2
    assert ("s0.com", "s0.com") not in got  # self-loop dropped
    assert got[("hub.com", "s0.com")] == 1

    ids = host_ids(edges, dense=True)
    e = (
        edges.join(ids.withColumnRenamed("host", "src"), "src")
        .withColumnRenamed("node_id", "src_id")
        .join(ids.withColumnRenamed("host", "dst"), "dst")
        .withColumnRenamed("node_id", "dst_id")
        .select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst"))
    )
    ranks = pagerank_fixed_point(e, iters=5)
    r = {row["node"]: row["rank_micro"] for row in ranks.collect()}
    hub = {row["host"]: row["node_id"] for row in ids.collect()}["hub.com"]
    assert r[hub] == max(r.values())

    # hashed ids: same edge structure, same winner
    ids_h = host_ids(edges)
    assert ids_h.count() == ids.count()
    assert ids_h.select("node_id").distinct().count() == ids.count()


def test_url_features_values(spark):
    import pyspark.sql.functions as F

    from hquery_php_spark.functions.url import url_features

    cases = [
        ("https://sub.example.co.uk/a/b/page.html?x=1&y=2#f",
         ("sub.example.co.uk", "uk", 3, "html", True, 2)),
        ("https://example.com/", ("example.com", "com", 1, "", False, 0)),
        ("https://example.com/deep/path/dir", ("example.com", "com", 3, "", False, 0)),
        ("https://host/doc.PDF", ("host", "", 1, "PDF", False, 0)),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    rows = df.select("url", url_features(F.col("url")).alias("f")).collect()
    got = {r["url"]: tuple(r["f"]) for r in rows}
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_robots_filter_never_forces_broadcast(spark):
    """The rules table is host-proportional (corpus-scale at 10^12
    docs): filter_allowed must not pin a broadcast hint — AQE decides
    at runtime from actual sizes."""
    from hquery_php_spark.operators.robots import (
        filter_allowed,
        robots_rules_df,
    )

    robots = spark.createDataFrame(
        [(f"h{i}.com", "User-agent: *\nDisallow: /x/\n") for i in range(20)],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [(f"h{i % 20}.com", f"https://h{i % 20}.com/p{i}") for i in range(200)],
        "host string, url string",
    )
    out = filter_allowed(urls, robots_rules_df(robots), keep_denied=True)
    logical = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical


def test_frontier_plan_politeness_exchange(spark):
    """The frontier's layout stage must be a hash Exchange on the
    host bucket (the politeness unit), and its rank window must be
    per-host — never a global single-partition window."""
    from hquery_php_spark.operators.frontier import frontier_df

    c = spark.createDataFrame(
        [(f"https://h{i % 9}.com/p{i}", "outlink", 0) for i in range(90)],
        "url string, source_kind string, priority_micro long",
    )
    out = frontier_df(c, n_host_buckets=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(host_bucket" in plan, plan
    # the rank window is keyed by host (bounded partitions), not empty
    assert "windowspecdefinition(host" in plan.replace(" ", "").lower(), plan


def test_politeness_schedule_from_crawl_delay(spark):
    from hquery_php_spark.operators.frontier import frontier_df
    from hquery_php_spark.operators.robots import robots_rules_df

    robots = spark.createDataFrame(
        [
            ("slow.com", "User-agent: *\nCrawl-delay: 2.5\nDisallow: /no/\n"),
            ("fast.com", "User-agent: *\nDisallow:\n"),
        ],
        "host string, robots_txt string",
    )
    c = spark.createDataFrame(
        [(f"https://slow.com/p{i}", "seed", 0) for i in range(3)]
        + [(f"https://fast.com/p{i}", "seed", 0) for i in range(2)]
        + [("https://norules.com/x", "seed", 0)],
        "url string, source_kind string, priority_micro long",
    )
    out = frontier_df(c, robots_rules_df(robots)).collect()
    sched = {r["url"]: (r["fetch_order"], r["earliest_fetch_s"]) for r in out}
    assert sched["https://slow.com/p0"] == (0, 0.0)
    assert sched["https://slow.com/p1"] == (1, 2.5)
    assert sched["https://slow.com/p2"] == (2, 5.0)
    assert sched["https://fast.com/p1"] == (1, 1.0)  # default 1 s
    assert sched["https://norules.com/x"] == (0, 0.0)


def test_politeness_layout_holds_at_output(spark):
    """The repartition+sortWithinPartitions is the FINAL step: at the
    operator's output, each host's rows are contiguous within one
    partition and in fetch sequence — even when the crawl_delay join
    (which used to re-shuffle after layout) is active."""
    from hquery_php_spark.operators.frontier import frontier_df
    from hquery_php_spark.operators.robots import robots_rules_df

    robots = spark.createDataFrame(
        [(f"h{i}.com", "User-agent: *\nCrawl-delay: 2\nDisallow: /no/\n")
         for i in range(6)],
        "host string, robots_txt string",
    )
    c = spark.createDataFrame(
        [(f"https://h{i % 6}.com/p{i:03d}", "outlink", 0) for i in range(60)],
        "url string, source_kind string, priority_micro long",
    )
    out = frontier_df(c, robots_rules_df(robots), n_host_buckets=4)
    hosts_i = out.columns.index("host")
    order_i = out.columns.index("fetch_order")

    def audit(it):
        seen_done = set()  # hosts whose run already ended in this partition
        cur, nxt = None, 0
        for row in it:
            h, fo = row[hosts_i], row[order_i]
            if h != cur:
                assert h not in seen_done, f"host {h} split into two runs"
                if cur is not None:
                    seen_done.add(cur)
                cur, nxt = h, 0
            assert fo == nxt, f"{h}: fetch_order {fo} != expected {nxt}"
            nxt += 1
        yield len(seen_done) + (1 if cur is not None else 0)

    per_part = out.rdd.mapPartitions(audit).collect()
    assert sum(per_part) == 6  # every host exactly one contiguous run


def test_anchor_term_topk(spark):
    from hquery_php_spark.operators.graph import anchor_term_topk

    rows = [
        ("media", "cheap widgets here", "https://shop.com/a"),
        ("media", "widgets widgets", "https://shop.com/b"),
        ("media", "news site", "https://news.com/x"),
        ("media", "", "https://bare.com/x"),  # imageish: no anchor text
        ("text", "not a link", None),
    ]
    spans = spark.createDataFrame(
        rows, "kind string, text string, media_ref string"
    )
    out = anchor_term_topk(spans, k=2).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["dst_host"], []).append((r["rk"], r["term"], r["n"]))
    assert sorted(by_host["shop.com"]) == [(1, "widgets", 3), (2, "cheap", 1)]
    assert sorted(by_host["news.com"]) == [(1, "news", 1), (2, "site", 1)]
    assert "bare.com" not in by_host
