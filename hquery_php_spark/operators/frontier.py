"""Crawl frontier assembly: the composed discovery -> fetch-queue job.

Ties the discovery operators into the one table a crawler actually
consumes: candidate URLs from every source (seed lists, sitemap
entries, feed entry links, page outlinks from the extract pipeline)
are canonicalized, deduplicated, robots-filtered, prioritized, and
laid out for *polite* fetching.  Every stage is an expression or a
linear shuffle — the design scales to a 10^12-URL frontier:

1. **union + canonicalize** — sources share the (url, source_kind,
   discovered_rank, lastmod?, priority?) contract; canonical form via
   ``functions/url.canonical_url`` (zero-shuffle expression).
2. **dedup** — one groupBy on the canonical URL keeps the
   best-priority / earliest-discovery row (first-occurrence rank, the
   same partial-agg shape as exact dedup).
3. **robots gate** — ``operators/robots.filter_allowed``: one shuffle
   join on host, map-side longest-match decision.
4. **priority** — deterministic score: source weight (seed > sitemap
   > feed > outlink) + sitemap priority when present; integer
   arithmetic so re-runs reproduce bit-for-bit.
5. **rank + schedule** — per-host ``fetch_order`` window and the
   crawl-delay schedule column.
6. **politeness layout (FINAL step)** — ``repartition(host_bucket)``
   + ``sortWithinPartitions(host, priority desc)``: all URLs of a
   host land in one partition, ordered by fetch sequence, so a
   fetcher task can stream a partition and apply the host's
   crawl-delay locally without any cross-task coordination.  Host
   buckets are salted only in count (hash(host) % n): a mega-host
   still serializes through one partition BY DESIGN — politeness is
   per-host serial fetching; parallelism comes from the number of
   distinct hosts, which is what a real frontier scales with.

``frontier_df`` returns the laid-out frontier with (url, host,
source_kind, priority, host_bucket, fetch_order).  ``fetch_order`` is
the within-host 0-based rank — the politeness sequence number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.url import canonical_url

__all__ = ["frontier_df", "SOURCE_WEIGHTS"]

# source precedence: explicit seeds first, then webmaster-declared
# sitemaps, then feed-pushed entries, then crawled outlinks
SOURCE_WEIGHTS = {"seed": 3_000_000, "sitemap": 2_000_000,
                  "feed": 1_000_000, "outlink": 0}


def _weight_expr():
    w = F.lit(SOURCE_WEIGHTS["outlink"])
    for k, v in SOURCE_WEIGHTS.items():
        w = F.when(F.col("source_kind") == k, F.lit(v)).otherwise(w)
    return w


def frontier_df(
    candidates: DataFrame,
    robots_rules: DataFrame | None = None,
    n_host_buckets: int = 256,
) -> DataFrame:
    """``candidates``: (url, source_kind['seed'|'sitemap'|'feed'|
    'outlink'], priority_micro int — e.g. sitemap <priority> * 1e6,
    0 when unknown).  ``robots_rules``: output of
    ``robots.robots_rules_df`` (host, rules, crawl_delay) or None to
    skip the gate.  Returns the politeness-partitioned frontier."""
    c = candidates.select(
        canonical_url(F.col("url")).alias("url"),
        F.col("source_kind"),
        F.coalesce(F.col("priority_micro"), F.lit(0)).cast("long")
            .alias("priority_micro"),
    ).where(F.col("url").isNotNull())

    # integer priority: source weight dominates, sitemap priority breaks
    # ties inside a source class
    c = c.withColumn(
        "priority", (_weight_expr() + F.col("priority_micro")).cast("long")
    )

    # dedup on canonical URL: keep the highest-priority claim (one
    # partial-agg shuffle; max() combines map-side)
    best = c.groupBy("url").agg(
        F.max(F.struct("priority", "source_kind")).alias("b")
    ).select(
        "url",
        F.col("b.priority").alias("priority"),
        F.col("b.source_kind").alias("source_kind"),
    )

    best = best.withColumn(
        "host",
        F.lower(F.regexp_extract(F.col("url"), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)),
    )

    if robots_rules is not None:
        from .robots import filter_allowed

        best = filter_allowed(best, robots_rules)

    # derive fetch_order + schedule FIRST (the window's hash(host)
    # exchange would invalidate a prior layout anyway; the crawl_delay
    # join reuses the same host partitioning), THEN apply the
    # politeness layout as the FINAL step so the output really holds
    # the documented "partition = one politeness unit, stream in
    # order" property.
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), "url")
    out = best.withColumn(
        "fetch_order", (F.row_number().over(w) - 1).cast("int")
    )
    out = out.withColumn(
        "host_bucket",
        F.pmod(F.xxhash64("host"), F.lit(n_host_buckets)).cast("int"),
    ).select("url", "host", "source_kind", "priority", "host_bucket",
             "fetch_order")
    if robots_rules is not None and "crawl_delay" in robots_rules.columns:
        # politeness schedule: the earliest second (relative to the
        # host's first fetch) this URL may be fetched — fetch_order x
        # the host's Crawl-delay (default 1 s).  A fetcher streaming a
        # bucket partition sleeps to this offset and needs NO
        # cross-task coordination; the column is derived, one more
        # probe of the same host-keyed join.
        cd = robots_rules.select("host", "crawl_delay")
        out = out.join(cd, "host", "left").withColumn(
            "earliest_fetch_s",
            (
                F.col("fetch_order")
                * F.coalesce(F.col("crawl_delay"), F.lit(1.0))
            ).cast("double"),
        ).drop("crawl_delay")
    # politeness layout: co-locate each host, order by fetch sequence
    # inside it — the operator's OUTPUT contract
    return out.repartition(n_host_buckets, "host_bucket").sortWithinPartitions(
        "host", F.col("priority").desc(), "url"
    )
