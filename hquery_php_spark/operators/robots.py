"""robots.txt: RFC 9309 parse + corpus-scale URL allow-filter.

The crawl-policy gate every web pipeline runs before fetching — and,
at curation time, the "re-check politeness at ingest" step (a corpus
assembled from WARC archives still filters against current robots
rules before re-crawling or attribution).  Two layers:

* ``parse_robots(text)`` — group-structured parse per RFC 9309:
  ``User-agent`` lines open a group (consecutive agent lines share
  it), ``Allow``/``Disallow`` rules attach to the current group,
  ``Sitemap``/``Crawl-delay`` recorded (sitemaps are global).
  ``rules_for(agent)`` picks the group by longest-substring agent
  match, falling back to ``*``.  ``is_allowed(rules, path)``
  implements longest-match-wins (tie -> Allow), with ``*`` wildcards
  and the ``$`` end anchor compiled to anchored regexes; an empty
  Disallow value allows everything (RFC 9309 §2.2.2).

* Scale surface: ``robots_rules_df`` parses one robots.txt per host
  (Arrow-batched ``mapInPandas`` — parse cost ∝ hosts, not URLs) into
  a (host, rules array<struct>) table; ``filter_allowed`` joins URLs
  to rules on host (plain shuffle join — hosts are corpus-proportional,
  AQE broadcasts when the rule table is actually small) and evaluates
  the longest-match decision ENTIRELY as JVM expressions: a
  ``filter``/``aggregate`` fold over the rule array picks the most
  specific matching rule ((pattern octets, allow) lexicographic max —
  RFC tie break), ``startswith`` for literal prefixes and
  ``regexp_like`` only for rules that actually contain ``*``/``$``.
  No per-URL Python, no explode: shuffle = one join, decision is
  map-side.
"""

from __future__ import annotations

import re
from typing import Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import functions as F

__all__ = [
    "RobotsRule",
    "Robots",
    "parse_robots",
    "is_allowed",
    "robots_rules_df",
    "filter_allowed",
]


class RobotsRule(NamedTuple):
    allow: bool
    pattern: str


class Robots(NamedTuple):
    groups: Tuple[Tuple[Tuple[str, ...], Tuple[RobotsRule, ...]], ...]
    sitemaps: Tuple[str, ...]
    crawl_delay: Dict[str, float]  # agent (lowercased) -> seconds

    def rules_for(self, agent: str = "*") -> Tuple[RobotsRule, ...]:
        """Rules from ALL groups whose agent token attains the best
        match score — RFC 9309 §2.2.1 requires combining matching
        groups (e.g. two ``User-agent: *`` blocks in a concatenated
        robots.txt contribute rules jointly).  Token match = longest
        substring of ``agent`` (case-insensitive); ``*`` scores 0."""
        al = agent.lower()
        scored: List[Tuple[int, Tuple[RobotsRule, ...]]] = []
        best = -1
        for agents, rules in self.groups:
            score = -1
            for a in agents:
                if a == "*":
                    s = 0
                elif a in al:
                    s = len(a)
                else:
                    continue
                if s > score:
                    score = s
            scored.append((score, rules))
            if score > best:
                best = score
        if best < 0:
            return ()
        out: List[RobotsRule] = []
        for s, rules in scored:
            if s == best:
                out.extend(rules)
        return tuple(out)

    def delay_for(self, agent: str = "*") -> Optional[float]:
        al = agent.lower()
        best: Tuple[int, Optional[float]] = (-1, None)
        for a, d in self.crawl_delay.items():
            score = 0 if a == "*" else (len(a) if a in al else -1)
            if score > best[0]:
                best = (score, d)
        return best[1]


def parse_robots(text) -> Robots:
    """Parse robots.txt content (str/bytes); never raises."""
    if text is None:
        return Robots((), (), {})
    if isinstance(text, (bytes, bytearray)):
        text = bytes(text).decode("utf-8", "replace")
    groups: List[Tuple[List[str], List[RobotsRule]]] = []
    sitemaps: List[str] = []
    delay: Dict[str, float] = {}
    cur: Optional[Tuple[List[str], List[RobotsRule]]] = None
    agents_open = False  # consecutive UA lines accumulate into one group
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if cur is None or not agents_open:
                cur = ([], [])
                groups.append(cur)
            cur[0].append(val.lower())
            agents_open = True
        elif key in ("allow", "disallow"):
            agents_open = False
            if cur is None:  # rules before any UA line: implicit '*'
                cur = (["*"], [])
                groups.append(cur)
            if key == "disallow" and val == "":
                continue  # empty Disallow = no rule (allows everything)
            if val:
                cur[1].append(RobotsRule(key == "allow", val))
        elif key == "sitemap":
            agents_open = False
            if val:
                sitemaps.append(val)
        elif key == "crawl-delay":
            agents_open = False
            try:
                d = float(val)
            except ValueError:
                continue
            for a in (cur[0] if cur else ["*"]):
                # multiple groups for one token (concatenated files):
                # keep the CONSERVATIVE (largest) delay, consistent
                # with rules_for's RFC 9309 §2.2.1 group merge
                delay[a] = max(delay.get(a, d), d)
        else:
            agents_open = False
    return Robots(
        tuple((tuple(a), tuple(r)) for a, r in groups),
        tuple(sitemaps),
        delay,
    )


def _pattern_rx(p: str) -> Optional[str]:
    """Anchored regex for a pattern containing * or $; None if the
    pattern is a plain literal prefix (fast path)."""
    if "*" not in p and not p.endswith("$"):
        return None
    anchored = p.endswith("$")
    body = p[:-1] if anchored else p
    rx = "^" + ".*".join(re.escape(seg) for seg in body.split("*"))
    return rx + "$" if anchored else rx


def is_allowed(rules, path: str) -> bool:
    """Longest-match-wins (tie -> Allow); no matching rule -> allowed."""
    best: Tuple[int, int] = (-1, 1)  # (pattern octets, allow)
    for r in rules:
        rx = _pattern_rx(r.pattern)
        ok = re.match(rx, path) if rx is not None else path.startswith(r.pattern)
        if ok:
            cand = (len(r.pattern), 1 if r.allow else 0)
            if cand > best:
                best = cand
    return best[1] == 1


# ----------------------------------------------------------------- #
# Spark surface


def robots_rules_df(df, host_col: str = "host", txt_col: str = "robots_txt",
                    agent: str = "*"):
    """(host, robots_txt) -> (host, rules array<struct<allow boolean,
    pattern string, rx string, plen int>>, crawl_delay double) — one
    row per host, rules pre-resolved for ``agent``."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ..batch import map_rows

    rule_t = StructType(
        [
            StructField("allow", BooleanType()),
            StructField("pattern", StringType()),
            StructField("rx", StringType()),
            StructField("plen", IntegerType()),
        ]
    )
    schema = StructType(
        [
            StructField(host_col, df.schema[host_col].dataType),
            StructField("rules", ArrayType(rule_t)),
            StructField("crawl_delay", DoubleType()),
            # robots-declared sitemap URLs: the discovery input
            # jobs/frontier_job.py consumes (global per RFC 9309)
            StructField("sitemaps", ArrayType(StringType())),
        ]
    )

    def row(h, t):
        rb = parse_robots(t)
        rules = [
            {
                "allow": r.allow,
                "pattern": r.pattern,
                "rx": _pattern_rx(r.pattern),
                "plen": len(r.pattern),
            }
            for r in rb.rules_for(agent)
        ]
        return [(h, rules, rb.delay_for(agent), list(rb.sitemaps))]

    return map_rows(df.select(host_col, txt_col), schema, row)


def filter_allowed(urls_df, rules_df, url_col: str = "url",
                   host_col: str = "host", keep_denied: bool = False):
    """URLs x per-host rules -> allowed URLs (or all, with an
    ``allowed`` flag, when ``keep_denied``).  One shuffle join on
    host; the longest-match decision is a map-side expression fold."""
    u = urls_df.withColumn(
        "__path",
        F.coalesce(
            F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/]*(/.*)$", 1),
            F.lit("/"),
        ),
    )
    u = u.withColumn(
        "__path", F.when(F.col("__path") == "", "/").otherwise(F.col("__path"))
    )
    j = u.join(rules_df.select(host_col, "rules"), host_col, "left")
    p = F.col("__path")
    matched = F.filter(
        F.col("rules"),
        lambda r: F.when(
            r["rx"].isNull(), p.startswith(r["pattern"])
        ).otherwise(F.regexp_like(p, r["rx"])),
    )
    # RFC tie break: lexicographic max over (pattern octets, allow)
    best = F.aggregate(
        matched,
        F.struct(
            F.lit(-1).cast("int").alias("plen"),
            F.lit(True).alias("allow"),
        ),
        lambda acc, r: F.when(
            (r["plen"] > acc["plen"])
            | ((r["plen"] == acc["plen"]) & r["allow"]),
            F.struct(r["plen"].alias("plen"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    allowed = F.coalesce(best["allow"], F.lit(True))
    out = j.withColumn("allowed", allowed).drop("__path", "rules")
    return out if keep_denied else out.where("allowed").drop("allowed")
