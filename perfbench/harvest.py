"""Spark status-store harvester.

Reads what Spark already records about finished work — the SQL
executions' plan-node metrics and the stages' task metrics — through
the monitoring REST API of the running application
(``{uiWebUrl}/api/v1/applications/{appId}``).  Nothing here runs an
extra action over the data.

Usage::

    h = StatusHarvester(spark)
    mark = h.mark()
    df.write.parquet(path)            # any actions
    window = h.since(mark)            # everything those actions did
    window.sql_metric("Scan parquet", "size of files read")

Spark updates its stores from a listener bus asynchronously;
``since`` drains the bus first, so a window read right after an action
is complete.
"""

from __future__ import annotations

import json
import re
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime
from typing import Dict, List, Optional, Sequence

__all__ = ["StatusHarvester", "Window", "parse_metric"]

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "h": 3600.0,
}
# the SQL list endpoint pages by 20 executions unless told otherwise
_ALL = 1 << 30
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(value: str) -> float:
    """A SQL metric string in base units (count, bytes or seconds).

    Spark renders a task-level metric as ``"total (min, med, max ...)\\n
    <total> (<min>, ...)"`` and a driver-level one as ``"<total>"``; the
    total is the number before the first parenthesis of the last line."""
    line = value.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        raise ValueError("unparsable SQL metric %r" % value)
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError("unknown unit %r in SQL metric %r" % (unit, value))
    return num * _UNITS.get(unit, 1.0)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Window:
    """Jobs, stages and SQL executions that finished after a mark."""

    jobs: List[dict] = field(default_factory=list)
    stages: List[dict] = field(default_factory=list)
    sql: List[dict] = field(default_factory=list)

    def job_time_s(self) -> float:
        """Sum of job walls (submission → completion)."""
        return sum(
            _ts(j["completionTime"]) - _ts(j["submissionTime"])
            for j in self.jobs if "completionTime" in j
        )

    def stage_sum(self, key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.stages))

    def sql_metric(self, node: str, metric: str) -> float:
        """Sum of ``metric`` over every plan node named ``node``."""
        return sum(
            parse_metric(m["value"])
            for ex in self.sql for n in ex["nodes"] if n["nodeName"] == node
            for m in n["metrics"] if m["name"] == metric
        )

    def busiest_stage(self) -> Optional[dict]:
        done = [s for s in self.stages if s.get("status") == "COMPLETE"]
        return max(done, key=lambda s: s["executorRunTime"], default=None)


class StatusHarvester:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the status REST API needs spark.ui.enabled=true")
        self._sc = sc
        self._base = "%s/api/v1/applications/%s" % (sc.uiWebUrl, sc.applicationId)

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> Dict[str, int]:
        self.drain()
        jobs = self._get("/jobs")
        sql = self._get("/sql?details=false&length=%d" % _ALL)
        return {
            "job": max((j["jobId"] for j in jobs), default=-1),
            "sql": max((e["id"] for e in sql), default=-1),
        }

    def since(self, mark: Dict[str, int]) -> Window:
        self.drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark["job"]]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
        sql = [
            e for e in self._get("/sql?details=true&planDescription=false&length=%d" % _ALL)
            if e["id"] > mark["sql"]
        ]
        return Window(jobs, stages, sql)

    def task_quantiles(self, stage: dict, qs: Sequence[float]) -> List[float]:
        """Task run-time quantiles (seconds) of one stage."""
        d = self._get(
            "/stages/%d/%d/taskSummary?quantiles=%s"
            % (stage["stageId"], stage["attemptId"], ",".join(str(q) for q in qs))
        )
        return [v / 1000.0 for v in d["executorRunTime"]]
