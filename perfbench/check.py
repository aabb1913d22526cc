"""Output checking and process accounting for the perfbench runs.

A document fails when its output row is missing, carries an exception,
or differs from what the generator expects.  ``failed_frac`` is failed ÷
attempted, summed over every pass of a run.
"""

from __future__ import annotations

import os
import signal
import time
from typing import Dict, Iterable, List, Sequence, Tuple

__all__ = ["Tally", "check_rows", "check_survivors", "descendants", "peak_rss_mb",
           "reap"]


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.examples: List[str] = []

    def add(self, attempted: int, failed: int, examples: Sequence[str] = ()) -> None:
        self.attempted += attempted
        self.failed += failed
        self.examples.extend(examples[: max(0, 5 - len(self.examples))])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def check_rows(expected: Dict[str, tuple], rows: Iterable[tuple]) -> Tuple[int, int, List[str]]:
    """``rows`` are ``(doc_id, error, *fields)``; ``expected`` maps each
    doc_id to its ``fields``.  Returns (attempted, failed, examples)."""
    seen = set()
    failed, examples = 0, []
    for doc_id, error, *fields in rows:
        bad = None
        if doc_id not in expected:
            bad = "unexpected row"
        elif doc_id in seen:
            bad = "duplicate row"
        elif error is not None:
            bad = "error: %s" % error
        elif tuple(fields) != expected[doc_id]:
            bad = "differs: %r != %r" % (tuple(fields), expected[doc_id])
        seen.add(doc_id)
        if bad:
            failed += 1
            examples.append("%s %s" % (doc_id, bad))
    missing = [d for d in expected if d not in seen]
    examples.extend("%s missing" % d for d in missing[:5])
    return len(expected), failed + len(missing), examples


def check_survivors(expected: Sequence[int], attempted: int,
                    rows: Iterable[Tuple[int, int]]) -> Tuple[int, int, List[str]]:
    """Curate output ``(doc_id, pos)`` against the expected survivor ids;
    positions must be a permutation of 0..n-1."""
    want = set(expected)
    got: Dict[int, int] = {}
    failed, examples = 0, []
    for doc_id, pos in rows:
        if doc_id not in want or doc_id in got:
            failed += 1
            examples.append("%s unexpected or duplicate survivor" % doc_id)
        got[doc_id] = pos
    missing = want - set(got)
    failed += len(missing)
    examples.extend("%s missing survivor" % d for d in sorted(missing)[:5])
    if sorted(got.values()) != list(range(len(got))):
        failed += 1
        examples.append("positions are not a permutation of 0..n-1")
    return attempted, failed, examples


def _ppid_map() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces and parentheses
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants() -> List[int]:
    """Every live process started, directly or not, by this one."""
    children: Dict[int, List[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> Dict[str, float]:
    """Peak resident set (VmHWM) per program name, summed over every
    process this one started — the JVM and the Python daemon and
    workers.  Pages shared after fork count once per process, so the
    total bounds the true peak from above."""
    out: Dict[str, float] = {}
    for p in descendants():
        try:
            with open("/proc/%d/comm" % p) as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + _vm_hwm_kb(p) / 1024.0
        out["n_" + name] = out.get("n_" + name, 0) + 1
    return out


def reap(pids: Iterable[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what outlives ``timeout``."""
    pids = set(pids)
    deadline = time.monotonic() + timeout
    while pids:
        for p in list(pids):
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass  # not our child: only its /proc entry tells
            if not os.path.exists("/proc/%d" % p) or _zombie(p):
                pids.discard(p)
        if not pids:
            break
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
