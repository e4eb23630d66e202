"""Span recorder and /proc probes for the traced benchmark run.

Spans are kept in memory (name, start, end, parent, run id) and written as
JSON when the run ends. Each span runs its Spark jobs under its own job
group, so the jobs, tasks and failed tasks of every traced call are read
back from ``statusTracker()``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICKS = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records nested spans when ``enabled``; otherwise ``span`` is a no-op
    so the untimed and traced iterations run the same code."""

    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}-{sid}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec.update(_job_stats(self.sc, group))
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"{self.run_id}-{parent}", self.spans[parent]["name"])

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        rec = next(r for r in reversed(self.spans) if r["name"] == name)
        return rec["end"] - rec["start"]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its children cover (children of
        one span run one after another, so their durations add up)."""
        out = {r["id"]: r["end"] - r["start"] for r in self.spans}
        for r in self.spans:
            if r["parent"] is not None:
                out[r["parent"]] -= r["end"] - r["start"]
        return out

    def totals(self) -> dict[str, int]:
        keys = ("jobs", "tasks", "failed_tasks")
        return {k: sum(r.get(k, 0) for r in self.spans) for k in keys}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = [{**r, "self_s": selfs[r["id"]]} for r in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _job_stats(sc, group: str) -> dict[str, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else []:
            st = tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


# ---------------------------------------------------------------------------
# /proc probes over this process and everything it started (JVM, Python
# workers)
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its live descendants."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            total += int(st[11]) + int(st[12])
    return total / _TICKS


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over all
    CPUs since boot (``steal`` in /proc/stat). Its growth across a run
    tells host contention apart from a slower program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICKS


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM."""
    jvms = [p for p in descendants() if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in [os.getpid(), *jvms]) / 1024


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still running."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (_stat(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive
