"""Spans, process-tree memory and Spark's public monitoring data.

Spans are recorded from the benchmark's side of each layer boundary and kept
in memory until the run ends. Nothing here patches or imports engine code.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
import urllib.request


class Tracer:
    """In-memory spans: name, start, end, parent and a trace id shared by
    every span of one query or connection. Callers time their own work;
    when disabled, ``add`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            trace: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "trace": trace, **attrs})
        self.self_s += time.perf_counter() - t0
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def tree(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and all its descendants, minus the subtrees at ``exclude``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while we looked
    members = []
    for pid in parent:
        p = pid
        while p not in (0, 1) and p != root and p not in exclude:
            p = parent.get(p, 0)
        if p == root:
            members.append(pid)
    return members


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_rss_kb(root: int, exclude: set[int]) -> int:
    return sum(_pss_kb(p) for p in tree(root, exclude))


class RssSampler:
    """Samples the resident memory (PSS) of this process tree — the Python
    process running PySpark, its JVM and the Python workers — and keeps the
    peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me, self.exclude))
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid(), self.exclude))
        return self.peak_kb / 1024.0


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(text: str) -> float:
    """A Spark UI metric string as a number: "1,234", "10.3 MiB", or the
    "total (min, med, max ...)\\n10.3 MiB (...)" form, whose total comes
    first on the second line."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


class SparkRest:
    """Spark's monitoring REST API on the application UI (``localhost`` only)."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 20.0) -> None:
        """Wait until the UI store has caught up: no running jobs and the
        job count stable across two polls."""
        deadline = time.time() + timeout_s
        last = -1
        while time.time() < deadline:
            jobs = self.get("/jobs")
            running = any(j["status"] == "RUNNING" for j in jobs)
            if not running and len(jobs) == last:
                return
            last = len(jobs)
            time.sleep(0.5)

    def by_group(self, prefix: str) -> dict[str, dict]:
        """Per job group starting with ``prefix``: jobs, tasks and summed
        stage metrics, plus the SQL metrics of the executions those jobs
        ran in."""
        jobs = [j for j in self.get("/jobs") if (j.get("jobGroup") or "").startswith(prefix)]
        stages: dict[int, list[dict]] = {}
        for s in self.get("/stages"):
            if s["status"] != "SKIPPED":
                stages.setdefault(s["stageId"], []).append(s)
        sql = self.get("/sql?details=true&planDescription=false&length=100000")
        out: dict[str, dict] = {}
        group_of: dict[int, str] = {}
        for j in jobs:
            g = out.setdefault(j["jobGroup"], {
                "jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
                "spill": 0, "input_bytes": 0, "files_read": 0.0,
                "py_sent": 0.0, "py_recv": 0.0,
            })
            group_of[j["jobId"]] = j["jobGroup"]
            g["jobs"] += 1
            for sid in j["stageIds"]:
                for s in stages.get(sid, []):
                    g["tasks"] += s.get("numCompleteTasks", 0)
                    g["run_ms"] += s.get("executorRunTime", 0)
                    g["gc_ms"] += s.get("jvmGcTime", 0)
                    g["shuffle_write"] += s.get("shuffleWriteBytes", 0)
                    g["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    g["input_bytes"] += s.get("inputBytes", 0)
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            groups = {group_of[i] for i in ids if i in group_of}
            if len(groups) != 1:
                continue
            g = out[groups.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "number of files read":
                        g["files_read"] += parse_metric(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        g["py_sent"] += parse_metric(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        g["py_recv"] += parse_metric(m["value"])
        return out
