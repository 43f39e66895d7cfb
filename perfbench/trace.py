"""Spans, Spark stage metrics and process readings for the benchmark.

Spans wrap the benchmark's own calls into the program's public functions;
nothing inside the program is instrumented. Each span sets a Spark job
group, so stage and SQL metrics read back from the UI's REST API (on
localhost) can be attributed to the span that caused them.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent. Written out at the end."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[str] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        self._stack.append(name)
        self._sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(parent, parent)
            self.spans.append(rec)


# ---------------------------------------------------------------------------
# the driver's process tree: the JVM and the Python workers it forks
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def peak_rss_bytes() -> int:
    """Sum of the kernel's resident high-water marks of this process's
    descendants: the JVM and the Python workers it forked (reused for the
    whole run, so they are all still alive when this is read)."""
    return sum(_hwm_bytes(pid) for pid in descendants(os.getpid()))


def _cpu_ticks(pids) -> int:
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total


def python_cpu_s() -> float:
    """User+system CPU of the live Python workers plus what their reaped
    children used."""
    return _cpu_ticks(p for p in descendants(os.getpid()) if _is_python(p)) / _CLK_TCK


def tree_cpu_s() -> float:
    """User+system CPU of this process and its descendants (the JVM and the
    Python workers), reaped children included. Time the host's scheduler or
    hypervisor gives to other tenants is not in it."""
    me = os.getpid()
    return _cpu_ticks([me] + descendants(me)) / _CLK_TCK


def jit_cpu_s() -> float:
    """User+system CPU of the JVM's JIT compiler threads. They must live as
    long as the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``): a thread
    that exits takes its reading with it."""
    total = 0
    for pid in descendants(os.getpid()):
        if _is_python(pid):
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:
                f = raw[raw.rindex(")") + 2 :].split()
                total += int(f[11]) + int(f[12])
    return total / _CLK_TCK


# ---------------------------------------------------------------------------
# Spark UI REST API (offline: the driver's own UI on localhost)
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _size_total(value: str) -> float:
    """First figure of a formatted SQL size metric ('total (...)\\n1.2 MiB (...)'
    or '1.2 MiB') in bytes."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", value.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class SparkRest:
    """Jobs, stages and SQL executions of this application, by job group."""

    def __init__(self, sc):
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 20.0) -> None:
        """Wait until the status store's job list is complete and stable
        (listener events arrive asynchronously)."""
        deadline = time.time() + timeout_s
        seen = -1
        while time.time() < deadline:
            jobs = self._get("/jobs")
            if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
                return
            seen = len(jobs)
            time.sleep(0.3)

    def storage_bytes(self) -> float:
        """Memory plus disk bytes of every persisted RDD right now."""
        return float(sum(r["memoryUsed"] + r["diskUsed"] for r in self._get("/storage/rdd")))

    def snapshot(self) -> "SparkMetrics":
        return SparkMetrics(
            jobs=self._get("/jobs"),
            stages=self._get("/stages?details=false"),
            sql=self._get("/sql?details=true&planDescription=false&offset=0&length=100000"),
            summary=lambda sid, att: self._get(
                f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0"
            ),
        )


class SparkMetrics:
    def __init__(self, jobs, stages, sql, summary):
        self.jobs = jobs
        self._stages = {(s["stageId"], s["attemptId"]): s for s in stages}
        self._sql = sql
        self._summary = summary

    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") == group]

    def group_stages(self, group: str) -> list[dict]:
        ids = {sid for j in self.group_jobs(group) for sid in j["stageIds"]}
        return [s for (sid, _a), s in self._stages.items() if sid in ids and s["status"] == "COMPLETE"]

    def stage_sum(self, group: str, key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.group_stages(group)))

    def task_skew(self, group: str) -> float:
        """Max ÷ median task run time in the group's largest shuffle-read stage."""
        reduce = [s for s in self.group_stages(group) if s.get("shuffleReadBytes", 0) > 0]
        if not reduce:
            return 0.0
        s = max(reduce, key=lambda s: s["executorRunTime"])
        q = self._summary(s["stageId"], s["attemptId"])
        med, mx = q["executorRunTime"]
        if med <= 0:
            med, mx = q["duration"]
        return mx / med if med > 0 else 0.0

    def sql_metric(self, group: str, node: str, metric: str) -> float:
        """Sum of a SQL size metric over ``node`` operators of the group's
        executions (e.g. the Python worker bytes of ArrowEvalPython)."""
        job_ids = {j["jobId"] for j in self.group_jobs(group)}
        total = 0.0
        for ex in self._sql:
            ran = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ran & job_ids:
                continue
            for n in ex.get("nodes", []):
                if n.get("nodeName") == node:
                    for m in n.get("metrics", []):
                        if m["name"] == metric:
                            total += _size_total(m["value"])
        return total

    def busy_intervals(self, group: str) -> list[tuple[float, float]]:
        out = []
        for j in self.group_jobs(group):
            if j.get("submissionTime") and j.get("completionTime"):
                out.append((_epoch(j["submissionTime"]), _epoch(j["completionTime"])))
        return sorted(out)

    def totals(self) -> dict[str, float]:
        stages = [s for s in self._stages.values() if s["status"] == "COMPLETE"]
        return {
            "spark.jobs": float(len(self.jobs)),
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        }


def _epoch(ts: str) -> float:
    # the REST API's timestamps look like 2026-10-17T03:10:49.123GMT
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def idle_seconds(start: float, end: float, busy: list[tuple[float, float]]) -> float:
    """Wall time in [start, end] (epoch seconds) covered by no busy interval."""
    covered, cur = 0.0, start
    for a, b in busy:
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)
