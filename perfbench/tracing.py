"""Spans around the benchmark's calls into the engine, and the Spark
counters attached to them.

A :class:`Tracer` records one span per call (name, layer, start, end,
parent, pass, query). When job tagging is on, each span also sets the
Spark job group to its span id, so every job the call starts, and the
stages, tasks and SQL plan-node metrics under it, can be attached to
the span afterwards. The counters come from the Spark UI's status REST
API on the driver (``/api/v1``), read once after the timed passes.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import time
import urllib.request
from collections import defaultdict
from dataclasses import asdict, dataclass

MB = 1024.0 * 1024.0
PYTHON_TIME = "time to run Python workers"
PYTHON_IN = "data sent to Python workers"
PYTHON_OUT = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_index: int
    query: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span log. ``tag_jobs`` turns Spark job tagging on."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.tag_jobs = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, pass_index: int = -1, query: str = ""):
        s = Span(
            id=len(self.spans), name=name, layer=layer, pass_index=pass_index,
            query=query, parent=self._stack[-1] if self._stack else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        if self.tag_jobs:
            self.sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.tag_jobs:
                parent = self._stack[-1] if self._stack else None
                self.sc.setJobGroup(f"span-{parent}" if parent is not None else "idle", "")

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class SparkStatus:
    """Reads the driver's status REST API."""

    def __init__(self, spark_context) -> None:
        self.base = f"{spark_context.uiWebUrl}/api/v1/applications/{spark_context.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def cached_mb(self) -> float:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self.get("/storage/rdd")) / MB

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=1000000"),
        }


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024.0, "TiB": MB * MB,
}
_METRIC_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds for times and bytes
    for sizes: ``"total (min, med, max …)\\n5.8 s (1.9 s, …)"`` → 5.8,
    ``"16 ms"`` → 0.016, ``"600,000"`` → 600000."""
    line = text.strip().splitlines()[-1]
    m = _METRIC_RE.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return number * _UNITS[unit] if unit else number


def _epoch(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class SpanCounters:
    jobs: int = 0
    job_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    python_mb_in: float = 0.0
    python_mb_out: float = 0.0


def attach(spans: list[Span], status: dict) -> dict[int, SpanCounters]:
    """Spark's job, stage, task and SQL metrics per span id, for the
    spans whose jobs were tagged with ``span-<id>``."""
    by_span: dict[int, SpanCounters] = defaultdict(SpanCounters)
    job_span: dict[int, int] = {}
    job_windows: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for job in status["jobs"]:
        group = job.get("jobGroup") or ""
        if not group.startswith("span-"):
            continue
        sid = int(group[5:])
        job_span[job["jobId"]] = sid
        by_span[sid].jobs += 1
        if job.get("completionTime"):
            job_windows[sid].append(
                (_epoch(job["submissionTime"]), _epoch(job["completionTime"]))
            )
    for sid, windows in job_windows.items():
        by_span[sid].job_s = _union_seconds(windows)
    stage_job: dict[int, int] = {}
    for job in status["jobs"]:
        for stage_id in job["stageIds"]:
            stage_job[stage_id] = min(stage_job.get(stage_id, job["jobId"]), job["jobId"])
    for st in status["stages"]:
        if st["status"] != "COMPLETE":
            continue
        sid = job_span.get(stage_job.get(st["stageId"], -1))
        if sid is None:
            continue
        c = by_span[sid]
        c.stages += 1
        c.tasks += st["numCompleteTasks"]
        c.task_run_s += st["executorRunTime"] / 1e3
        c.task_cpu_s += st["executorCpuTime"] / 1e9
        c.gc_s += st["jvmGcTime"] / 1e3
        c.shuffle_write_mb += st["shuffleWriteBytes"] / MB
        c.shuffle_read_mb += st["shuffleReadBytes"] / MB
        c.fetch_wait_s += st["shuffleFetchWaitTime"] / 1e3
        c.spill_mb += st["diskBytesSpilled"] / MB
    for ex in status["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        sid = next((job_span[j] for j in ids if j in job_span), None)
        if sid is None:
            continue
        c = by_span[sid]
        for node in ex.get("nodes", []):
            for metric in node.get("metrics", []):
                name = metric["name"]
                if name == PYTHON_TIME:
                    c.python_s += parse_metric(metric["value"])
                elif name == PYTHON_IN:
                    c.python_mb_in += parse_metric(metric["value"]) / MB
                elif name == PYTHON_OUT:
                    c.python_mb_out += parse_metric(metric["value"]) / MB
    return dict(by_span)
