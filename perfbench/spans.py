"""Spans recorded around the calls into each layer, Spark job and stage
records imported from the UI REST API, and the arithmetic on both.

Spans stay in memory and are written once, when the run ends. Times are
epoch seconds so that benchmark spans and Spark job records share a clock.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans when enabled; when disabled every call is a no-op
    apart from the clock read the caller needs anyway."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        s = Span(len(self.spans), name, parent, start, end, attrs)
        self.spans.append(s)
        return s.id

    def set_times(self, span_id: int | None, start: float, end: float) -> None:
        if span_id is not None:
            self.spans[span_id].start, self.spans[span_id].end = start, end

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        s = None
        if self.enabled:
            s = Span(len(self.spans), name, parent, time.time(), 0.0, attrs)
            self.spans.append(s)
        try:
            yield s.id if s else None
        finally:
            if s:
                s.end = time.time()

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
            for s in self.spans
        }

    def dump(self, path: str, extra: dict) -> None:
        self_t = self.self_times()
        spans = [
            {
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": self_t[s.id],
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_spark_time(s: str) -> float:
    """``2026-10-17T03:10:21.123GMT`` (REST API) or
    ``2026-10-17T03:10:21.123Z`` (streaming progress) to epoch seconds."""
    s = s.removesuffix("GMT").removesuffix("Z")
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]
    tasks: int
    failed_tasks: int


def fetch_spark_records(spark) -> tuple[list[Job], dict[int, dict]]:
    """Jobs and stages of this application from the UI REST API
    (``/api/v1/applications/<id>/{jobs,stages}``)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
            return json.load(r)

    jobs = []
    for j in get("jobs"):
        if "completionTime" not in j:
            continue
        jobs.append(
            Job(
                j["jobId"],
                j.get("jobGroup"),
                parse_spark_time(j["submissionTime"]),
                parse_spark_time(j["completionTime"]),
                j.get("stageIds", []),
                j.get("numTasks", 0),
                j.get("numFailedTasks", 0),
            )
        )
    stages: dict[int, dict] = {}
    for st in get("stages"):
        # one record per attempt; sum the attempts of a stage
        agg = stages.setdefault(st["stageId"], {})
        for k in ("executorRunTime", "executorCpuTime", "shuffleReadBytes",
                  "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled"):
            agg[k] = agg.get(k, 0) + st.get(k, 0)
    return jobs, stages


def job_metrics(jobs: list[Job], stages: dict[int, dict], lo: float, hi: float) -> dict:
    """Per-layer totals over ``jobs``; the driver gap is the part of
    ``[lo, hi]`` that no job interval covers."""
    stage_ids = {s for j in jobs for s in j.stage_ids if s in stages}
    tot = lambda k: sum(stages[s][k] for s in stage_ids)  # noqa: E731
    return {
        "driver.jobs": len(jobs),
        "driver.gap_s": (hi - lo) - covered([(j.start, j.end) for j in jobs], lo, hi),
        "executor.run_s": tot("executorRunTime") / 1e3,
        "executor.cpu_s": tot("executorCpuTime") / 1e9,
        "executor.tasks": sum(j.tasks for j in jobs),
        "executor.failed_tasks": sum(j.failed_tasks for j in jobs),
        "shuffle.read_bytes": tot("shuffleReadBytes"),
        "shuffle.write_bytes": tot("shuffleWriteBytes"),
        "shuffle.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
    }
