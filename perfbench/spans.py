"""Spans recorded from outside the program, around each call into a layer.

A request is a root span; calls into layers are child spans; the
``on_event`` stages a layer reports become children of that layer's
span; the Spark jobs a request ran (found through a per-request job
group) become leaf spans in the ``spark`` layer. Spans stay in memory
and are written out once, when the run ends.

A layer's self time in a request is the part of the request's wall time
in which that layer's span is the innermost one open, so the self times
of one request add up to its wall time.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

SPARK_JOB_DEPTH = 1_000  # job spans are always the innermost


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    request: str
    parent: int | None
    depth: int
    start: float
    end: float = 0.0


@dataclass
class Request:
    rid: str
    kind: str
    root: Span
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.root.end - self.root.start


def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer self time within ``root``: each instant goes to the
    deepest span open at it (children are clipped to the root)."""
    lo, hi = root.start, root.end
    points = sorted(
        {lo, hi}
        | {min(max(t, lo), hi) for s in spans for t in (s.start, s.end)}
    )
    out: dict[str, float] = {}
    for a, b in zip(points, points[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        inner = max(
            (s for s in spans if s.start <= mid < s.end),
            key=lambda s: s.depth,
            default=root,
        )
        out[inner.layer] = out.get(inner.layer, 0.0) + (b - a)
    return out


def _epoch(stamp: str) -> float:
    """Spark REST time ('2026-01-01T00:00:00.000GMT') -> epoch seconds."""
    return (
        datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class Tracer:
    """Records spans when enabled; when disabled every method is a
    no-op and ``on_event`` returns None, so untraced calls are the
    program's plain calls."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if (enabled and spark) else None
        # perf_counter = epoch - offset (Spark reports epoch times)
        self._offset = time.time() - time.perf_counter()

    def _open(self, name: str, layer: str, request: str | None = None) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            request=request or (parent.request if parent else ""),
            parent=parent.sid if parent else None,
            depth=len(self._stack),
            start=time.perf_counter(),
        )
        self.spans.append(span)
        self._stack.append(span)
        return span

    @contextlib.contextmanager
    def request(self, kind: str):
        """Root span of one request; its Spark jobs run under a job group
        named after the request id and are collected after it ends."""
        if not self.enabled:
            yield None
            return
        rid = f"{kind}-{len(self.requests)}"
        self._sc.setJobGroup(rid, rid)
        req = Request(rid, kind, self._open(kind, "bench", rid))
        try:
            yield req
        finally:
            req.root.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.requests.append(req)
        req.spark = self._collect_jobs(req)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        span = self._open(name, layer)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def on_event(self, prefix: str, layer: str):
        """An ``on_event(stage, seconds)`` callback that records each
        reported stage as a child of the innermost open span."""
        if not self.enabled:
            return None

        def record(stage: str, seconds: float) -> None:
            end = time.perf_counter()
            parent = self._stack[-1]
            self.spans.append(
                Span(
                    sid=len(self.spans),
                    name=f"{prefix}.{stage}",
                    layer=layer,
                    request=parent.request,
                    parent=parent.sid,
                    depth=parent.depth + 1,
                    start=end - seconds,
                    end=end,
                )
            )

        return record

    def _rest(self, path: str):
        sc = self._sc
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=10) as resp:
            return json.load(resp)

    def _collect_jobs(self, req: Request, timeout: float = 20.0) -> dict:
        """Status-tracker counts and REST stage metrics for the jobs of
        one request; adds one leaf span per job."""
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + timeout
        while True:
            job_ids = sorted(tracker.getJobIdsForGroup(req.rid))
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(
                i is not None and i.status in ("SUCCEEDED", "FAILED")
                for i in infos
            ):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of {req.rid} did not finish")
            time.sleep(0.01)
        stage_ids = sorted({s for i in infos for s in i.stageIds})
        stats = {
            "jobs": len(job_ids),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
        }
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its output was reused
            stats["stages"] += 1
            stats["tasks"] += info.numCompletedTasks
            for attempt in self._rest(f"stages/{sid}"):
                if attempt["status"] != "COMPLETE":
                    continue
                stats["executor_run_s"] += attempt["executorRunTime"] / 1e3
                stats["executor_cpu_s"] += attempt["executorCpuTime"] / 1e9
                stats["gc_s"] += attempt["jvmGcTime"] / 1e3
                stats["shuffle_write_bytes"] += attempt["shuffleWriteBytes"]
        root = req.root
        intervals = []
        for jid in job_ids:
            job = self._rest(f"jobs/{jid}")
            if "submissionTime" not in job or "completionTime" not in job:
                continue
            start = max(_epoch(job["submissionTime"]) - self._offset, root.start)
            end = min(_epoch(job["completionTime"]) - self._offset, root.end)
            if end <= start:
                continue
            intervals.append((start, end))
            inner = max(
                (
                    s
                    for s in self.spans
                    if s.request == req.rid
                    and s.depth < SPARK_JOB_DEPTH
                    and s.start <= start < s.end
                ),
                key=lambda s: s.depth,
                default=root,
            )
            self.spans.append(
                Span(
                    sid=len(self.spans),
                    name=f"spark.job.{jid}",
                    layer="spark",
                    request=req.rid,
                    parent=inner.sid,
                    depth=SPARK_JOB_DEPTH,
                    start=start,
                    end=end,
                )
            )
        covered, reach = 0.0, root.start
        for start, end in sorted(intervals):
            if end > reach:
                covered += end - max(start, reach)
                reach = end
        stats["driver_gap_s"] = req.wall - covered
        return stats

    def request_self_times(self, req: Request) -> dict[str, float]:
        return self_times(
            [s for s in self.spans if s.request == req.rid], req.root
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
