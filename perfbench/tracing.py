"""Tracing from outside the engine.

Three sources, none of which needs a change to engine code:

- ``Spans``: wall-clock spans around the benchmark's own calls into the
  engine's public functions. ``Spans.patch`` wraps a module or class
  attribute for the duration of a traced phase, so calls the engine makes
  through that name (``run_ingest`` calling ``write_batch``) are timed too.
- ``read_event_log``: jobs, stages and task metrics from Spark's JSON
  event log (uncompressed, not rolling; see ``EVENT_LOG_CONF``).
- ``ProgressListener``: every ``StreamingQueryProgress`` of every query,
  including those a query function starts and stops on its own.

Jobs are attributed to a query's span by its time window and by the
``spark.job.description`` the benchmark sets. Streaming micro-batch jobs
run on the stream thread and lose that description (Spark gives them the
stream's own), so a span also claims the streaming and the undescribed
jobs submitted inside it. ``split_jobs`` checks that the spans of a pass
claim every job of the pass exactly once.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an event log this module can read: one plain
    JSON-lines file per application (the ``zstandard`` module that
    Spark's default zstd logs need is not installed)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder; times are ``time.time()`` epoch seconds so
    they line up with the event log's millisecond timestamps."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append(Span(name, t0, time.time(), attrs))

    def mark(self, name: str) -> None:
        """Record an instant."""
        now = time.time()
        self.items.append(Span(name, now, now))

    def replace(self, owner, attr: str, make) -> None:
        """Set ``owner.attr`` to ``make(original)`` until ``unpatch``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def patch(self, owner, attr: str, name) -> None:
        """Wrap ``owner.attr`` so every call records a span. ``name`` is a
        string or a function of the call's arguments."""

        def make(orig):
            def traced(*args, **kwargs):
                label = name(*args, **kwargs) if callable(name) else name
                with self.span(label):
                    return orig(*args, **kwargs)

            return traced

        self.replace(owner, attr, make)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, start: float, end: float) -> float:
        """Summed seconds of spans called ``name`` that start in [start, end]."""
        return sum(
            s.seconds for s in self.items if s.name == name and start <= s.start <= end
        )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    description: str | None
    streaming: bool = False  # a micro-batch job of a streaming query


@dataclass
class Task:
    launch: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    result: int
    peak_mem: int


@dataclass
class EventLog:
    jobs: list[Job]
    stage_starts: list[float]  # submission times of completed stages
    tasks: list[Task]


def find_event_log(log_dir: str, app_id: str) -> str:
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return paths[0]


def read_event_log(path: str) -> EventLog:
    starts: dict[int, tuple[float, str | None, bool]] = {}
    jobs: list[Job] = []
    stage_starts: list[float] = []
    tasks: list[Task] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                starts[ev["Job ID"]] = (
                    ev["Submission Time"] / 1000.0,
                    props.get("spark.job.description"),
                    "sql.streaming.queryId" in props,
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                t0, desc, streaming = starts[ev["Job ID"]]
                jobs.append(
                    Job(ev["Job ID"], t0, ev["Completion Time"] / 1000.0, desc, streaming)
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stage_starts.append(info["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sr = m.get("Shuffle Read Metrics", {})
                tasks.append(
                    Task(
                        launch=ev["Task Info"]["Launch Time"] / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        shuffle_read=sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill=m.get("Disk Bytes Spilled", 0),
                        result=m.get("Result Size", 0),
                        peak_mem=m.get("Peak Execution Memory", 0),
                    )
                )
    return EventLog(jobs, stage_starts, tasks)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_of(log: EventLog, span: Span, *, tag: str | None = None) -> list[Job]:
    """Jobs submitted inside the span; with ``tag``, only those described
    as ``tag``, streaming micro-batch jobs, and undescribed ones."""
    return [
        j for j in log.jobs
        if span.start <= j.start <= span.end
        and (tag is None or j.streaming or j.description in (tag, None))
    ]


def split_jobs(log: EventLog, whole: Span, parts: list[Span]) -> tuple[dict, int]:
    """Attribute the jobs of ``whole`` (a pass) to its ``parts`` (the
    query spans, tagged by their names). Returns ({part name: job ids},
    misattributed), where ``misattributed`` counts the jobs of the pass
    that no part, or more than one part, claims."""
    owners: dict[int, int] = {j.job_id: 0 for j in jobs_of(log, whole)}
    claimed: dict[str, list[int]] = {}
    for s in parts:
        ids = [j.job_id for j in jobs_of(log, s, tag=s.name)]
        claimed.setdefault(s.name, []).extend(ids)
        for i in ids:
            owners[i] = owners.get(i, 0) + 1
    return claimed, sum(1 for n in owners.values() if n != 1)


def engine_layer(log: EventLog, span: Span, *, tag: str | None = None) -> dict:
    """Spark-engine layer numbers for one span: job counts and time
    inside and outside jobs, plus task metrics of the tasks launched in
    the span's window."""
    jobs = jobs_of(log, span, tag=tag)
    active = union_seconds([(j.start, j.end) for j in jobs])
    clipped = union_seconds(
        [(max(j.start, span.start), min(j.end, span.end)) for j in jobs if j.end > span.start]
    )
    tasks = [t for t in log.tasks if span.start <= t.launch <= span.end]
    return {
        "jobs": len(jobs),
        "stages": sum(1 for t in log.stage_starts if span.start <= t <= span.end),
        "tasks": len(tasks),
        "active_jobs_s": active,
        "outside_jobs_s": span.seconds - clipped,
        "task_run_s": sum(t.run_s for t in tasks),
        "task_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "spill_mb": sum(t.spill for t in tasks) / MB,
        "result_mb": sum(t.result for t in tasks) / MB,
        "peak_exec_mem_mb": max((t.peak_mem for t in tasks), default=0) / MB,
    }


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event as a plain dict, with its arrival time."""

    def __init__(self) -> None:
        self.events: list[tuple[float, dict]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append((time.time(), json.loads(event.progress.json)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, timeout: float = 3.0) -> None:
        """Wait until events stop arriving: the listener bus is asynchronous."""
        deadline = time.time() + timeout
        seen = -1
        while time.time() < deadline and seen != len(self.events):
            seen = len(self.events)
            time.sleep(0.3)


def state_layer(progress: list[dict]) -> dict:
    """State-store numbers summed over the batches of stateful queries."""
    stateful = [p for p in progress if p.get("stateOperators")]
    ops = [op for p in stateful for op in p["stateOperators"]]
    return {
        "batches": len(stateful),
        "rows_total": max(  # rows held in state, at the batch that held most
            (sum(op.get("numRowsTotal", 0) for op in p["stateOperators"]) for p in stateful),
            default=0,
        ),
        "memory_mb": max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / MB,
        "commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
        "update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in ops
        ),
        "add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in stateful),
        "query_planning_ms": sum(
            p["durationMs"].get("queryPlanning", 0) for p in stateful
        ),
    }
