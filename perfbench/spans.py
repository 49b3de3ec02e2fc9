"""Spans around the benchmark's calls into the engine, and the fold of
Spark's own event log onto those spans.

A span is (name, start, end, parent, run id). Spans are kept in memory and
written out once at the end of a run. After the SparkSession has stopped,
`fold_event_log` reads the event log Spark wrote (enabled from outside via
PYSPARK_SUBMIT_ARGS) and assigns every job to the innermost span that was
open when the job was submitted. Job descriptions are not needed, so jobs
the engine submits from its own threads are attributed like any other.
Stages belong to the first job that listed them, and tasks to their stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import pyarrow as pa


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float = 0.0
    parent: int = -1
    run_id: str = ""

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """In-memory span recorder. `run_id` names the unit of work the next
    spans belong to ("setup", "warmup", "op-3", ...)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        s = Span(name, time.time() * 1000.0, parent=parent, run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def load_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**d) for d in json.load(f)]


@dataclass
class SpanStats:
    """Event-log totals of the jobs attributed to one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_run_ms: int = 0
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    # completion time of the first job of the span that wrote output files
    first_output_job_end_ms: float | None = None


# SQL accumulables folded per task. "time to initialize Python workers" is
# left out on purpose: on reused workers it reads as time since the worker
# booted, larger than the task itself.
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def _event_files(event_dir: str) -> list[str]:
    """Event-log files in write order: a rolling eventlog_v2_* directory
    (events_<n>_<app>[.codec]) or single-file logs."""
    files = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*"))
    if files:
        def index(p: str) -> int:
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            return int(m.group(1)) if m else 0

        return sorted(files, key=index)
    return sorted(
        p for p in glob.glob(os.path.join(event_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def read_events(event_dir: str):
    """Yield the JSON events of every log under event_dir. Call only after
    the SparkSession has stopped: a log still being written ends in a
    truncated compressed frame."""
    paths = _event_files(event_dir)
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    for path in paths:
        codec = None
        for ext in ("zstd", "lz4", "snappy"):
            if path.endswith("." + ext):
                codec = ext
        if path.endswith(".inprogress"):
            raise RuntimeError(f"event log {path} is still in progress")
        with pa.input_stream(path, compression=codec) as stream:
            data = stream.read()
        for line in data.decode("utf-8").splitlines():
            if line:
                yield json.loads(line)


def _innermost(spans: list[Span], t_ms: float) -> int:
    """Index of the innermost span open at t_ms, or -1. Spans nest, so
    the innermost open one is the open one that started last."""
    best, best_start = -1, float("-inf")
    for i, s in enumerate(spans):
        if s.start_ms <= t_ms <= s.end_ms and s.start_ms >= best_start:
            best, best_start = i, s.start_ms
    return best


def fold_event_log(
    event_dir: str, spans: list[Span]
) -> tuple[list[SpanStats], int]:
    """Per-span event-log totals, plus the number of jobs submitted while
    no span was open."""
    stats = [SpanStats() for _ in spans]
    stage_job: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_output: dict[int, int] = {}
    unattributed = 0
    for ev in read_events(event_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            i = _innermost(spans, float(ev["Submission Time"]))
            job_span[job] = i
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job)
            if i < 0:
                unattributed += 1
                continue
            stats[i].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            i = job_span.get(stage_job.get(ev["Stage Info"]["Stage ID"]), -1)
            if i >= 0:
                stats[i].stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            i = job_span.get(job, -1)
            if i >= 0:
                job_output[job] = job_output.get(job, 0) + _add_task(stats[i], ev)
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            i = job_span.get(job, -1)
            if (
                i >= 0
                and job_output.get(job, 0) > 0
                and stats[i].first_output_job_end_ms is None
            ):
                stats[i].first_output_job_end_ms = float(ev["Completion Time"])
    return stats, unattributed


def _add_task(st: SpanStats, ev: dict) -> int:
    """Fold one TaskEnd into st; returns the bytes the task wrote to files."""
    st.tasks += 1
    m = ev.get("Task Metrics") or {}
    st.executor_run_ms += m.get("Executor Run Time", 0)
    st.executor_cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            setattr(st, key, getattr(st, key) + int(acc["Update"]))
    return written
