"""Outside-in tracing for the traced run: spans around calls into the
program's public functions, recorded from the benchmark's side, and the
Spark event log of the same run. Nothing is traced inside the program.

Spark jobs are attributed to a span by their submission time falling inside
the span's wall-clock interval, not by ``callSite.short``: PySpark sets that
only for ``collect`` jobs, so most jobs carry no useful call site.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses (as ms)
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Wraps module attributes with timing shims; ``undo()`` restores them.
    Callers that look the attribute up at call time (module globals, or a
    ``from x import y`` inside a function body) see the shim."""

    def __init__(self):
        self.spans: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        spans = self.spans

        def shim(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                spans.append(Span(name, t0, time.time()))

        shim.__wrapped__ = orig
        setattr(module, attr, shim)
        self._undo.append((module, attr, orig))

    def undo(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)

    def within(self, name: str, outer: Span) -> list[Span]:
        return [s for s in self.spans if s.name == name and outer.start <= s.start <= outer.end]


# ---------------------------------------------------------------- event log


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_bytes: int = 0  # read + written
    spill_bytes: int = 0  # memory + disk
    peak_mem: int = 0

    @property
    def seconds(self) -> float:
        return (self.finish_ms - self.launch_ms) / 1000.0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks: list[Task]

    def jobs_in(self, span: Span) -> list[Job]:
        lo, hi = span.start * 1000.0, span.end * 1000.0
        return [j for j in self.jobs.values() if lo <= j.submit_ms <= hi]

    def tasks_in(self, span: Span) -> list[Task]:
        stages = {s for j in self.jobs_in(span) for s in j.stage_ids}
        return [t for t in self.tasks if t.stage_id in stages]


def parse_event_log(path: Path) -> EventLog:
    """Jobs and task metrics from one uncompressed, non-rolling event log."""
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' not in line and '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"], list(ev["Stage IDs"]))
            elif ev["Event"] == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                inp = m.get("Input Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        stage_id=ev["Stage ID"],
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        input_bytes=inp.get("Bytes Read", 0),
                        input_records=inp.get("Records Read", 0),
                        shuffle_bytes=sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        peak_mem=m.get("Peak Execution Memory", 0),
                    )
                )
    return EventLog(jobs, tasks)


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]


def engine_metrics(log: EventLog, spans: list[Span]) -> dict[str, float]:
    """Per-op engine totals (mean over ``spans``) from the tasks of the jobs
    each span submitted; peak execution memory is the max over tasks."""
    per_op = []
    for sp in spans:
        ts = log.tasks_in(sp)
        per_op.append(
            {
                "spark.executor_cpu_s": sum(t.cpu_ns for t in ts) / 1e9,
                "spark.gc_s": sum(t.gc_ms for t in ts) / 1e3,
                "spark.input_bytes": sum(t.input_bytes for t in ts),
                "spark.shuffle_bytes": sum(t.shuffle_bytes for t in ts),
                "spark.spill_bytes": sum(t.spill_bytes for t in ts),
                "spark.peak_exec_mem_bytes": max((t.peak_mem for t in ts), default=0),
            }
        )
    return {k: statistics.fmean(d[k] for d in per_op) for k in per_op[0]} if per_op else {}


def heaviest_stage_tasks(log: EventLog, span: Span) -> list[Task]:
    """Tasks of the stage with the most task time inside ``span``: for an
    extraction op this is the scan + rules + sink stage."""
    by_stage: dict[int, list[Task]] = {}
    for t in log.tasks_in(span):
        by_stage.setdefault(t.stage_id, []).append(t)
    if not by_stage:
        return []
    return max(by_stage.values(), key=lambda ts: sum(t.seconds for t in ts))
