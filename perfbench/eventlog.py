"""Spark event-log parser and per-op layer attribution.

The traced run enables Spark's own event log (uncompressed JSON lines,
one event per line) and tags every call into the program with a job
group ``op<N>:<layer>`` before making it. After the run this module
reads the log back and attributes each job, its completed stages and
their tasks to the benchmark op that issued them:

- a job whose ``spark.jobGroup.id`` is ``op<N>:<layer>`` belongs to op N;
- a job carrying ``streaming.sql.batchId`` belongs to that micro-batch
  (epoch), whatever group its thread inherited.

Only the Spark event log is read; nothing here imports pyspark, so the
parser is testable on a committed fixture.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_GROUP_RE = re.compile(r"^op(\d+):(.+)$")

# SQL metric names of the Python-worker exchange (PythonSQLMetrics).
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    submitted_ms: float | None = None
    completed_ms: float | None = None
    accumulables: dict[str, float] = field(default_factory=dict)
    task_run_ms: list[float] = field(default_factory=list)
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    batch_id: int | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def completed_stages(self, job: Job) -> list[Stage]:
        """Stages of ``job`` that ran; skipped stages (reused shuffle
        output) are listed by the job but never complete."""
        return [
            self.stages[s]
            for s in job.stage_ids
            if s in self.stages and self.stages[s].completed_ms is not None
        ]


def parse(lines) -> EventLog:
    """Read an iterable of event-log lines into jobs and stages.

    Stage attempts are folded into one record per stage id; task
    metrics accumulate over every attempt, which is the work the
    cluster did."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                batch_id=int(batch) if batch is not None else None,
                stage_ids=list(ev.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if info.get("Submission Time") is not None:
                st.submitted_ms = float(info["Submission Time"])
            if info.get("Completion Time") is not None:
                st.completed_ms = float(info["Completion Time"])
            for acc in info.get("Accumulables") or []:
                name, value = acc.get("Name"), acc.get("Value")
                if name is not None and value is not None:
                    try:
                        st.accumulables[name] = float(value)
                    except (TypeError, ValueError):
                        pass
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            info = ev.get("Task Info") or {}
            if info.get("Launch Time") is not None and info.get("Finish Time") is not None:
                st.task_run_ms.append(float(info["Finish Time"]) - float(info["Launch Time"]))
            m = ev.get("Task Metrics") or {}
            st.executor_run_ms += m.get("Executor Run Time", 0)
            st.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            st.gc_ms += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def op_of(job: Job) -> tuple[int, str] | None:
    """(op index, layer) from the job group ``op<N>:<layer>``."""
    m = _GROUP_RE.match(job.group or "")
    return (int(m.group(1)), m.group(2)) if m else None


def jobs_by_op(log: EventLog) -> dict[int, list[Job]]:
    out: dict[int, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        tag = op_of(job)
        if tag is not None:
            out[tag[0]].append(job)
    return dict(out)


def jobs_by_batch(log: EventLog) -> dict[int, list[Job]]:
    out: dict[int, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        if job.batch_id is not None:
            out[job.batch_id].append(job)
    return dict(out)


def attribute(log: EventLog, batch_ops: dict[int, int] | None = None) -> dict[int, list[Job]]:
    """Jobs per op: by job group, plus every job of a streaming epoch
    mapped to an op by ``batch_ops`` (batchId -> op index). A job that
    matches both ways is counted once."""
    by_op = jobs_by_op(log)
    by_batch = jobs_by_batch(log)
    for batch, op in (batch_ops or {}).items():
        seen = {j.job_id for j in by_op.get(op, [])}
        by_op.setdefault(op, []).extend(j for j in by_batch.get(batch, []) if j.job_id not in seen)
    return by_op


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def op_layers(log: EventLog, jobs: list[Job]) -> dict:
    """Execution-layer sums over one op's jobs."""
    stages = {s.stage_id: s for j in jobs for s in log.completed_stages(j)}.values()
    ratios = []
    for s in stages:
        if len(s.task_run_ms) >= 2:
            p50 = statistics.median(s.task_run_ms)
            if p50 > 0:
                ratios.append(max(s.task_run_ms) / p50)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(len(s.task_run_ms) for s in stages),
        "executor_run_ms": sum(s.executor_run_ms for s in stages),
        "executor_cpu_ms": sum(s.executor_cpu_ms for s in stages),
        "gc_ms": sum(s.gc_ms for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "py_sent_bytes": sum(s.accumulables.get(PY_SENT, 0.0) for s in stages),
        "py_received_bytes": sum(s.accumulables.get(PY_RECEIVED, 0.0) for s in stages),
        "task_max_over_p50": max(ratios) if ratios else 1.0,
    }


def dispatch_ms(log: EventLog, jobs: list[Job], lo: float, hi: float) -> float:
    """The part of the wall interval [lo, hi] (epoch ms) in which no
    stage of ``jobs`` was running: planning, job and stage scheduling,
    commit protocol and other driver-side work."""
    busy = []
    for j in jobs:
        for s in log.completed_stages(j):
            if s.submitted_ms is None:
                continue
            a, b = max(s.submitted_ms, lo), min(s.completed_ms, hi)
            if b > a:
                busy.append((a, b))
    return max(0.0, (hi - lo) - _union_ms(busy))
