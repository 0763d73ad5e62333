"""Parser for Spark's JSON event log (plain or rolling ``eventlog_v2_*`` dirs).

Reduces the log to per-job and per-stage records: wall interval, task run and
CPU time, GC, input, shuffle, task-time skew, and the Python SQL metrics that
Spark 4.1 reports per task (``pythonBootTime``, ``pythonInitTime``,
``pythonTotalTime``, ``pythonDataSent``, ``pythonDataReceived``).  Jobs carry
the ``perfbench.span`` local property that the benchmark sets around each
call, which ties every stage to the span that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

# display names of the Python SQL metrics, keyed by the names Spark declares
PYTHON_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    task_ms: list[int] = field(default_factory=list)
    task_shuffle_read_records: list[int] = field(default_factory=list)
    python: dict[str, int] = field(default_factory=lambda: dict.fromkeys(PYTHON_METRICS.values(), 0))

    @property
    def wall_s(self) -> float:
        return (self.complete_ms - self.submit_ms) / 1000.0

    @property
    def task_skew(self) -> float:
        """max / median task duration."""
        med = statistics.median(self.task_ms) if self.task_ms else 0
        return max(self.task_ms) / med if med else 0.0


@dataclass
class Job:
    job_id: int
    span: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``, in file order."""
    paths = []
    for root, _, files in os.walk(log_dir):
        paths.extend(os.path.join(root, f) for f in files if f.startswith(("events_", "local-", "app-")))
    events = []
    for path in sorted(paths):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def parse(events: list[dict]) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage(sid))

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(e["Job ID"], props.get(SPAN_PROPERTY), e["Submission Time"], stage_ids=list(e["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stage(info["Stage ID"])
            st.submit_ms = info.get("Submission Time", 0)
            st.complete_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            _add_task(stage(e["Stage ID"]), e)
    return jobs, stages


def _add_task(st: Stage, e: dict) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    st.tasks += 1
    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    inp = m.get("Input Metrics") or {}
    st.input_records += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_read_records += sr.get("Total Records Read", 0)
    st.task_shuffle_read_records.append(sr.get("Total Records Read", 0))
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_write_records += sw.get("Shuffle Records Written", 0)
    for acc in info.get("Accumulables") or []:
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            st.python[key] += int(acc.get("Update") or 0)


def stages_by_span(jobs: dict[int, Job], stages: dict[int, Stage]) -> dict[str, list[Stage]]:
    """Executed stages grouped by the span of the job that ran them."""
    out: dict[str, list[Stage]] = {}
    seen: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            if sid in stages and sid not in seen and stages[sid].tasks:
                seen.add(sid)
                out.setdefault(job.span or "", []).append(stages[sid])
    return out


def jobs_by_span(jobs: dict[int, Job]) -> dict[str, list[Job]]:
    out: dict[str, list[Job]] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        out.setdefault(job.span or "", []).append(job)
    return out
