"""Spark event-log parser, per benchmark operation.

Reads the JSON-lines log a session writes with
``spark.eventLog.enabled`` and sums, for each operation: jobs, stages,
tasks, shuffle bytes written and read, spill, input and output bytes,
executor CPU and JVM GC time, and the job intervals (for the driver
gap: operation wall time not covered by any running job).

The caller maps each job to an operation: by its job group
(``spark.jobGroup.id``, set by the benchmark before each operation),
or, for jobs whose group is not an operation's (a streaming trigger's
jobs carry the stream's run id), by the operation whose time window
holds the job's submission.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "input_bytes",
            "output_bytes", "executor_cpu_s", "gc_s")


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    group: str | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class OpStats:
    counters: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    intervals: list[tuple[float, float]] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, dict[str, float]] = field(default_factory=dict)

    def per_op(self, assign: Callable[[Job], str | None]) -> dict[str, OpStats]:
        """Sum task metrics over each operation's jobs. ``assign`` maps
        a job to an operation id (or None: not an operation's job)."""
        stage_owner: dict[int, int] = {}
        for j in sorted(self.jobs.values(), key=lambda j: j.job_id):
            for s in j.stages:
                stage_owner.setdefault(s, j.job_id)
        out: dict[str, OpStats] = {}
        for j in self.jobs.values():
            op = assign(j)
            if op is None:
                continue
            st = out.setdefault(op, OpStats())
            st.counters["jobs"] += 1
            st.intervals.append((j.submit_ms / 1000, j.end_ms / 1000))
            for s in j.stages:
                if stage_owner.get(s) != j.job_id or s not in self.stage_tasks:
                    continue  # skipped stage, run by an earlier job
                st.counters["stages"] += 1
                for k, v in self.stage_tasks[s].items():
                    st.counters[k] += v
        return out


def parse(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"],
                    group=props.get("spark.jobGroup.id"),
                    stages=list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd":
                j = log.jobs.get(ev["Job ID"])
                if j is not None:
                    j.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stage_tasks.setdefault(
                    ev["Stage ID"], dict.fromkeys(COUNTERS[2:], 0)),
                    ev.get("Task Metrics") or {})
    return log


def _add_task(acc: dict[str, float], m: dict) -> None:
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc["tasks"] += 1
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3


def find_log(event_dir: str) -> str:
    """The one application log a run's session wrote."""
    logs = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {logs}")
    return os.path.join(event_dir, logs[0])
