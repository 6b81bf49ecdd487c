"""Fold a Spark event log into per-job-group stage and SQL metrics.

The benchmark turns on Spark's own event log (`spark.eventLog.enabled`) for
its traced runs and tags every call it times with a job group. This module
reads the log back after the session stops and returns, per group, the
stages and jobs with their times and summed accumulables:

- executor run time, CPU and GC time (task metrics, summed per stage)
- shuffle bytes written and read, bytes spilled
- `time to run Python workers`, `data sent to Python workers` and
  `data returned from Python workers` (SQL metrics of the Python nodes)
- `scan time` (a task-side SQL metric) and `size of files read` (a
  driver-side SQL metric, posted per SQL execution)
"""
from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

# accumulable name -> short key; several accumulables with one name (one per
# plan node) are summed
_STAGE_KEYS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_w",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_r",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_r",
    "internal.metrics.memoryBytesSpilled": "spill",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "scan time": "scan_ms",
}


@dataclass
class Stage:
    stage_id: int
    submit_ms: int
    complete_ms: int
    m: dict = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    group: str | None
    exec_id: int | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list = field(default_factory=list)


@dataclass
class Group:
    jobs: list
    stages: list
    files_read_bytes: int

    def total(self, key: str) -> int:
        return sum(s.m.get(key, 0) for s in self.stages)


def _num(v) -> int:
    return int(float(v))


def _events(log_dir: str):
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    # rolling logs are events_<index>_<app id>; replay in index order
    files.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _plan_metric_names(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", ()):
        _plan_metric_names(child, out)


def fold(log_dir: str) -> dict[str, Group]:
    """{job group id: Group} over every job that carried a group."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    accum_name: dict[int, str] = {}
    driver_accums: dict[int, list] = {}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"], props.get("spark.jobGroup.id"),
                int(exec_id) if exec_id is not None else None,
                e["Submission Time"], stage_ids=list(e["Stage IDs"]),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = Stage(info["Stage ID"], info["Submission Time"], info["Completion Time"])
            for acc in info.get("Accumulables", ()):
                key = _STAGE_KEYS.get(acc.get("Name"))
                if key is not None and acc.get("Value") is not None:
                    st.m[key] = st.m.get(key, 0) + _num(acc["Value"])
            stages[st.stage_id] = st
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_names(e["sparkPlanInfo"], accum_name)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_accums.setdefault(e["executionId"], []).extend(e["accumUpdates"])

    groups: dict[str, Group] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        if job.group is None:
            continue
        g = groups.setdefault(job.group, Group([], [], 0))
        g.jobs.append(job)
        g.stages.extend(
            stages[sid] for sid in job.stage_ids
            if sid in stages and stage_job[sid] == job.job_id
        )
    for g in groups.values():
        g.stages.sort(key=lambda s: (s.submit_ms, s.stage_id))
        exec_ids = {j.exec_id for j in g.jobs if j.exec_id is not None}
        g.files_read_bytes = sum(
            _num(v)
            for x in exec_ids
            for aid, v in driver_accums.get(x, ())
            if accum_name.get(aid) == "size of files read"
        )
    return groups
