"""Spark event-log parser: one per-stage table for the benchmark's traced run.

Reads the uncompressed JSON-lines event logs a session writes when
``spark.eventLog.enabled`` is on, and reduces them to jobs (interval and
job group) and stages.  Per stage it reports wall time, executor run, CPU
and GC time, shuffle read and write bytes, spill bytes, input rows, output
bytes, task-time max and median, and the Python SQL metrics (Arrow bytes
sent to and returned from Python workers, worker boot, init and run time).

Only the event types used below are decoded; the large plan-update events
are skipped by their prefix, so a 40 MB log parses in about a second.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)

# SQL metric name in the event log -> stage field
PYTHON_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class Stage:
    app: int  # ids restart with every SparkContext: (app, stage_id) is the key
    stage_id: int
    attempt: int
    submit_ms: int = 0
    end_ms: int = 0
    job_group: str | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_records: int = 0
    output_bytes: int = 0
    py_bytes_in: int = 0
    py_bytes_out: int = 0
    py_boot_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0
    task_ms: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.submit_ms) / 1000

    @property
    def task_skew(self) -> float:
        """Longest task over the median task (1.0 = perfectly even)."""
        if not self.task_ms:
            return 1.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 1.0


@dataclass
class Job:
    app: int
    job_id: int
    submit_ms: int
    end_ms: int = 0
    group: str | None = None
    stage_ids: list = field(default_factory=list)


@dataclass
class AppLog:
    jobs: list
    stages: list


def _event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir`` (v1 single files and v2 dirs)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [
            os.path.join(root, f)
            for f in files
            if not f.startswith(".") and not f.startswith("appstatus") and not f.endswith(".crc")
        ]
    return sorted(out)


def parse_file(path: str, app: int = 0) -> AppLog:
    jobs: dict[int, Job] = {}
    stages: dict[tuple, Stage] = {}

    def stage(sid: int, att: int) -> Stage:
        return stages.setdefault((sid, att), Stage(app, sid, att))

    with open(path, encoding="utf-8") as f:
        for line in f:
            head = line[:64]
            if not any(w in head for w in _WANTED):
                continue
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    app, e["Job ID"], e["Submission Time"],
                    group=props.get("spark.jobGroup.id"),
                    stage_ids=list(e.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                s = stage(si["Stage ID"], si.get("Stage Attempt ID", 0))
                s.submit_ms = si.get("Submission Time") or 0
                s.end_ms = si.get("Completion Time") or s.submit_ms
            else:  # TaskEnd
                s = stage(e["Stage ID"], e.get("Stage Attempt ID", 0))
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                s.tasks += 1
                s.task_ms.append(max(0, ti["Finish Time"] - ti["Launch Time"]))
                s.run_ms += tm.get("Executor Run Time", 0)
                s.cpu_ns += tm.get("Executor CPU Time", 0)
                s.gc_ms += tm.get("JVM GC Time", 0)
                s.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                s.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                s.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                im = tm.get("Input Metrics") or {}
                s.input_records += im.get("Records Read", 0)
                s.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in ti.get("Accumulables", []):
                    attr = PYTHON_METRICS.get(acc.get("Name"))
                    if attr is not None:
                        setattr(s, attr, getattr(s, attr) + int(acc.get("Update") or 0))
    # a stage belongs to the first job that ran it
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            for (s_id, _att), s in stages.items():
                if s_id == sid and s.job_group is None:
                    s.job_group = job.group
    # stages listed by a job but skipped (reused shuffle output) never ran
    ran = [s for s in stages.values() if s.tasks or s.end_ms]
    return AppLog(sorted(jobs.values(), key=lambda j: j.submit_ms), ran)


def parse_dir(log_dir: str) -> AppLog:
    """All applications under ``log_dir`` merged into one log."""
    jobs, stages = [], []
    for i, path in enumerate(_event_files(log_dir)):
        app = parse_file(path, i)
        jobs += app.jobs
        stages += app.stages
    return AppLog(sorted(jobs, key=lambda j: j.submit_ms), stages)


def busy_intervals(jobs: list) -> list[tuple[int, int]]:
    """Union of job [submit, end] intervals in ms, sorted and disjoint."""
    out: list[list[int]] = []
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        end = j.end_ms or j.submit_ms
        if out and j.submit_ms <= out[-1][1]:
            out[-1][1] = max(out[-1][1], end)
        else:
            out.append([j.submit_ms, end])
    return [(a, b) for a, b in out]


def totals(stages: list) -> dict:
    """Sums over stages, in base units (s, bytes, counts)."""
    t = {
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": sum(s.run_ms for s in stages) / 1000,
        "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1000,
        "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spill_bytes": sum(s.spill for s in stages),
        "input_records": sum(s.input_records for s in stages),
        "output_bytes": sum(s.output_bytes for s in stages),
        "py_bytes_in": sum(s.py_bytes_in for s in stages),
        "py_bytes_out": sum(s.py_bytes_out for s in stages),
        "py_boot_s": sum(s.py_boot_ms for s in stages) / 1000,
        "py_init_s": sum(s.py_init_ms for s in stages) / 1000,
        "py_run_s": sum(s.py_run_ms for s in stages) / 1000,
    }
    return t


def stage_rows(stages: list) -> list[dict]:
    """The per-stage table, one dict per stage, in submission order."""
    rows = []
    for s in sorted(stages, key=lambda s: (s.submit_ms, s.stage_id)):
        rows.append({
            "stage": s.stage_id,
            "group": s.job_group,
            "wall_s": round(s.wall_s, 3),
            "tasks": s.tasks,
            "run_s": s.run_ms / 1000,
            "cpu_s": round(s.cpu_ns / 1e9, 3),
            "gc_s": s.gc_ms / 1000,
            "shuffle_read": s.shuffle_read,
            "shuffle_write": s.shuffle_write,
            "spill": s.spill,
            "input_records": s.input_records,
            "task_max_s": max(s.task_ms, default=0) / 1000,
            "task_median_s": (statistics.median(s.task_ms) if s.task_ms else 0) / 1000,
            "py_bytes_in": s.py_bytes_in,
            "py_bytes_out": s.py_bytes_out,
            "py_boot_s": s.py_boot_ms / 1000,
            "py_init_s": s.py_init_ms / 1000,
            "py_run_s": s.py_run_ms / 1000,
        })
    return rows
