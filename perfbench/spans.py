"""Spans around calls into the package, and the per-span table built
from Spark's own event log.

A span is ``(name, start, end, parent, workload)``, kept in memory and
written out when the run ends. While a span is open its name is the
Spark job group, so every job, stage and task in the event log can be
attributed to the innermost span that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# per-span fields, in table order
FIELDS = (
    ("s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_max_over_p50", "ratio", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("max_stage_rows", "count", "lower"),
    ("persisted_rdds_after", "count", "lower"),
)
# spans whose jobs are split by Spark call site (no Python span of their own)
SPLIT_FIELDS = (("s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"))

PYTHON_BYTES = "data sent to Python workers"


class Tracer:
    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self._open: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._open.pop()
            self._set_group(parent)
            self.spans.append(
                {
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "workload": self.workload,
                    "persisted_rdds_after": self.sc._jsc.getPersistentRDDs().size(),
                }
            )

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def read_event_log(event_dir: str) -> list[dict]:
    """All events of the one stopped application in ``event_dir``: a
    single file, or Spark's rolling ``eventlog_v2_*`` directory of
    ``events_<n>_*`` files."""
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1 or names[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {event_dir}: {names}")
    path = os.path.join(event_dir, names[0])
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    events = []
    for f in files:
        with open(f) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


class EventLog:
    """Jobs, stages and tasks of one application, keyed by job group."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.exec_start: dict[int, int] = {}
        stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.stage_accums: dict[int, dict[str, float]] = {}
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                self.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "callsite": props.get("callSite.short", ""),
                    "exec": int(exec_id) if exec_id is not None else None,
                    "submit": ev["Submission Time"],
                    "end": None,
                    "stages": [],
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                self.stage_tasks.setdefault(ev["Stage ID"], []).append(ev)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = self.stage_accums.setdefault(info["Stage ID"], {})
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.exec_start[ev["executionId"]] = ev["time"]
        for sid, jid in stage_job.items():
            if sid in self.stage_tasks:
                self.jobs[jid]["stages"].append(sid)

    def job_ids(self, group: str) -> list[int]:
        return sorted(j for j, info in self.jobs.items() if info["group"] == group)

    def summary(self, job_ids: list[int]) -> dict[str, float]:
        stages = [s for j in job_ids for s in self.jobs[j]["stages"]]
        tasks = [t for s in stages for t in self.stage_tasks[s]]
        skew = 1.0
        max_rows = 0
        for s in stages:
            durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                    for t in self.stage_tasks[s]]
            if len(durs) >= 2:
                skew = max(skew, max(durs) / max(statistics.median(durs), 1.0))
            rows = max(
                sum(_metric(t, "Shuffle Write Metrics", "Shuffle Records Written") for t in self.stage_tasks[s]),
                sum(_metric(t, "Output Metrics", "Records Written") for t in self.stage_tasks[s]),
            )
            max_rows = max(max_rows, rows)
        windows = [(self.jobs[j]["submit"], self.jobs[j]["end"]) for j in job_ids]
        return {
            "jobs": len(job_ids),
            "tasks": len(tasks),
            "task_max_over_p50": skew,
            "shuffle_mb": sum(_metric(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks) / 1e6,
            "spill_mb": sum(_metric(t, "Disk Bytes Spilled") for t in tasks) / 1e6,
            "max_stage_rows": max_rows,
            "job_s": sum((e - s) / 1000.0 for s, e in windows if e is not None),
            "single_task_stages": sum(1 for s in stages if len(self.stage_tasks[s]) == 1),
            "python_mb": sum(self.stage_accums.get(s, {}).get(PYTHON_BYTES, 0.0) for s in stages) / 1e6,
        }

    def plan_s(self, job_ids: list[int]) -> float:
        """Gap between each SQL execution's start and its first job."""
        first: dict[int, int] = {}
        for j in job_ids:
            ex = self.jobs[j]["exec"]
            if ex is not None and ex in self.exec_start:
                first[ex] = min(first.get(ex, self.jobs[j]["submit"]), self.jobs[j]["submit"])
        return sum(max(sub - self.exec_start[ex], 0) for ex, sub in first.items()) / 1000.0


def _metric(task: dict, *path: str) -> float:
    node = task.get("Task Metrics") or {}
    for key in path:
        node = node.get(key) if isinstance(node, dict) else None
        if node is None:
            return 0.0
    return float(node)


def span_rows(tracer: Tracer, log: EventLog) -> dict[str, dict]:
    """Per-span row: wall time, self time and the event-log counters of
    the jobs that ran while the span was the innermost one open. Spans
    that share a name (the traced reps) are summed."""
    rows: dict[str, dict] = {}
    for sp in tracer.spans:
        row = rows.setdefault(sp["name"], {"s": 0.0, "parent": sp["parent"]})
        row["s"] += sp["end"] - sp["start"]
        row["persisted_rdds_after"] = sp["persisted_rdds_after"]
    for name, row in rows.items():
        row.update(log.summary(log.job_ids(name)))
    for name, row in rows.items():
        kids = sum(r["s"] for r in rows.values() if r["parent"] == name)
        row["self_s"] = row["s"] - kids
    return rows


def print_table(rows: dict[str, dict], out) -> None:
    head = f"{'span':<52}{'s':>8}{'self_s':>8}{'jobs':>6}{'tasks':>7}{'skew':>7}{'shufMB':>8}{'spillMB':>8}{'maxrows':>10}{'cached':>7}"
    print(head, file=out)
    for name, r in rows.items():
        print(
            f"{name:<52}{r['s']:>8.3f}{r['self_s']:>8.3f}{r['jobs']:>6}{r['tasks']:>7}"
            f"{r['task_max_over_p50']:>7.2f}{r['shuffle_mb']:>8.2f}{r['spill_mb']:>8.2f}"
            f"{r['max_stage_rows']:>10.0f}{r['persisted_rdds_after']:>7}",
            file=out,
        )
