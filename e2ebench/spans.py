"""Per-layer spans for the traced benchmark run.

One span per library call, named ``<module>.<function>``. A span runs
its call under ``sc.setJobGroup(<span>#<request>)`` so every Spark job
the call launches can be attributed to it:

- job, stage and task counts come from ``sc.statusTracker()``, read
  after each request once the listener bus has drained;
- executor run/CPU time, shuffle bytes written and job intervals come
  from the uncompressed event log, parsed after the session stops.

``outside_jobs_s`` is the span's wall time not covered by any of its
jobs: driver-side planning, Python work and result transfer.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

SPAN_FIELDS = (
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "outside_jobs_s",
)
FIELD_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "B",
    "outside_jobs_s": "s",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings the traced run adds: an uncompressed event log
    (no zstd reader here) and status-store retention large enough that
    no job of a run is evicted before it is read."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir,
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        # (group, span, request, start, end, status-tracker counts)
        self.records: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, request: int):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{name}#{request}"
        sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.records.append(
                {"group": group, "span": name, "request": request, "start": start, "end": end}
            )

    def read_counts(self) -> None:
        """Attach status-tracker job/stage/task counts to every record
        that has none yet. Call between requests, untimed."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        _drain_listener_bus(sc)
        tracker = sc.statusTracker()
        for rec in self.records:
            if "jobs" in rec:
                continue
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            stage_ids = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = 0
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                # a skipped stage (its shuffle output reused) runs no task
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
            rec.update(jobs=len(job_ids), stages=stages, tasks=tasks)


def _drain_listener_bus(sc) -> None:
    """Block until Spark's listener bus has delivered every posted event,
    so the status store reflects all finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def _no_events() -> dict:
    return {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "jobs": []}


def parse_event_log(log_dir: str) -> dict:
    """Per job group: executor run/CPU seconds, shuffle bytes written and
    the list of job (start, end) intervals in epoch seconds."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, _no_events())

    for path in glob.glob(f"{log_dir}/**", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        acc(job_group[jid])["jobs"].append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group and m:
                        a = acc(group)
                        a["executor_run_s"] += m["Executor Run Time"] / 1000.0
                        a["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                        a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    return out


def _uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by the union of ``intervals``."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)


def span_rows(records: list[dict], log: dict) -> list[dict]:
    """One row per recorded span with every SPAN_FIELDS value."""
    rows = []
    for rec in records:
        ev = log.get(rec["group"]) or _no_events()
        rows.append(
            {
                "span": rec["span"],
                "request": rec["request"],
                "wall_s": rec["end"] - rec["start"],
                "jobs": rec["jobs"],
                "stages": rec["stages"],
                "tasks": rec["tasks"],
                "executor_run_s": ev["executor_run_s"],
                "executor_cpu_s": ev["executor_cpu_s"],
                "shuffle_write_bytes": ev["shuffle_write_bytes"],
                "outside_jobs_s": _uncovered(rec["start"], rec["end"], ev["jobs"]),
            }
        )
    return rows


def span_medians(rows: list[dict], spans: list[str]) -> dict[str, float]:
    """``<span>.<field>`` → median over the rows of that span; spans the
    workload never called report 0."""
    out = {}
    for span in spans:
        mine = [r for r in rows if r["span"] == span]
        for field in SPAN_FIELDS:
            out[f"{span}.{field}"] = statistics.median(r[field] for r in mine) if mine else 0
    return out
