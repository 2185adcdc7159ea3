"""In-memory spans and Spark job accounting, measured from outside the library.

A span is ``(name, start, end, parent, call_id)``; spans stay in a list and
are written out once, when the run ends. Spark work is attributed to a call
through its job group: ``statusTracker`` gives the job/stage/task counts right
after the call, and the run's local event log (parsed after the session
stops) gives shuffle bytes, spill bytes and the time Spark was busy.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Spans:
    """Append-only span list; ``span()`` nests through a parent stack."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, call_id: str | None = None):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "call_id": call_id,
        }
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.records, f)


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job started inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(sc, group: str) -> dict:
    """Jobs, executed stages, tasks and failed tasks of one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    seen = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped (reused shuffle output)
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"spark_jobs": jobs, "spark_stages": stages,
            "spark_tasks": tasks, "failed_tasks": failed}


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def event_log_summary(log_dir: str) -> dict[str, dict]:
    """Per job group: ``shuffle_write_bytes``, ``spill_bytes`` and
    ``spark_busy_s`` (union of the group's job intervals), over every
    application log in ``log_dir`` (job and stage ids are per application)."""
    out: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            out.update(_summarize_app(json.loads(line) for line in f))
    return out


def _summarize_app(events) -> dict[str, dict]:
    job_group_of, job_start, job_end, stage_group = {}, {}, {}, {}
    shuffle, spill = {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group_of[jid] = group
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            sw = metrics.get("Shuffle Write Metrics") or {}
            shuffle[group] = shuffle.get(group, 0) + sw.get(
                "Shuffle Bytes Written", 0)
            spill[group] = (spill.get(group, 0)
                            + metrics.get("Memory Bytes Spilled", 0)
                            + metrics.get("Disk Bytes Spilled", 0))
    intervals: dict[str, list] = {}
    for jid, group in job_group_of.items():
        if jid in job_end:
            intervals.setdefault(group, []).append((job_start[jid], job_end[jid]))
    return {
        group: {
            "shuffle_write_bytes": shuffle.get(group, 0),
            "spill_bytes": spill.get(group, 0),
            "spark_busy_s": _union_seconds(intervals.get(group, [])),
        }
        for group in set(job_group_of.values())
    }
