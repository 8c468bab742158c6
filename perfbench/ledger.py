"""Span ledger for the benchmark's traced run.

A span wraps one call from the benchmark into a module's public function
(``similarity`` entry build, ``snapshot_manager.snapshot`` …). Spans are
kept in memory and written once, when the run ends.

Each span runs under its own ``SparkContext.setJobGroup`` id, so jobs the
call starts from the driver thread carry the span's group. Jobs started
from other threads (a streaming query's micro-batches) carry no group;
they are attributed to the span whose time interval holds their
submission time. Spans run one after another, so no interval overlaps.

Engine-side numbers (executor CPU, GC, shuffle, spill, task retries)
come from Spark's own event log, which :func:`parse_event_log` folds into
per-job totals.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Ledger:
    """Spans of one run, each tagged with a Spark job group when traced.

    ``sc`` is None in an untraced run: spans are then plain timers, so
    the same workload code runs in both modes."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._self_s = 0.0  # the ledger's own bookkeeping time

    @contextmanager
    def span(self, module: str, op: str):
        rec = {"module": module, "op": op, "group": None}
        if self.sc is not None:
            t = time.perf_counter()
            rec["group"] = f"pb{len(self.spans):05d}"
            self.sc.setJobGroup(rec["group"], f"{module}.{op}")
            self._self_s += time.perf_counter() - t
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["s"] * 1000.0
            if self.sc is not None:
                t = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(_tracker_counts(self.sc, rec["group"]))
                self._self_s += time.perf_counter() - t
            self.spans.append(rec)

    @property
    def self_s(self) -> float:
        return self._self_s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _tracker_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks that ``group`` ran, from the status
    tracker (driver-thread jobs only; the event log adds the rest)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            s = st.getStageInfo(sid)
            if s is not None:
                tasks += s.numTasks
    return {"tracker_jobs": len(jobs), "tracker_stages": stages, "tracker_tasks": tasks}


# -- event log ---------------------------------------------------------------
METRICS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def _zero() -> dict:
    return dict.fromkeys(METRICS, 0)


def parse_event_log(lines) -> dict:
    """Fold a Spark JSON event log into per-job records and whole-run
    totals.

    Returns ``{"jobs": {job_id: {...}}, "totals": {...}}`` where each job
    has its group, submit and end time (ms), stage ids, and the summed
    task metrics of its stages: run, CPU and GC time, shuffle bytes
    written, bytes spilled, and failed task attempts. Task attempts that
    did not succeed are counted as retries."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict] = defaultdict(_zero)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": ev.get("Submission Time"),
                "end_ms": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            m = stage_metrics[ev["Stage ID"]]
            m["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                m["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            m["run_ms"] += tm.get("Executor Run Time", 0)
            m["cpu_ns"] += tm.get("Executor CPU Time", 0)
            m["gc_ms"] += tm.get("JVM GC Time", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    totals = _zero()
    for sid, m in stage_metrics.items():
        for k, v in m.items():
            totals[k] += v
        jid = stage_job.get(sid)
        if jid is None:
            continue
        job = jobs[jid]
        for k, v in m.items():
            job[k] = job.get(k, 0) + v
    totals["jobs"] = len(jobs)
    return {"jobs": jobs, "totals": totals}


def attribute(spans: list[dict], jobs: dict[int, dict]) -> None:
    """Attach each job to one span, in place: by job group when the job
    carries one of the spans' groups, else by the span whose interval
    holds its submission time. Adds to every span its job count, the
    summed task metrics of its jobs, and ``driver_only_s``: span time
    during which none of its jobs was running."""
    by_group = {s["group"]: s for s in spans if s.get("group")}
    ordered = sorted(spans, key=lambda s: s["start_ms"])
    for s in spans:
        s["jobs"] = []
    for jid, job in sorted(jobs.items()):
        owner = by_group.get(job["group"])
        if owner is None and job["submit_ms"] is not None:
            owner = next(
                (
                    s
                    for s in ordered
                    if s["start_ms"] <= job["submit_ms"] <= s["end_ms"]
                ),
                None,
            )
        if owner is not None:
            owner["jobs"].append(jid)
    for s in spans:
        mine = [jobs[j] for j in s["jobs"]]
        for k in METRICS:
            s[k] = sum(j.get(k, 0) for j in mine)
        busy = _union_ms(
            [
                (max(j["submit_ms"], s["start_ms"]), min(j["end_ms"] or s["end_ms"], s["end_ms"]))
                for j in mine
                if j["submit_ms"] is not None
            ]
        )
        s["driver_only_s"] = max(0.0, s["s"] - busy / 1000.0)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
