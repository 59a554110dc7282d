"""Fold Spark's own event log into per-op ledgers.

Each Spark job is attributed to the benchmark span that caused it:
by its job group (``<workload>/<op>/<i>``, set around every op), or,
for jobs the library launches from its own thread pools (which do not
inherit the group), to the op span whose interval contains the job's
submission time. Task metrics roll up job -> op span."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

@dataclass
class Ledger:
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    job_intervals: list = field(default_factory=list)

    @property
    def busy_s(self) -> float:
        """Union of the op's job intervals: time a Spark job ran."""
        total, end = 0.0, float("-inf")
        for s, e in sorted(self.job_intervals):
            if e <= end:
                continue
            total += e - max(s, end)
            end = e
        return total / 1000.0

    @property
    def driver_only_s(self) -> float:
        return max(0.0, self.wall_s - self.busy_s)


def read_events(log_dir: str, app_id: str = "") -> list[dict]:
    """Events of every log under ``log_dir``, or of one application's
    log: job ids restart at 0 in every SparkContext."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", app_id + "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold(events: list[dict], spans: list[dict]) -> tuple[dict[int, Ledger], int]:
    """Return ({op span id: Ledger}, untagged jobs attributed by time).

    ``spans`` are top-level op spans: dicts with id, group, start_ms,
    end_ms. Jobs outside every span (set-up, untraced passes) are
    ignored."""
    by_group = {s["group"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start_ms"])
    ledgers = {s["id"]: Ledger(wall_s=(s["end_ms"] - s["start_ms"]) / 1000.0) for s in spans}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev.get("Submission Time"),
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})

    owner: dict[int, int] = {}
    untagged = 0
    for jid, job in jobs.items():
        span = by_group.get(job["group"]) if job["group"] else None
        if span is None and job["start"] is not None:
            span = next(
                (s for s in ordered if s["start_ms"] <= job["start"] <= s["end_ms"]),
                None,
            )
            if span is not None:
                untagged += 1
        if span is None:
            continue
        owner[jid] = span["id"]
        led = ledgers[span["id"]]
        led.jobs += 1
        end = job["end"] if job["end"] is not None else span["end_ms"]
        led.job_intervals.append(
            (max(job["start"], span["start_ms"]), min(end, span["end_ms"]))
        )

    for sid, tasks in stage_tasks.items():
        jid = stage_job.get(sid)
        if jid not in owner:
            continue
        led = ledgers[owner[jid]]
        for m in tasks:
            led.tasks += 1
            led.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            led.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            led.gc_s += m.get("JVM GC Time", 0) / 1000.0
            led.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            led.spill_bytes += m.get("Disk Bytes Spilled", 0)
            led.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return ledgers, untagged
