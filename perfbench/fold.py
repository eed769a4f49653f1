"""Fold a Spark event log into the benchmark's spans.

The traced run enables ``spark.eventLog`` (uncompressed JSON lines).
Each Spark job is attributed to the harness span whose wall-clock
window holds the job's submission time; jobs submitted from pooled
threads do not inherit job groups, so windows are the only attribution
that holds for every call site. Tasks follow their job through the
stage ids the job start lists.

Span tree: workload -> phase span -> Spark job -> stage -> tasks.
"""

from __future__ import annotations

import glob
import json
import os

from harness import median


def load_event_log(log_dir: str) -> tuple[dict, list]:
    """``(jobs, tasks)`` from every event-log file under ``log_dir``.

    jobs: ``{job_id: {"start": ms, "end": ms, "stages": [...]}}``
    tasks: dicts with the stage id, launch/finish ms and task metrics.
    """
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    _fold_event(json.loads(line), jobs, tasks)
    return jobs, tasks


def _fold_event(ev: dict, jobs: dict, tasks: list) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        jobs[ev["Job ID"]] = {
            "start": ev["Submission Time"],
            "end": None,
            "stages": list(ev.get("Stage IDs", [])),
        }
    elif kind == "SparkListenerJobEnd":
        if ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    elif kind == "SparkListenerTaskEnd":
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        tasks.append({
            "stage": ev["Stage ID"],
            "launch": info["Launch Time"],
            "finish": info["Finish Time"],
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
            "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        })


def idle_ms(start: float, end: float, intervals) -> float:
    """Part of ``[start, end]`` not covered by any interval: the span's
    driver time when the intervals are executor task runs."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)


def max_concurrent(intervals) -> int:
    """Most intervals open at one instant (end is exclusive)."""
    edges = sorted([(s, 1) for s, e in intervals] + [(e, -1) for s, e in intervals],
                   key=lambda x: (x[0], x[1]))
    best = cur = 0
    for _, d in edges:
        cur += d
        best = max(best, cur)
    return best


def task_skew(durations) -> float:
    """Slowest task over the median task: 1.0 means no skew."""
    ds = [d for d in durations if d > 0]
    return max(ds) / median(ds) if ds else 0.0


def fold(spans: list[dict], jobs: dict, tasks: list[dict]) -> list[dict]:
    """Per-span Spark accounting. Each returned dict extends the span
    with job/task totals; see the module docstring for attribution."""
    stage_job = {s: j for j, rec in jobs.items() for s in rec["stages"]}
    by_job: dict[int, list] = {}
    for t in tasks:
        by_job.setdefault(stage_job.get(t["stage"]), []).append(t)
    all_runs = [(t["launch"], t["finish"]) for t in tasks]
    out = []
    for sp in spans:
        mine = [j for j, rec in jobs.items() if sp["start"] <= rec["start"] < sp["end"]]
        ts = [t for j in mine for t in by_job.get(j, [])]
        # the write stage: the tasks that wrote output bytes
        writes = [t for t in ts if t["out_bytes"] > 0]
        out.append({
            **sp,
            "wall_s": (sp["end"] - sp["start"]) / 1000,
            "jobs": len(mine),
            "driver_s": idle_ms(sp["start"], sp["end"], all_runs) / 1000,
            "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000,
            "input_bytes": sum(t["in_bytes"] for t in ts),
            "output_bytes": sum(t["out_bytes"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "write_tasks": len(writes),
            "task_skew": task_skew([t["finish"] - t["launch"] for t in writes]),
            "jobs_concurrent_max": max_concurrent(
                [(jobs[j]["start"], jobs[j]["end"] or sp["end"]) for j in mine]
            ),
        })
    return out
