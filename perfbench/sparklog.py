"""Per-job-group Spark runtime metrics from the Spark event log.

The traced run enables the event log (``spark.eventLog.*``) and labels its
phases with job groups (``job_group``); after the session stops, the log
is read back and every finished task is charged to the group of the job
that ran its stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from contextlib import contextmanager


@contextmanager
def job_group(spark, name: str):
    """Label every Spark job started in the block with group ``name``."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", name)
    sc.setLocalProperty("spark.job.description", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _empty() -> dict:
    return {"cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "tasks": 0, "durations": [],
            "input": 0, "output": 0, "shuffle": 0, "spill": 0}


def _events(log_dir: str):
    """Every event in ``log_dir``; Spark writes one file per application,
    or a directory of rolled ``events_*`` files."""
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def read_groups(log_dir: str) -> dict[str, dict]:
    """group -> summed task metrics, over every event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    for ev in _events(log_dir):
        if ev.get("Event") == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
    groups: dict[str, dict] = {}
    for ev in _events(log_dir):
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        g = stage_group.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if g is None or not m:
            continue
        acc = groups.setdefault(g, _empty())
        info = ev.get("Task Info", {})
        acc["cpu_ns"] += m.get("Executor CPU Time", 0)
        acc["run_ms"] += m.get("Executor Run Time", 0)
        acc["gc_ms"] += m.get("JVM GC Time", 0)
        acc["tasks"] += 1
        acc["durations"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        acc["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        acc["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        acc["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        acc["spill"] += m.get("Disk Bytes Spilled", 0)
    return groups


def spark_metrics(groups: dict[str, dict], names: list[str]) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics over the union of ``names``."""
    acc = _empty()
    for n in names:
        g = groups.get(n)
        if g is None:
            continue
        for k, v in g.items():
            acc[k] = acc[k] + v
    d = acc["durations"]
    return {
        "spark.task_cpu_s": acc["cpu_ns"] / 1e9,
        "spark.task_run_s": acc["run_ms"] / 1e3,
        "spark.jvm_gc_s": acc["gc_ms"] / 1e3,
        "spark.tasks": float(acc["tasks"]),
        # durations are whole milliseconds; a 1 ms floor keeps the ratio
        # finite when most tasks finish within the timer's resolution
        "spark.task_max_over_median": max(d) / max(statistics.median(d), 1) if d else 0.0,
        "spark.input_bytes": float(acc["input"]),
        "spark.output_bytes": float(acc["output"]),
        "spark.shuffle_bytes": float(acc["shuffle"]),
        "spark.spill_bytes": float(acc["spill"]),
    }
