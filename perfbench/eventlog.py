"""Fold Spark's (uncompressed) event log into the ``exec.*``,
``operators.*`` and ``queries.build_jobs`` layer metrics.

Only jobs in the groups of the given passes count: a traced pass tags
every query, trigger and writer call with a ``pb|<kind>|<pass>|<label>``
group, so untraced passes and verification jobs stay out.  Sums are
divided by the number of passes, giving per-pass figures."""

from __future__ import annotations

import json
import os

# SQL metrics of the Arrow / pandas Python runners (Spark 4.1): timing
# metrics in milliseconds, size metrics in bytes.
PY_TIME = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _events(log_dir: str):
    """Every event under ``log_dir`` (Spark 4 writes a directory of
    rolled ``events_<n>_<app>`` files per application)."""
    for root, _, files in sorted(os.walk(log_dir)):
        rolled = [n for n in files if n.startswith("events_")]
        for name in sorted(rolled, key=lambda n: int(n.split("_")[1])):
            with open(os.path.join(root, name)) as f:
                for line in f:
                    yield json.loads(line)


def _pass_of(group: str) -> int | None:
    parts = group.split("|")
    return int(parts[2]) if len(parts) > 3 and parts[0] == "pb" and parts[2].isdigit() else None


def fold(log_dir: str | None, passes: set[int]) -> dict:
    m = {
        "exec.wall_s": 0.0,
        "exec.tasks": 0.0,
        "exec.run_s": 0.0,
        "exec.cpu_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.shuffle_read_bytes": 0.0,
        "exec.shuffle_write_bytes": 0.0,
        "exec.spill_bytes": 0.0,
        "exec.output_bytes": 0.0,
        "operators.python_s": 0.0,
        "operators.python_boot_s": 0.0,
        "operators.python_bytes": 0.0,
        "queries.build_jobs": 0.0,
    }
    if not log_dir or not passes:
        return m
    stage_group: set[int] = set()
    job_start: dict[int, int] = {}
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if _pass_of(group) not in passes:
                continue
            job_start[e["Job ID"]] = e["Submission Time"]
            if group.startswith("pb|build|"):
                m["queries.build_jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_start:
                m["exec.wall_s"] += (e["Completion Time"] - job_start[e["Job ID"]]) / 1000
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if _pass_of(group) in passes:
                stage_group.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in stage_group:
                continue
            tm = e.get("Task Metrics") or {}
            m["exec.tasks"] += 1
            m["exec.run_s"] += tm.get("Executor Run Time", 0) / 1000
            m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1000
            sr = tm.get("Shuffle Read Metrics") or {}
            m["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["exec.shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["exec.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["exec.output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PY_TIME:
                    m["operators.python_s"] += int(upd) / 1000
                elif name in PY_BOOT:
                    m["operators.python_boot_s"] += int(upd) / 1000
                elif name in PY_BYTES:
                    m["operators.python_bytes"] += int(upd)
    return {k: v / len(passes) for k, v in m.items()}
