"""Reduce a Spark JSON event log to the benchmark's ``stage.*`` and
``extract.python_*`` metrics.

The log is the uncompressed, non-rolling file Spark writes when the session
runs with ``spark.eventLog.enabled`` (see ``EVENTLOG_CONF``). Jobs are
assigned to a measured window by their submission time, so the reducer
needs no cooperation from the code under test. The Python metrics are the
Spark 4.1 ``PythonSQLMetrics`` accumulables of the stages in the window;
a metric that no stage reports is listed in ``absent`` instead of being
estimated.

    python3 perfbench/eventlog.py <event log file> <start_ms> <end_ms> <cores>
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

MB = 1024 * 1024

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.compress": "false",
}

PYTHON_METRICS = {
    "python_run_s": ("time to run Python workers", 1e-3),
    "python_boot_s": ("time to start Python workers", 1e-3),
    "python_init_s": ("time to initialize Python workers", 1e-3),
    "python_bytes_in_mb": ("data sent to Python workers", 1 / MB),
    "python_bytes_out_mb": ("data returned from Python workers", 1 / MB),
}


def log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    return files[0]


def read_events(path: str) -> dict:
    """Jobs (submission ms, stage ids), per-stage task records and per-stage
    accumulables (name -> summed value)."""
    jobs, tasks, accums = [], {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append((ev.get("Submission Time", 0), ev["Stage IDs"]))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "read_b": rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0),
                    "write_b": wr.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0)})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = accums.setdefault(info["Stage ID"], {})
                for a in info.get("Accumulables", []):
                    try:
                        v = float(a.get("Value"))
                    except (TypeError, ValueError):
                        continue
                    acc[a.get("Name")] = acc.get(a.get("Name"), 0.0) + v
    return {"jobs": jobs, "tasks": tasks, "accums": accums}


def stages_between(events: dict, start_ms: float, end_ms: float) -> list[int]:
    ids = set()
    for submitted, stage_ids in events["jobs"]:
        if start_ms <= submitted <= end_ms:
            ids.update(stage_ids)
    # a job lists the stages it may skip; only stages that ran have tasks
    return sorted(i for i in ids if i in events["tasks"])


def stage_metrics(events: dict, start_ms: float, end_ms: float,
                  cores: int) -> dict:
    stages = stages_between(events, start_ms, end_ms)
    tasks = [t for s in stages for t in events["tasks"][s]]
    task_s = sum(t["run_ms"] for t in tasks) / 1000
    skew = 1.0
    for s in stages:
        runs = [t["run_ms"] for t in events["tasks"][s]]
        med = statistics.median(runs)
        if len(runs) > 1 and med > 0:
            skew = max(skew, max(runs) / med)
    wall = max(end_ms - start_ms, 1) / 1000
    return {
        "stage.count": len(stages),
        "stage.tasks": len(tasks),
        "stage.task_s_sum": task_s,
        "stage.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        "stage.shuffle_read_mb": sum(t["read_b"] for t in tasks) / MB,
        "stage.shuffle_write_mb": sum(t["write_b"] for t in tasks) / MB,
        "stage.spill_mb": sum(t["spill_b"] for t in tasks) / MB,
        "stage.max_task_skew": skew,
        "stage.occupancy": task_s / (wall * cores),
    }


def python_metrics(events: dict, start_ms: float, end_ms: float
                   ) -> tuple[dict, list[str]]:
    """Summed PythonSQLMetrics over the window's stages; absent ones are
    returned by name (and left out of the dict)."""
    stages = stages_between(events, start_ms, end_ms)
    out, absent = {}, []
    for key, (name, scale) in PYTHON_METRICS.items():
        vals = [events["accums"][s][name] for s in stages
                if name in events["accums"].get(s, {})]
        if vals:
            out[key] = sum(vals) * scale
        else:
            absent.append(name)
    return out, absent


if __name__ == "__main__":
    ev = read_events(sys.argv[1])
    lo, hi, n = float(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4])
    res = stage_metrics(ev, lo, hi, n)
    py, missing = python_metrics(ev, lo, hi)
    print(json.dumps({**res, **py, "absent": missing}, indent=1))
