"""Per-layer numbers from Spark's own event log.

Reads an uncompressed event log, either a single file or a rolling
``eventlog_v2_<app>`` directory, and sums task metrics and SQL accumulables
over the jobs whose description (``setJobDescription``) passes a filter.
"""

from __future__ import annotations

import json
import os
import re
import statistics

# SQL accumulables worth a layer metric, by display name
_PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
# SQLMetric type -> factor to seconds (sizes and counts stay as they are)
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


def log_files(path: str) -> list[str]:
    """Event files of one application log, in write order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [
        os.path.join(path, n)
        for n in sorted(names, key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
    ]


def app_log(log_dir: str, app_id: str) -> str:
    """The event log of ``app_id`` under ``log_dir`` (rolling or single)."""
    for name in (f"eventlog_v2_{app_id}", app_id):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def _plan_metric_types(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", []):
        _plan_metric_types(child, out)


def read(path: str) -> dict:
    """Parse the log into jobs, stages and per-task records."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    metric_types: dict[int, str] = {}
    for fname in log_files(path):
        with open(fname, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    jobs[ev["Job ID"]] = {"desc": desc, "stages": ev["Stage IDs"]}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "wall_ms": (info.get("Completion Time") or 0)
                        - (info.get("Submission Time") or 0),
                        "n_tasks": info["Number of Tasks"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif "sparkPlanInfo" in ev:
                    # SQLExecutionStart and, under AQE, every re-plan
                    _plan_metric_types(ev["sparkPlanInfo"], metric_types)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in ev["sqlPlanMetrics"]:
                        metric_types[m["accumulatorId"]] = m["metricType"]
    return {
        "jobs": jobs,
        "stage_job": stage_job,
        "stages": stages,
        "tasks": tasks,
        "metric_types": metric_types,
    }


def summarize(log: dict, match=None) -> dict:
    """Layer totals over the jobs whose description satisfies ``match``
    (a predicate on the description string; None keeps every job)."""
    keep_jobs = {
        jid for jid, j in log["jobs"].items() if match is None or (j["desc"] is not None and match(j["desc"]))
    }
    out = {
        "jobs": len(keep_jobs),
        "tasks": 0,
        "gc_s": 0.0,
        "spill_bytes": 0,
        "shuffle_write_bytes": 0,
        "shuffle_fetch_wait_s": 0.0,
        **{name: 0 for name in _PY_METRICS.values()},
    }
    durations: dict[int, list[int]] = {}
    for ev in log["tasks"]:
        sid = ev["Stage ID"]
        if log["stage_job"].get(sid) not in keep_jobs:
            continue
        info = ev["Task Info"]
        out["tasks"] += 1
        durations.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
        tm = ev.get("Task Metrics") or {}
        out["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        out["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["shuffle_fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get(
            "Fetch Wait Time", 0
        ) / 1e3
        for acc in info.get("Accumulables", []):
            key = _PY_METRICS.get(acc.get("Name"))
            if key is None:
                continue
            value = int(acc.get("Update") or 0)
            mtype = log["metric_types"].get(acc["ID"])
            if mtype is None and key.endswith("_s"):
                mtype = "timing"  # Spark's default unit for a timing metric
            factor = _TIME_UNITS.get(mtype, 1)
            out[key] += value * factor
    # task skew of the slowest stage: max / median task time
    skew = 1.0
    if durations:
        slowest = max(durations, key=lambda s: log["stages"].get(s, {}).get("wall_ms", 0))
        d = durations[slowest]
        skew = max(d) / max(statistics.median(d), 1)
    out["task_skew"] = skew
    return out
