"""Aggregate a Spark JSON event log (uncompressed) over a time window.

Jobs are kept when their submission time falls inside one of the given
windows (epoch ms); tasks count when their stage belongs to a kept job.
Task metrics and the Python-boundary SQL accumulators are summed. Jobs
are grouped by ``callSite.short`` where the job carries it; jobs without
it (AQE broadcasts, background-thread writes, local checkpoints) are
counted as unattributed rather than guessed.
"""

from __future__ import annotations

import json
from collections import Counter

# SQL accumulator name → (metric key, scale to the reported unit)
PY_ACCUMULATORS = {
    "data sent to Python workers": ("udf.bytes_to_python", 1.0),
    "data returned from Python workers": ("udf.bytes_from_python", 1.0),
    "time to run Python workers": ("udf.run_s", 1e-3),
    "time to initialize Python workers": ("udf.init_s", 1e-3),
}


def _in(windows, t) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)


def aggregate(lines, windows) -> dict:
    """``lines``: the event log's JSON lines; ``windows``: [(lo, hi)]
    epoch-ms intervals. Returns the spark.* / udf.* sums plus
    ``callsites`` (callSite.short → job count)."""
    jobs, stage_job, callsites = 0, {}, Counter()
    unattributed = 0
    out = {"spark.tasks": 0, "spark.executor_run_s": 0.0,
           "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
           "spark.shuffle_write_bytes": 0, "spark.shuffle_read_bytes": 0,
           "spark.spill_bytes": 0}
    for key, _ in PY_ACCUMULATORS.values():
        out[key] = 0.0
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if not _in(windows, ev.get("Submission Time", -1)):
                continue
            jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            site = (ev.get("Properties") or {}).get("callSite.short")
            if site:
                callsites[site] += 1
            else:
                unattributed += 1
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_job:
                continue
            out["spark.tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            out["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            out["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            out["spark.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_bytes"] += sw.get(
                "Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                hit = PY_ACCUMULATORS.get(acc.get("Name"))
                if hit and acc.get("Update") is not None:
                    out[hit[0]] += float(acc["Update"]) * hit[1]
    out["spark.jobs"] = jobs
    out["spark.jobs_unattributed"] = unattributed
    out["callsites"] = dict(callsites.most_common())
    return out


def read_log(path: str) -> list:
    with open(path) as fh:
        return fh.readlines()
