"""Task- and stage-level sums from Spark's own event log (written only by
traced runs: uncompressed JSON lines, one file per application)."""

from __future__ import annotations

import json
import os

# SQL metrics Spark puts on Python-evaluating plan nodes (ArrowEvalPython,
# MapInArrow, ...); task accumulables carry them by display name
PY_METRICS = {
    "time to start python workers": ("pyworker.start_s", 1e-3),
    "time to initialize python workers": ("pyworker.init_s", 1e-3),
    "time to run python workers": ("pyworker.run_s", 1e-3),
    "data sent to python workers": ("pyworker.bytes_sent", 1),
    "data returned from python workers": ("pyworker.bytes_returned", 1),
}


def _events(log_dir: str):
    if not os.path.isdir(log_dir):
        return
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path) and not name.endswith(".inprogress"):
            with open(path) as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except ValueError:
                        continue


def summarize(log_dir: str, job_filter) -> dict[str, float]:
    """Sum stage and task work over the jobs ``job_filter(group,
    submit_ms)`` accepts (``group`` is the job group id or None,
    ``submit_ms`` the submission time in epoch milliseconds). A run has one
    application, so job and stage ids are unique."""
    jobs: set[int] = set()
    stages: set[int] = set()
    completed: set[tuple[int, int]] = set()
    out = {
        "exec.tasks": 0, "exec.task_cpu_s": 0.0, "exec.gc_s": 0.0,
        "exec.shuffle_read_bytes": 0, "exec.shuffle_write_bytes": 0, "exec.spill_bytes": 0,
    }
    out.update({name: 0 for name, _ in PY_METRICS.values()})
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if job_filter(group, ev.get("Submission Time", 0)):
                jobs.add(ev["Job ID"])
                stages.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stages and not info.get("Failure Reason"):
                completed.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
            out["exec.tasks"] += 1
            m = ev.get("Task Metrics") or {}
            out["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                metric = PY_METRICS.get(str(acc.get("Name", "")).lower())
                if metric is not None:
                    out[metric[0]] += float(acc.get("Update", 0)) * metric[1]
    out["exec.jobs"] = len(jobs)
    out["exec.stages"] = len(completed)
    return out
