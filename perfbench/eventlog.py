"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
totals, with the standard library only.

Every job carries the ``spark.jobGroup.id`` the benchmark set before the
call; stages inherit their job's group.  Per group the fold measures the
wall time during which jobs ran, counts jobs and completed stages, and
adds up the stage accumulables by name: task metrics
(``internal.metrics.*``) and SQL operator metrics (``scan time``,
``time to run Python workers`` and so on).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# stage accumulable name -> folded key and the factor to base units
_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "scan time": ("scan_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
}


def _events(log_dir: str):
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus"):
                continue
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by at least one of the (start, end) ms intervals;
    adaptive execution runs some jobs of one query concurrently."""
    busy, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            busy += end - start
            reach = end
        elif end > reach:
            busy += end - reach
            reach = end
    return busy / 1000.0


def fold(log_dir: str) -> dict[str, dict[str, float]]:
    """group id -> {jobs, stages, job_busy_s, <_STAGE_METRICS keys>};
    ``job_busy_s`` is the wall time during which a job of the group ran."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id", "")
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            out[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                intervals[job_group[jid]].append(
                    (job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            acc = out[group]
            acc["stages"] += 1
            for a in info.get("Accumulables", []):
                m = _STAGE_METRICS.get(a.get("Name"))
                if m is None:
                    continue
                try:
                    acc[m[0]] += float(a["Value"]) * m[1]
                except (KeyError, TypeError, ValueError):
                    continue
    for group, iv in intervals.items():
        out[group]["job_busy_s"] = _union_s(iv)
    return {g: dict(v) for g, v in out.items()}


def total(folded: dict, prefix: str) -> dict[str, float]:
    """Sum of every group whose id starts with ``prefix``."""
    acc: dict[str, float] = defaultdict(float)
    for g, vals in folded.items():
        if g.startswith(prefix):
            for k, v in vals.items():
                acc[k] += v
    return dict(acc)
