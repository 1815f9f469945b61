"""Per-job-group totals from Spark's event log.

The benchmark tags every job it causes with ``sc.setJobGroup("r<rep>:<layer>")``
and, in traced runs, points ``spark.eventLog.dir`` at a directory private to
the run with compression off. This module reads that log after the session
has stopped and sums the task metrics of each group: jobs, stages, tasks,
executor run/CPU/deserialize time, shuffle bytes, spill, and the Python SQL
metrics that Spark attaches to tasks running Python (Arrow) operators.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# Python SQL metric names (Spark's PythonSQLMetrics) -> our counter names.
# Sizes are bytes and times milliseconds, as Spark reports them.
PY_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}

COUNTERS = (
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "task_deser_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "py_tasks",
    *PY_METRICS.values(),
)


def _log_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir``."""
    return sorted(os.path.join(root, f) for root, _dirs, files in os.walk(log_dir)
                  for f in files if not f.startswith(".") and not f.endswith(".crc"))


def read_groups(log_dir: str) -> dict[str, dict[str, float]]:
    """job group -> counter -> total. Jobs without a group are under ``""``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    totals[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        group = stage_group.get(info["Stage ID"], "")
                    stage_group[info["Stage ID"]] = group
                    totals[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    _add_task(totals[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(totals)


def _add_task(t: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    t["tasks"] += 1
    t["task_run_ms"] += m.get("Executor Run Time", 0)
    t["task_cpu_ns"] += m.get("Executor CPU Time", 0)
    t["task_deser_ms"] += m.get("Executor Deserialize Time", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    ran_python = False
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        key = PY_METRICS.get(acc.get("Name"))
        if key is not None:
            t[key] += int(acc.get("Update") or 0)
            ran_python = True
    t["py_tasks"] += ran_python


def per_rep(groups: dict[str, dict[str, float]]) -> dict[int, dict[str, dict[str, float]]]:
    """Split ``r<rep>:<layer>`` groups into rep -> layer -> counters."""
    out: dict[int, dict[str, dict[str, float]]] = defaultdict(dict)
    for group, counters in groups.items():
        head, _, layer = group.partition(":")
        if head.startswith("r") and head[1:].isdigit() and layer:
            out[int(head[1:])][layer] = counters
    return dict(out)


def sum_layers(layers: dict[str, dict[str, float]]) -> dict[str, float]:
    """Counters summed over the layers of one rep."""
    tot = dict.fromkeys(COUNTERS, 0)
    for counters in layers.values():
        for k in COUNTERS:
            tot[k] += counters[k]
    return tot


class Jmx:
    """JIT and GC totals of the Spark JVM through ``ManagementFactory``."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def sample(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        jit_ms = self._mf.getCompilationMXBean().getTotalCompilationTime()
        return {"jit_s": jit_ms / 1000.0, "gc_s": gc_ms / 1000.0}
