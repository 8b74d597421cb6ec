"""Spark event-log reader: per-layer totals for a window of wall-clock time.

The log is the JSON-lines file Spark writes when ``spark.eventLog.enabled``
is set with rolling and compression off. Task-level metrics come from
``SparkListenerTaskEnd``; SQL metrics (Python crossing, scan, exchange)
come from each task's accumulator updates, whose units are looked up in
the ``sparkPlanInfo`` trees of the SQL execution events.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

# SQL metric name -> summary field. Units follow the metric's type.
_SQL_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "scan time": "scan_time_s",
}
_PYTHON_MARKERS = ("time to run Python workers", "data sent to Python workers")
_UNIT_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


@dataclass
class Summary:
    """Totals over the tasks and jobs that started inside the window."""

    jobs: int = 0
    stages: int = 0
    python_stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_start_s: float = 0.0
    python_init_s: float = 0.0
    python_run_s: float = 0.0
    python_bytes_in: float = 0.0
    python_bytes_out: float = 0.0
    scan_time_s: float = 0.0
    input_rows: int = 0
    exchange_write_s: float = 0.0
    exchange_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    sink_bytes: int = 0
    sink_rows: int = 0
    python_task_run_s: list = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Slowest Python task's run time over the median one's."""
        runs = self.python_task_run_s
        if not runs:
            return 0.0
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, names[0])


def _metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _metric_types(child, out)


def read(path: str, start_ms: float = 0.0,
         end_ms: float = float("inf")) -> Summary:
    """Sum the log's task and job metrics for work launched in
    ``[start_ms, end_ms]`` (epoch milliseconds)."""
    types: dict[int, str] = {}
    sql_updates: list[tuple[int, str, float]] = []
    stage_tasks: dict[tuple[int, int], list[tuple[float, bool]]] = {}
    s = Summary()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:
                _metric_types(ev["sparkPlanInfo"], types)
            elif kind == "SparkListenerJobStart":
                if start_ms <= ev["Submission Time"] <= end_ms:
                    s.jobs += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if not start_ms <= info["Launch Time"] <= end_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1e3
                s.tasks += 1
                s.exec_run_s += run_s
                s.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                s.gc_s += m.get("JVM GC Time", 0) / 1e3
                s.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
                sw = m.get("Shuffle Write Metrics", {})
                s.exchange_write_s += sw.get("Shuffle Write Time", 0) / 1e9
                s.exchange_bytes += sw.get("Shuffle Bytes Written", 0)
                s.fetch_wait_s += (
                    m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                    / 1e3)
                s.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
                out = m.get("Output Metrics", {})
                s.sink_bytes += out.get("Bytes Written", 0)
                s.sink_rows += out.get("Records Written", 0)
                is_python = False
                for acc in info.get("Accumulables", ()):
                    name = acc.get("Name")
                    if name in _PYTHON_MARKERS:
                        is_python = True
                    if name in _SQL_METRICS:
                        sql_updates.append(
                            (acc["ID"], name, float(acc.get("Update", 0))))
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                stage_tasks.setdefault(key, []).append((run_s, is_python))
    for acc_id, name, update in sql_updates:
        attr = _SQL_METRICS[name]
        default = "timing" if attr.endswith("_s") else "size"
        scale = _UNIT_SCALE.get(types.get(acc_id, default), 1.0)
        setattr(s, attr, getattr(s, attr) + update * scale)
    s.stages = len(stage_tasks)
    for tasks in stage_tasks.values():
        if any(py for _, py in tasks):
            s.python_stages += 1
            s.python_task_run_s.extend(run for run, _ in tasks)
    return s
