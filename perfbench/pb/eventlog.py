"""Per-operation Spark metrics from an uncompressed, non-rolling event log.

Jobs are attributed to an operation by their submission time, so jobs
that streaming queries start on their own threads count too. Task
metrics and the Python-boundary SQL metrics are summed from task-end
events; the Python node's row counter is found by walking the SQL plan
infos for nodes that carry the "data sent to Python workers" metric.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Sequence

# SQL metric name -> (output key, scale to the output unit)
PYTHON_METRICS = {
    "data sent to Python workers": ("python.data_sent_bytes", 1.0),
    "data returned from Python workers": ("python.data_received_bytes", 1.0),
    "time to run Python workers": ("python.total_s", 1e-3),
    "time to start Python workers": ("python.boot_s", 1e-3),
}
_PY_MARKER = "data sent to Python workers"

KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "python.data_sent_bytes",
    "python.data_received_bytes",
    "python.rows_received",
    "python.total_s",
    "python.boot_s",
    "ml.tracker.barrier_stage_s",
)


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _python_row_ids(plan: dict, out: set[int]) -> None:
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", ())}
    if _PY_MARKER in metrics and "number of output rows" in metrics:
        out.add(metrics["number of output rows"])
    for child in plan.get("children", ()):
        _python_row_ids(child, out)


class EventLog:
    """Index of one application's event log."""

    def __init__(self, events: Iterable[dict]):
        self.jobs: list[tuple[float, list[int]]] = []  # (submit s, stage ids)
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.python_row_ids: set[int] = set()
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs.append((e["Submission Time"] / 1e3, list(e["Stage IDs"])))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time", 0) / 1e3,
                    "end": info.get("Completion Time", 0) / 1e3,
                    "barrier": any(r.get("Barrier") for r in info.get("RDD Info", ())),
                }
            elif kind == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e)
            elif "sparkPlanInfo" in e:
                _python_row_ids(e["sparkPlanInfo"], self.python_row_ids)

    def summarize(self, start: float, end: float) -> dict[str, float]:
        """Totals over the jobs submitted in ``[start, end]`` (epoch s)."""
        out = dict.fromkeys(KEYS, 0.0)
        stage_ids: set[int] = set()
        for submit, ids in self.jobs:
            if start <= submit <= end:
                out["spark.jobs"] += 1
                stage_ids.update(i for i in ids if i in self.stages)
        out["spark.stages"] = float(len(stage_ids))
        for sid in stage_ids:
            stage = self.stages[sid]
            if stage["barrier"]:
                out["ml.tracker.barrier_stage_s"] += stage["end"] - stage["start"]
            for task in self.tasks.get(sid, ()):
                self._add_task(task, out)
        return out

    def _add_task(self, task: dict, out: dict[str, float]) -> None:
        out["spark.tasks"] += 1
        m = task.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        for acc in (task.get("Task Info") or {}).get("Accumulables", ()):
            name = acc.get("Name")
            try:
                update = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name in PYTHON_METRICS:
                key, scale = PYTHON_METRICS[name]
                out[key] += update * scale
            elif acc.get("ID") in self.python_row_ids:
                out["python.rows_received"] += update


def summarize_ops(path: str, intervals: Sequence[tuple[float, float]]) -> list[dict]:
    log = EventLog(read_events(path))
    return [log.summarize(s, e) for s, e in intervals]
