"""Reduce a Spark event log (uncompressed JSON lines) to per-job-group layer
figures.

The benchmark tags every timed action with a job group
(``SparkContext.setJobGroup``) named ``<phase>:<repetition>:[<query>:]``;
the figures of a group prefix cover the jobs started under matching
groups and the tasks of their stages.  SQL metrics (scan time, the
Python worker metrics of ``MapInPandas``) arrive as task accumulables;
their units come from the metric types declared in the SQL plan events.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

_SQL_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
#: SQL metric type -> factor to seconds (timing) or 1 (counts and sizes)
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}

PYTHON_BOOT = "time to start Python workers"
PYTHON_INIT = "time to initialize Python workers"
PYTHON_RUN = "time to run Python workers"
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"
SCAN_TIME = "scan time"


def read_events(path: str | Path) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _walk_plan(node: dict, types: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        types[int(m["accumulatorId"])] = m["metricType"]
    for child in node.get("children", ()):
        _walk_plan(child, types)


class EventLog:
    def __init__(self, events: list[dict]):
        self.metric_types: dict[int, str] = {}
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e["Event"]
            if kind in _SQL_EVENTS:
                _walk_plan(e["sparkPlanInfo"], self.metric_types)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "group": props.get("spark.jobGroup.id") or "",
                    "start": e["Submission Time"] / 1e3,
                    "end": None,
                }
                for sid in e["Stage IDs"]:
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time", 0) / 1e3,
                    "end": info.get("Completion Time", 0) / 1e3,
                }
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(self._task(e))

    def _task(self, e: dict) -> dict:
        m = e.get("Task Metrics") or {}
        shuffle_w = m.get("Shuffle Write Metrics", {})
        shuffle_r = m.get("Shuffle Read Metrics", {})
        sql: dict[str, float] = {}
        for acc in e["Task Info"].get("Accumulables", ()):
            name = acc.get("Name", "")
            if name.startswith("internal.") or acc.get("Update") is None:
                continue
            factor = _UNIT.get(self.metric_types.get(int(acc["ID"]), ""), 1.0)
            sql[name] = sql.get(name, 0.0) + float(acc["Update"]) * factor
        return {
            "stage": e["Stage ID"],
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "shuffle_s": shuffle_w.get("Shuffle Write Time", 0) / 1e9
            + shuffle_r.get("Fetch Wait Time", 0) / 1e3,
            "shuffle_bytes": shuffle_w.get("Shuffle Bytes Written", 0),
            "sql": sql,
        }

    @classmethod
    def from_file(cls, path: str | Path) -> EventLog:
        return cls(read_events(path))

    def group_jobs(self, prefix: str) -> list[dict]:
        """Jobs whose job group starts with ``prefix``."""
        return [j for j in self.jobs.values() if j["group"].startswith(prefix)]

    def summary(self, prefix: str, cores: int) -> dict:
        """Layer figures of the jobs whose group starts with ``prefix``
        (see the README for each)."""
        job_ids = {j["id"] for j in self.group_jobs(prefix)}
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in job_ids]

        def total(key):
            return sum(t[key] for t in tasks)

        def sql(name):
            return sum(t["sql"].get(name, 0.0) for t in tasks)

        # the extract stage: the stage whose tasks ran the most Python time
        py_by_stage: dict[int, float] = {}
        for t in tasks:
            py_by_stage[t["stage"]] = py_by_stage.get(t["stage"], 0.0) + t["sql"].get(PYTHON_RUN, 0.0)
        extract_stage = max(py_by_stage, key=py_by_stage.get) if any(py_by_stage.values()) else None
        ex_runs = [t["run_s"] for t in tasks if t["stage"] == extract_stage]
        stage = self.stages.get(extract_stage, {})
        stage_wall = stage.get("end", 0) - stage.get("start", 0)
        median_run = statistics.median(ex_runs) if ex_runs else 0.0
        return {
            "spark_jobs": len(job_ids),
            "spark_tasks": len(tasks),
            "scan_s": sql(SCAN_TIME),
            "shuffle_s": total("shuffle_s"),
            "shuffle_bytes": total("shuffle_bytes"),
            "python_boot_s": sql(PYTHON_BOOT),
            "python_init_s": sql(PYTHON_INIT),
            "python_run_s": sql(PYTHON_RUN),
            "bytes_to_python": sql(TO_PYTHON),
            "bytes_from_python": sql(FROM_PYTHON),
            "task_skew": max(ex_runs) / median_run if median_run > 0 else 0.0,
            "num_partitions": len(ex_runs),
            "core_busy_frac": sum(ex_runs) / (stage_wall * cores) if stage_wall > 0 else 0.0,
            "gc_s": total("gc_s"),
            "spill_bytes": total("spill_bytes"),
            "executor_cpu_s": total("cpu_s"),
        }

    def job_intervals(self, prefix: str) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.group_jobs(prefix) if j["end"] is not None]
