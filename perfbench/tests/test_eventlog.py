"""The event-log reduction, on a recorded log of one mapInPandas +
aggregation job group (``traced:0:``) and one unrelated group (``other:``)."""

import json
from pathlib import Path

import pytest

from perfbench.eventlog import PYTHON_RUN, TO_PYTHON, EventLog

LOG = Path(__file__).parent / "data" / "small_eventlog.jsonl"
RAW = [json.loads(line) for line in LOG.read_text().splitlines()]


def _raw_tasks(group):
    jobs = [e for e in RAW if e["Event"] == "SparkListenerJobStart"
            and e["Properties"]["spark.jobGroup.id"] == group]
    stages = {s for j in jobs for s in j["Stage IDs"]}
    return jobs, [e for e in RAW if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]


def _acc(tasks, name):
    return sum(float(a["Update"]) for t in tasks for a in t["Task Info"]["Accumulables"]
               if a["Name"] == name)


def test_group_summary_counts_only_its_own_jobs():
    log = EventLog.from_file(LOG)
    jobs, tasks = _raw_tasks("traced:0:")
    s = log.summary("traced:0:", cores=2)
    assert s["spark_jobs"] == len(jobs) == 2
    assert s["spark_tasks"] == len(tasks)
    assert log.summary("other:", cores=2)["spark_jobs"] == 2
    assert log.summary("missing:", cores=2)["spark_jobs"] == 0


def test_units_follow_the_declared_metric_types():
    log = EventLog.from_file(LOG)
    _, tasks = _raw_tasks("traced:0:")
    s = log.summary("traced:0:", cores=2)
    # "timing" metrics are milliseconds, "size" metrics bytes
    assert s["python_run_s"] == pytest.approx(_acc(tasks, PYTHON_RUN) / 1e3)
    assert s["bytes_to_python"] == _acc(tasks, TO_PYTHON) > 0
    write_ns = sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Write Time"] for t in tasks)
    wait_ms = sum(t["Task Metrics"]["Shuffle Read Metrics"]["Fetch Wait Time"] for t in tasks)
    assert s["shuffle_s"] == pytest.approx(write_ns / 1e9 + wait_ms / 1e3)
    assert s["shuffle_bytes"] > 0


def test_extract_stage_is_the_python_stage():
    log = EventLog.from_file(LOG)
    s = log.summary("traced:0:", cores=2)
    assert s["num_partitions"] == 4  # spark.range(..., 4).mapInPandas
    assert s["task_skew"] >= 1.0
    assert 0 < s["core_busy_frac"] <= 1.0


def test_job_intervals_are_ordered_pairs():
    log = EventLog.from_file(LOG)
    spans = log.job_intervals("traced:0:")
    assert len(spans) == 2
    assert all(0 < start <= end for start, end in spans)
