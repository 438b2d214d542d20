"""The benchmark's metric catalog: name, unit and which way is better.

``BENCHMARK.json`` lists exactly these metrics (a test checks it), and the
run attaches units from here, so a metric's unit is written once.
"""

from __future__ import annotations

#: operator_suite queries in run order, each with the suite table it reads:
#: one per operator family (relational, window, text statistics, MinHash
#: near-dup, cosine LSH, image near-dup, importance)
SUITE_QUERIES = {
    "pushdown_agg": "lineitem",
    "events_sessionize": "events",
    "doc_langid": "documents",
    "dedup_minhash_lsh": "documents",
    "embedding_near_dup_lsh": "embeddings",
    "image_near_dup": "documents",
    "ccnet_buckets": "documents",
}

#: (name, unit, better, bound) — printed with ``--trace 0``
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("job_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
)

#: (name, unit, better) — printed with ``--trace 1``
PER_LAYER = (
    ("sources.scan_s", "s", "lower"),
    ("partitioning.shuffle_s", "s", "lower"),
    ("partitioning.shuffle_bytes", "bytes", "lower"),
    ("partitioning.task_skew", "ratio", "lower"),
    ("partitioning.num_partitions", "count", "higher"),
    ("extract.python_boot_s", "s", "lower"),
    ("extract.python_init_s", "s", "lower"),
    ("extract.python_run_s", "s", "lower"),
    ("extract.bytes_to_python", "bytes", "lower"),
    ("extract.bytes_from_python", "bytes", "lower"),
    ("extract.core_busy_frac", "ratio", "higher"),
    ("extract.spark_vs_kernel", "ratio", "higher"),
    ("kernel.docs_per_s_1core", "1/s", "higher"),
    ("htmlcore.decode_ms_per_doc", "ms", "lower"),
    ("htmlcore.blocks_ms_per_doc", "ms", "lower"),
    ("kvcore.parse_ms_per_doc", "ms", "lower"),
    ("kvcore.sweep_self_ms_per_doc", "ms", "lower"),
    ("kvcore.match_ms_per_doc", "ms", "lower"),
    ("kvcore.match_calls_per_doc", "count", "lower"),
    ("kvcore.match_hit_ratio", "ratio", "higher"),
    ("kvcore.evaluate_ms_per_doc", "ms", "lower"),
    ("kvcore.evaluate_pass_ratio", "ratio", "higher"),
    ("kvcore.edit_distance_cache_hit_ratio", "ratio", "higher"),
    ("lakehouse.read_s", "s", "lower"),
    ("lakehouse.results_append_s", "s", "lower"),
    ("lakehouse.fps_append_s", "s", "lower"),
    ("lakehouse.audit_append_s", "s", "lower"),
    ("lakehouse.files_written", "count", "lower"),
    ("lakehouse.bytes_written", "bytes", "lower"),
    ("pipeline.spark_jobs", "count", "lower"),
    ("pipeline.spark_tasks", "count", "lower"),
    ("pipeline.driver_gap_s", "s", "lower"),
    *(
        (f"suite.{q}.{part}", unit, "lower")
        for q in SUITE_QUERIES
        for part, unit in (("build_s", "s"), ("run_s", "s"), ("spark_jobs", "count"))
    ),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.unaccounted_frac", "ratio", "lower"),
    ("failed_frac", "ratio", "lower"),
    ("host.calib_s", "s", "lower"),
    ("host.loadavg_1m", "load", "lower"),
    ("host.steal_frac", "ratio", "lower"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def with_units(values: dict[str, float], names) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for ``names``; a missing name is an error."""
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {n: {"value": float(values[n]), "unit": UNITS[n]} for n in names}
