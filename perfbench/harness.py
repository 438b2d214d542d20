"""Measure one workload: session, set-up, timed repetitions, output checks
and — in a traced run — the per-layer split.

Everything the run writes lives in one work directory inside the checkout
(Spark local dirs, the JVM and Python temp dirs, the event log, the
fixtures and the committed tables); the caller removes it afterwards.
"""

from __future__ import annotations

import hashlib
import os
import shlex
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

from . import PKG, fixtures, kernel, procstat
from .eventlog import EventLog
from .metrics import END_TO_END, PER_LAYER, SUITE_QUERIES
from .spans import SpanRecorder, union_length
from .workloads import Context

CPUS = min(4, os.cpu_count() or 1)  # local[N], N <= nproc
DRIVER_MEM = "2g"  # plans/session.py defaults to 24g, more than a small host has
SETUP_ROUNDS = 3
MIN_REPS = 3  # timed repetitions of an extraction workload, at least
TRACED_PAIRS = 2  # untraced + traced repetition pairs of a traced extraction run
# kernel trace pages (ids of the run's own corpus): warm-up, traced, baseline
KERNEL_WARM, KERNEL_TRACED, KERNEL_BASE = range(0, 40), range(40, 190), range(190, 390)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def configure(repo: Path, work: Path, trace: bool) -> dict:
    """Point every writer at ``work`` and set the session's settings; must
    run before pyspark starts its JVM."""
    tmp, local = work / "tmp", work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(repo), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", java_opts]
    if trace:
        events = work / "eventlog"
        events.mkdir()
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={events.as_uri()}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, submit)) + " pyspark-shell"
    return {
        "SPARK_GRAFT_CPUS": CPUS,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "event_log": trace,
    }


def source_identity(repo: Path) -> dict:
    """The commit when the checkout is a git work tree, and always a digest
    of the package sources."""
    h = hashlib.sha256()
    for f in sorted((repo / PKG).rglob("*")):
        if f.is_file() and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(repo)).encode())
            h.update(f.read_bytes())
    commit = None
    if (repo / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(repo), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = out.stdout.strip() or None
    return {"commit": commit, "source_sha256": h.hexdigest()}


class Session:
    """The SparkSession of one run and the processes behind it."""

    def __init__(self):
        t0 = time.perf_counter()
        from universal_key_value_based_text_processing_with_ocr_spark.plans.session import (
            build_spark,
        )

        self.spark = build_spark(CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, end its JVM and wait until every descendant is gone."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        pids = set(procstat.tree_pids(os.getpid())) - {os.getpid()}
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # Python workers are the JVM's children: give them time to see EOF
        deadline = time.time() + 30
        while any(map(procstat.is_running, pids)) and time.time() < deadline:
            time.sleep(0.1)
        for pid in filter(procstat.is_running, pids):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:  # exited since the check
                pass


@contextmanager
def traced_tables(rec: SpanRecorder, paths: dict[str, str]):
    """Span wrappers around ``SnapshotTable.read`` / ``SnapshotTable.append``."""
    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import (
        SnapshotTable,
    )

    kind = {v: k for k, v in paths.items()}
    read, append = SnapshotTable.read, SnapshotTable.append

    def traced_read(self, *args, **kwargs):
        return rec.wrap("lakehouse.read", read)(self, *args, **kwargs)

    def traced_append(self, *args, **kwargs):
        name = f"lakehouse.append.{kind.get(str(self.path), 'other')}"
        return rec.wrap(name, append)(self, *args, **kwargs)

    SnapshotTable.read, SnapshotTable.append = traced_read, traced_append
    try:
        yield
    finally:
        SnapshotTable.read, SnapshotTable.append = read, append


def _files(root: Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in root.rglob("*") if p.is_file()} if root.exists() else {}


def run_reps(wl, ctx: Context, seconds: float, phase: str, min_reps: int, rec=None) -> list[dict]:
    """At least ``min_reps`` timed repetitions, then more while one more
    (at the mean pace so far) still ends within ``seconds``."""
    reps = []
    t0 = time.perf_counter()
    while len(reps) < min_reps or (
        (time.perf_counter() - t0) * (len(reps) + 1) / len(reps) <= seconds
    ):
        i = ctx.next_rep
        ctx.next_rep += 1
        wl.prepare(ctx, i)
        # a full collection lets the JVM give back heap the last repetition
        # grew, so each repetition's peak RSS starts from the same heap
        ctx.spark._jvm.java.lang.System.gc()
        rep_dir = getattr(wl, "rep_dir", None)
        before = _files(rep_dir) if rep_dir else {}
        ctx.phase = phase
        ctx.group(f"{phase}:{i}:")
        first_span = len(rec.spans) if rec else 0
        tables = traced_tables(rec, wl.paths()) if rec and rep_dir else nullcontext()
        with procstat.TreeSampler() as sampler, tables:
            start, p0 = time.time(), time.perf_counter()
            wl.run(ctx, i)
            wall = time.perf_counter() - p0
            end = time.time()
        after = _files(rep_dir) if rep_dir else {}
        new = {f: n for f, n in after.items() if f not in before}
        reps.append({
            "i": i, "wall": wall, "start": start, "end": end,
            "cpu": sampler.cpu_s, "peak_rss": sampler.peak_rss_bytes,
            "docs": wl.tally(ctx, i),
            "spans": rec.spans[first_span:] if rec else [],
            "files_written": len(new), "bytes_written": sum(new.values()),
        })
    return reps


def _layer_metrics(wl, rep: dict, log: EventLog) -> dict[str, float]:
    prefix = f"traced:{rep['i']}:"
    s = log.summary(prefix, CPUS)
    spans = rep["spans"]

    def span_s(name):
        return sum(sp.end - sp.start for sp in spans if sp.name == name) / 1e9

    jobs = [(max(a, rep["start"]), min(b, rep["end"])) for a, b in log.job_intervals(prefix)]
    jobs = [(a, b) for a, b in jobs if b > a]
    layer_iv = [(sp.start / 1e9, sp.end / 1e9) for sp in spans]
    suite_iv = [(t0, t1) for t0, t1, _ in getattr(wl, "timings", {}).get(rep["i"], {}).values()]
    wall = rep["end"] - rep["start"]
    out = {
        "sources.scan_s": s["scan_s"],
        "partitioning.shuffle_s": s["shuffle_s"],
        "partitioning.shuffle_bytes": s["shuffle_bytes"],
        "partitioning.task_skew": s["task_skew"],
        "partitioning.num_partitions": s["num_partitions"],
        "extract.python_boot_s": s["python_boot_s"],
        "extract.python_init_s": s["python_init_s"],
        "extract.python_run_s": s["python_run_s"],
        "extract.bytes_to_python": s["bytes_to_python"],
        "extract.bytes_from_python": s["bytes_from_python"],
        "extract.core_busy_frac": s["core_busy_frac"],
        "lakehouse.read_s": span_s("lakehouse.read"),
        "lakehouse.results_append_s": span_s("lakehouse.append.results"),
        "lakehouse.fps_append_s": span_s("lakehouse.append.fps"),
        "lakehouse.audit_append_s": span_s("lakehouse.append.audit"),
        "lakehouse.files_written": rep["files_written"],
        "lakehouse.bytes_written": rep["bytes_written"],
        "pipeline.spark_jobs": s["spark_jobs"],
        "pipeline.spark_tasks": s["spark_tasks"],
        "pipeline.driver_gap_s": max(0.0, wall - union_length(jobs)),
        "spark.gc_s": s["gc_s"],
        "spark.spill_bytes": s["spill_bytes"],
        "spark.executor_cpu_s": s["executor_cpu_s"],
        "trace.unaccounted_frac": max(0.0, 1 - union_length(jobs + layer_iv + suite_iv) / wall),
    }
    for q in SUITE_QUERIES:
        out[f"suite.{q}.spark_jobs"] = len(log.group_jobs(f"{prefix}{q}:"))
    return out


def _suite_times(wl, reps: list[dict]) -> dict[str, float]:
    """Median build and run time of each suite query over the traced passes
    (0 for a workload that runs no suite query)."""
    timings = getattr(wl, "timings", {})
    out = {}
    for q in SUITE_QUERIES:
        spans = [timings[r["i"]][q] for r in reps if q in timings.get(r["i"], {})]
        out[f"suite.{q}.build_s"] = median([t1 - t0 for t0, t1, _ in spans])
        out[f"suite.{q}.run_s"] = median([t2 - t1 for _, t1, t2 in spans])
    return out


def _medians(rows: list[dict]) -> dict[str, float]:
    return {k: median([r[k] for r in rows]) for k in rows[0]} if rows else {}


def measure(wl, repo: Path, work: Path, seed: int, seconds: float, trace: bool) -> dict:
    """Run ``wl`` end to end; returns the result dict printed by ``run.py``."""
    context = {
        "workload": wl.name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "host.calib_s": procstat.calibration_s(), "host.loadavg_1m": procstat.loadavg_1m(),
        **configure(repo, work, trace), **source_identity(repo),
    }
    import pyspark

    context["pyspark"] = pyspark.__version__
    context["python"] = sys.version.split()[0]
    session = Session()
    try:
        ctx = Context(session.spark, work, seed)
        rounds = []
        for i in range(SETUP_ROUNDS):
            ctx.group(f"setup:{i}:")
            t0 = time.perf_counter()
            wl.setup_round(ctx, i)
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        ctx.group("warm:")
        wl.warm(ctx)
        settle = max(wl.settle_reps, int(trace))
        if settle:
            # settling repetitions, timed as set-up: the first ones after
            # set-up are slower (a traced suite run needs one so that its
            # untraced and traced passes start even)
            run_reps(wl, ctx, 0, "settle", settle)
        warm_s = time.perf_counter() - t0
        setup_s = session.start_s + median(rounds) + warm_s
        context.update(session_start_s=session.start_s, setup_rounds_s=rounds, warm_s=warm_s)

        steal0 = procstat.steal_counters()
        if not trace:
            reps = run_reps(wl, ctx, seconds, "run", MIN_REPS if wl.extraction else 1)
            traced = []
        else:
            # untraced and traced repetitions alternate, so drift and
            # warm-up weigh on both sides of trace.overhead_frac alike
            rec = SpanRecorder(time.time_ns)
            reps, traced = [], []
            for _ in range(TRACED_PAIRS if wl.extraction else 1):
                reps += run_reps(wl, ctx, 0, "untraced", 1)
                traced += run_reps(wl, ctx, 0, "traced", 1, rec)
        steal1 = procstat.steal_counters()
        ctx.group("check:")
        attempted, failed, errors = wl.finish(ctx)
        kernel_metrics = kernel_trace(seed, errors) if trace else {}
    finally:
        session.stop()

    job_s = median([r["wall"] for r in reps])
    values = {
        "setup_s": setup_s,
        "job_s": job_s,
        "docs_per_s": median([r["docs"] / r["wall"] for r in reps]),
        "cpu_s": median([r["cpu"] for r in reps]),
        "peak_rss_mb": median([r["peak_rss"] for r in reps]) / 2**20,
        "failed_frac": failed / attempted if attempted else 1.0,
        "host.calib_s": context["host.calib_s"],
        "host.loadavg_1m": context["host.loadavg_1m"],
        "host.steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
    }
    if trace:
        log = EventLog.from_file(next((work / "eventlog").iterdir()))
        values.update(_medians([_layer_metrics(wl, r, log) for r in traced]))
        values.update(_suite_times(wl, traced))
        values.update(kernel_metrics)
        values["trace.overhead_frac"] = median([r["wall"] for r in traced]) / job_s - 1
        values["extract.spark_vs_kernel"] = (
            values["docs_per_s"] / values["kernel.docs_per_s_1core"] if wl.extraction else 0.0
        )
    if getattr(wl, "timings", None):
        context["query_s"] = {
            q: median([t2 - t0 for t0, _, t2 in [p[q] for p in wl.timings.values() if q in p]])
            for q in wl.queries
        }
    context.update(
        attempted=attempted, failed=failed, failed_frac=values["failed_frac"],
        rep_walls_s=[r["wall"] for r in reps + traced],
        rep_peak_rss_mb=[r["peak_rss"] / 2**20 for r in reps + traced], errors=errors[:20],
        host_loadavg_1m_end=procstat.loadavg_1m(), host_steal_frac=values["host.steal_frac"],
    )
    names = [m[0] for m in (PER_LAYER if trace else END_TO_END)]
    return {"context": context, "values": values, "names": names,
            "attempted": attempted, "failed": failed, "correct": not errors}


def kernel_trace(seed: int, errors: list[str]) -> dict[str, float]:
    """The in-process kernel trace and the single-core baseline."""
    kernel.baseline_docs_per_s(fixtures.page_rows(seed, KERNEL_WARM))
    traced_rows = fixtures.page_rows(seed, KERNEL_TRACED)
    metrics, parsed = kernel.trace_kernel(traced_rows)
    metrics["kernel.docs_per_s_1core"] = kernel.baseline_docs_per_s(
        fixtures.page_rows(seed, KERNEL_BASE)
    )
    if parsed != kernel.parse_all(traced_rows):
        errors.append("kernel trace: wrapped kernel returned different rows")
    return metrics
