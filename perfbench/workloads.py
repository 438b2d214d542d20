"""The three workloads.

Each workload has the same life cycle, driven by ``harness.measure``:

* ``setup_round(ctx, i)`` — repeatable set-up (fixture materialisation),
  run several times and timed; the last round's inputs are measured;
* ``warm(ctx)`` — one-off set-up on those inputs: the increment's pre-commit,
  the suite's first (collected) pass;
* ``prepare(ctx, i)`` / ``run(ctx, i)`` / ``tally(ctx, i)`` — one timed
  repetition: untimed preparation, the timed action, untimed bookkeeping;
* ``finish(ctx)`` — the output checks, run after timing: returns
  ``(attempted, failed, errors)``.
"""

from __future__ import annotations

import importlib.util
import random
import shutil
import time
from pathlib import Path

from . import fixtures, kernel
from .metrics import SUITE_QUERIES

N_PAGES = 2400  # pages per extraction corpus
N_NEW = 120  # urls the increment leaves uncommitted (5% of the corpus)
SAMPLE_STEP = 16  # extract_fresh compares every 16th page byte for byte
ENGINE_EXCEPTION = "engine exception:"

_ROW_COLUMNS = ("extracted_text", "result_json", "success", "error_messages")


def _doc_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def _row_diffs(committed: dict[str, dict], urls, seed: int) -> list[str]:
    """Columns of committed rows that differ from the kernel run in-process."""
    errors = []
    pages = fixtures.page_rows(seed, sorted(_doc_id(u) for u in urls))
    for want in kernel.parse_all(pages):
        got = committed.get(want["url"])
        if got is None:
            errors.append(f"{want['url']}: not committed")
            continue
        for col in _ROW_COLUMNS:
            g = list(got[col]) if col == "error_messages" else got[col]
            if g != want[col]:
                errors.append(f"{want['url']}: {col} differs")
    return errors


def _load_compare():
    """``compare`` of ``scripts/check_correctness.py`` (not a package, so
    loaded by path): the suite's oracle check uses the gate's own rules."""
    path = Path(__file__).resolve().parent.parent / "scripts" / "check_correctness.py"
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.compare


class Context:
    """What a workload runs against: the session, its work directory and
    the run's seed."""

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.next_rep = 0  # repetitions are numbered across phases
        self.phase = ""  # the phase of the running repetition, for job groups

    def group(self, name: str) -> None:
        """Tag the Spark jobs issued from now on (read back from the event log)."""
        self.spark.sparkContext.setJobGroup(name, name)


class ExtractFresh:
    name = "extract_fresh"
    extraction = True
    dedup = False
    settle_reps = 1  # untimed repetitions before the timed ones

    def __init__(self):
        self.reps: list[dict] = []

    def setup_round(self, ctx: Context, i: int) -> None:
        from universal_key_value_based_text_processing_with_ocr_spark.sources.pages import (
            materialize_pages_parquet,
        )

        self.pages_path = materialize_pages_parquet(
            ctx.spark, N_PAGES, seed=ctx.seed, base_dir=str(ctx.work / f"setup{i}")
        )

    def warm(self, ctx: Context) -> None:
        """Nothing beyond the settling repetition the harness runs first."""

    def prepare(self, ctx: Context, i: int) -> None:
        self.rep_dir = ctx.work / f"rep{i}"

    def paths(self) -> dict[str, str]:
        """Table kind -> path of the current repetition."""
        results = str(self.rep_dir / "results")
        return {"results": results, "fps": f"{results}_fps", "audit": str(self.rep_dir / "audit")}

    def run(self, ctx: Context, i: int) -> None:
        from universal_key_value_based_text_processing_with_ocr_spark.plans import (
            run_extraction_job,
        )

        p = self.paths()
        self.summary = run_extraction_job(
            ctx.spark, ctx.spark.read.parquet(self.pages_path), p["results"],
            audit_path=p["audit"], dedup_content=self.dedup,
        )

    def _committed(self, ctx: Context, results: str):
        from pyspark.sql import functions as F

        from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import (
            SnapshotTable,
        )

        return SnapshotTable(results).read(ctx.spark).withColumn(
            "_exc",
            F.exists("error_messages", lambda m: m.startswith(ENGINE_EXCEPTION)),
        )

    def tally(self, ctx: Context, i: int) -> int:
        """Record the repetition's committed urls; returns committed docs."""
        rows = self._committed(ctx, self.paths()["results"]).select("url", "_exc").collect()
        self.reps.append(
            {
                "dir": self.rep_dir,
                "urls": {r.url for r in rows},
                "exception_urls": {r.url for r in rows if r._exc},
            }
        )
        return self.summary["n_docs"]

    def expected_urls(self, ctx: Context) -> tuple[set[str], set[str]]:
        """(urls the job extracts, urls the table must hold afterwards)."""
        return self.input_urls, self.input_urls

    def finish(self, ctx: Context) -> tuple[int, int, list[str]]:
        errors = []
        self.input_urls = {
            r.url for r in ctx.spark.read.parquet(self.pages_path).select("url").collect()
        }
        attempted_urls, expected = self.expected_urls(ctx)
        attempted = failed = 0
        for rep in self.reps:
            attempted += len(attempted_urls)
            failed += len(expected - rep["urls"]) + len(rep["exception_urls"] & attempted_urls)
            if rep["urls"] != expected:
                errors.append(
                    f"{rep['dir'].name}: committed url set differs from the expected set "
                    f"({len(rep['urls'] - expected)} extra, {len(expected - rep['urls'])} missing)"
                )
        if failed:
            errors.append(
                f"{failed} of {attempted} attempted urls not committed or committed "
                f"with an '{ENGINE_EXCEPTION}' error"
            )
        errors += self._check_rows(ctx)
        return attempted, failed, errors

    def _rows_of(self, ctx: Context, results: str, urls) -> dict[str, dict]:
        from pyspark.sql import functions as F

        df = self._committed(ctx, results).where(F.col("url").isin(sorted(urls)))
        return {r.url: r.asDict() for r in df.select("url", *_ROW_COLUMNS).collect()}

    def _check_rows(self, ctx: Context) -> list[str]:
        sample = sorted(self.input_urls, key=_doc_id)[::SAMPLE_STEP]
        results = str(self.reps[-1]["dir"] / "results")
        return _row_diffs(self._rows_of(ctx, results, sample), sample, ctx.seed)


class ExtractIncrement(ExtractFresh):
    name = "extract_increment"
    dedup = True
    settle_reps = 2  # its repetitions keep speeding up over the first few

    def warm(self, ctx: Context) -> None:
        """The pre-commit: all but a seeded sample of exactly ``N_NEW`` pages
        are committed with their fingerprint side-table, so every seed
        extracts the same number of new documents."""
        from pyspark.sql import functions as F

        from universal_key_value_based_text_processing_with_ocr_spark.plans import (
            run_extraction_job,
        )

        new_ids = random.Random(ctx.seed).sample(range(N_PAGES), N_NEW)
        keep = ~F.col("url").isin([p["url"] for p in fixtures.page_rows(ctx.seed, new_ids)])
        self.base = ctx.work / "base"
        run_extraction_job(
            ctx.spark, ctx.spark.read.parquet(self.pages_path).where(keep),
            str(self.base / "results"), audit_path=str(self.base / "audit"), dedup_content=True,
        )

    def prepare(self, ctx: Context, i: int) -> None:
        super().prepare(ctx, i)
        # every repetition resubmits onto the same pre-committed snapshot
        shutil.copytree(self.base, self.rep_dir)

    def expected_urls(self, ctx: Context) -> tuple[set[str], set[str]]:
        """The uncommitted urls, and the pre-committed urls plus the new urls ``drop_content_duplicates``
        keeps: a new document is dropped when its extracted text is already
        committed, and among new documents sharing a text only the lowest url
        is kept; documents without text are never dropped."""
        base = self._committed(ctx, str(self.base / "results"))
        base_rows = base.select("url", "extracted_text").collect()
        self.base_urls = {r.url for r in base_rows}
        committed_texts = {r.extracted_text for r in base_rows if r.extracted_text is not None}
        keep, seen = set(), set()
        new = sorted(self.input_urls - self.base_urls)
        for row in kernel.parse_all(fixtures.page_rows(ctx.seed, [_doc_id(u) for u in new])):
            text = row["extracted_text"]
            if text is not None and (text in committed_texts or text in seen):
                continue
            if text is not None:
                seen.add(text)
            keep.add(row["url"])
        self.new_urls = keep
        return set(new), self.base_urls | keep

    def _check_rows(self, ctx: Context) -> list[str]:
        from pyspark.sql import functions as F

        from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import (
            SnapshotTable,
        )

        rep = self.reps[-1]["dir"]
        errors = _row_diffs(self._rows_of(ctx, str(rep / "results"), self.new_urls),
                            self.new_urls, ctx.seed)
        audit = SnapshotTable(rep / "audit").read(ctx.spark)
        n_audit = audit.where(F.col("stage") == "extract").agg(F.sum("n_docs")).first()[0]
        n_rows = SnapshotTable(rep / "results").read(ctx.spark).count()
        if n_audit != n_rows:
            errors.append(f"audit n_docs sums to {n_audit}, results table holds {n_rows} rows")
        return errors


class OperatorSuite:
    name = "operator_suite"
    extraction = False
    settle_reps = 0  # the warm-up pass settles it
    queries = SUITE_QUERIES

    def __init__(self):
        #: pass -> query -> (start, built, written) wall-clock times
        self.timings: dict[int, dict[str, tuple[float, float, float]]] = {}
        self.attempted = 0
        self.run_errors: list[str] = []

    def setup_round(self, ctx: Context, i: int) -> None:
        self.sf_dir = str(fixtures.copy_suite_tables(ctx.work / f"setup{i}"))

    def warm(self, ctx: Context) -> None:
        """First pass, collected to pandas: warms every query's plan and
        workers, and keeps the Spark results for the oracle check."""
        from universal_key_value_based_text_processing_with_ocr_spark import api

        self.collected, self.warm_errors = {}, {}
        for q in self.queries:
            ctx.group(f"warm:{q}:")
            try:
                self.collected[q] = api.QUERIES[q](ctx.spark, self.sf_dir).toPandas()
            except Exception as exc:  # a raising query is a counted failure
                self.warm_errors[q] = f"{type(exc).__name__}: {exc}"[:300]

    def prepare(self, ctx: Context, i: int) -> None:
        self.timings[i] = {}

    def run(self, ctx: Context, i: int) -> None:
        """One pass: build each query (``api.QUERIES`` call, including its
        eager checkpoints), then write it to the ``noop`` sink so every
        column is computed."""
        from universal_key_value_based_text_processing_with_ocr_spark import api

        for q in self.queries:
            ctx.group(f"{ctx.phase}:{i}:{q}:")
            t0 = time.time()
            try:
                df = api.QUERIES[q](ctx.spark, self.sf_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a counted failure; the pass goes on
                msg = f"{q}: raised in pass {i}: {type(exc).__name__}: {exc}"
                self.run_errors.append(msg[:300])
                continue
            self.timings[i][q] = (t0, t1, time.time())

    def tally(self, ctx: Context, i: int) -> int:
        self.attempted += len(self.queries)
        return self.input_rows

    @property
    def input_rows(self) -> int:
        """Rows of the source table of every query of one pass."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f"{self.sf_dir}/{SUITE_QUERIES[q]}.parquet").num_rows
            for q in self.queries
        )

    def finish(self, ctx: Context) -> tuple[int, int, list[str]]:
        import duckdb

        from universal_key_value_based_text_processing_with_ocr_spark import api

        compare = _load_compare()
        errors = [f"{q}: raised {e}" for q, e in self.warm_errors.items()] + self.run_errors
        con = duckdb.connect()
        try:
            for t in fixtures.SUITE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q, got in self.collected.items():
                verdict = compare(got, con.sql(api.ORACLE_SQL[q]).df())
                if verdict != "OK":
                    errors.append(f"{q}: {verdict}")
        finally:
            con.close()
        attempted = self.attempted + len(self.queries)
        failed = len(self.warm_errors) + len(self.run_errors)
        return attempted, failed, errors


WORKLOADS = {w.name: w for w in (ExtractFresh, ExtractIncrement, OperatorSuite)}
