"""Inputs of the benchmark.

* the pages corpus of the extraction workloads, a pure function of the
  seed — rows come from the package's own ``sources.synthdocs.gen_page_row``
  (the same generator ``sources.pages.materialize_pages_parquet`` runs
  inside executors), so ``pages_digest`` fingerprints exactly what the job
  reads;
* the tables of the operator suite: the sf0.01 test-data tables the suite's
  queries read, shipped under ``data/sf0.01`` (fixed; the seed does not
  change them).
"""

from __future__ import annotations

import hashlib
import shutil
from pathlib import Path

#: tables the operator suite reads (one ``<name>.parquet`` each)
SUITE_TABLES = ("lineitem", "events", "documents", "embeddings")
SUITE_DATA = Path(__file__).resolve().parent / "data" / "sf0.01"


def page_rows(seed: int, ids) -> list[dict]:
    """The generated pages ``ids`` of corpus ``seed`` (url, warc_ts, html,
    text, lang) — byte-identical to the rows the Spark source writes."""
    from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
        gen_page_row,
    )

    return [gen_page_row(seed, int(i)) for i in ids]


def pages_digest(seed: int, n: int) -> str:
    """sha256 over the first ``n`` pages of corpus ``seed``."""
    h = hashlib.sha256()
    for row in page_rows(seed, range(n)):
        for col in ("url", "warc_ts", "html", "text", "lang"):
            v = row[col]
            b = v if isinstance(v, bytes) else b"\x00" if v is None else str(v).encode()
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def copy_suite_tables(out_dir: Path) -> Path:
    """Copy the operator suite's tables into ``out_dir``; returns it."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in SUITE_TABLES:
        shutil.copyfile(SUITE_DATA / f"{name}.parquet", out_dir / f"{name}.parquet")
    return out_dir
