"""Single-process view of the extraction kernel (``htmlcore`` + ``kvcore``).

Two measurements over pages of the benchmark's own corpus, no Spark:

* ``baseline_docs_per_s`` — a bare ``parse_page_row`` loop, the
  single-core baseline the Spark job is compared against;
* ``trace_kernel`` — the same loop with span wrappers bound over the
  module attributes the kernel looks up at call time, reduced to
  per-document layer times and the matcher / evaluator / cache ratios.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from . import PKG
from .spans import SpanRecorder, totals_by_name

_EVALUATORS = (
    "eval_birth", "eval_blood", "eval_citizenship", "eval_city", "eval_gender",
    "eval_job", "eval_marital", "eval_nik", "eval_province", "eval_religion",
    "eval_rtrw", "eval_valid_until",
)


def _first_ok(result) -> bool:
    return bool(result[0])


def _bindings():
    """(module, attribute, span name, outcome judge) for every traced call.

    ``build_ktp_specs`` reads the matcher and evaluators from ``ktpspec``'s
    globals each time it builds a document's specs, so rebinding them there
    reaches every call the sweep makes."""
    import importlib

    ops = importlib.import_module(f"{PKG}.operators.extract")
    html = importlib.import_module(f"{PKG}.htmlcore.extract")
    ktp = importlib.import_module(f"{PKG}.kvcore.ktpspec")
    out = [
        (ops, "extract_main_lines", "html.main_lines", None),
        (html, "decode_payload", "html.decode", None),
        (html, "extract_blocks", "html.blocks", None),
        (ktp, "parse_document", "kv.parse", None),
        (ktp, "sweep_document", "kv.sweep", None),
        # the matcher always returns [True, found]: a hit is a line with a key
        (ktp, "match_keys_in_line", "kv.match", lambda r: bool(r[1])),
        (ktp, "final_evaluate_ktp", "kv.evaluate", lambda r: r["success"]),
    ]
    out += [(ktp, name, "kv.evaluate", _first_ok) for name in _EVALUATORS]
    return out


@contextmanager
def rebound(recorder: SpanRecorder):
    """Bind span wrappers over the kernel's module attributes; restore on exit."""
    saved = []
    try:
        for module, attr, name, judge in _bindings():
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, recorder.wrap(name, fn, judge))
        yield recorder
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)


def parse_all(rows) -> list[dict]:
    from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
        parse_page_row,
    )

    return [parse_page_row(r["url"], r["html"], r["text"], r["lang"]) for r in rows]


def baseline_docs_per_s(rows) -> float:
    t0 = time.perf_counter()
    parse_all(rows)
    return len(rows) / (time.perf_counter() - t0)


def _edit_cache():
    from universal_key_value_based_text_processing_with_ocr_spark.kvcore import textdist

    return textdist._edit_distance_cached


def trace_kernel(rows) -> tuple[dict, list[dict]]:
    """Traced parse of ``rows``: (per-layer metrics, parsed rows).

    The caller compares the parsed rows with an untraced parse, so a
    wrapper that changed a result would show as a failed check."""
    cache = _edit_cache()
    info0 = cache.cache_info()
    with rebound(SpanRecorder()) as rec:
        parsed = parse_all(rows)
    info1 = cache.cache_info()
    by = totals_by_name(rec.finished())
    n = len(rows)

    def ms_per_doc(name, key="total"):
        return by.get(name, {}).get(key, 0) / 1e6 / n

    def ratio(name):
        agg = by.get(name, {})
        return agg["ok"] / agg["judged"] if agg.get("judged") else 0.0

    hits = info1.hits - info0.hits
    lookups = hits + info1.misses - info0.misses
    metrics = {
        "htmlcore.decode_ms_per_doc": ms_per_doc("html.decode"),
        "htmlcore.blocks_ms_per_doc": ms_per_doc("html.blocks"),
        "kvcore.parse_ms_per_doc": ms_per_doc("kv.parse"),
        "kvcore.sweep_self_ms_per_doc": ms_per_doc("kv.sweep", "self"),
        "kvcore.match_ms_per_doc": ms_per_doc("kv.match"),
        "kvcore.match_calls_per_doc": by.get("kv.match", {}).get("calls", 0) / n,
        "kvcore.match_hit_ratio": ratio("kv.match"),
        "kvcore.evaluate_ms_per_doc": ms_per_doc("kv.evaluate"),
        "kvcore.evaluate_pass_ratio": ratio("kv.evaluate"),
        "kvcore.edit_distance_cache_hit_ratio": hits / lookups if lookups else 0.0,
    }
    return metrics, parsed
