"""Benchmark of the extraction job and the operator suite.

    python3 perfbench/run.py --workload extract_fresh --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints one JSON line of run context (host
calibration, load, session settings, source identity, failures), then as
the last line the result: ``{"correct", "attempted", "failed", "metrics"}``
with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``) as ``{"value", "unit"}``.  Exits 1 when an output check
fails and 2 when the program under test is not there.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench import PKG  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {REPO}", file=sys.stderr)
        return 2
    from perfbench.harness import measure
    from perfbench.metrics import with_units

    work = REPO / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        out = measure(
            WORKLOADS[args.workload](), REPO, work, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass

    for err in out["context"]["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({"context": out["context"]}))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": with_units(out["values"], out["names"]),
    }))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
