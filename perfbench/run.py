"""KG-path benchmark for yckg_spark.

    python3 perfbench/run.py --workload {build_bulk,query_cq} --seed N \
        --seconds S --trace {0,1}

Runs from the root of a checkout, at local[<cores>] in one driver process.
Inputs are generated from the seed (``perfbench/inputs.py``) and cached
under ``.perfbench/`` together with their oracles. Every operation's output
is checked against the oracles in ``tests/``.

With ``--trace 0`` the run measures the workload's operation in a closed
loop with one client for ``--seconds`` and prints the end-to-end metrics.
With ``--trace 1`` it runs the KG path once with spans around each call
into a layer's public functions, forces each layer prefix through a
``noop`` write, and prints the per-layer metrics; the spans and the plan
audit are written to ``.perfbench/out/``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("build_bulk", "query_cq")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("yckg_spark", "fixtures", os.path.join("tests", "oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"{need} not found next to perfbench/; run from a full checkout")
    # the driver and the Python workers the JVM forks must both import the
    # repo, whatever the caller's working directory
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.bench import Bench

    with Bench(args.workload, args.seed, WORK) as bench:
        result = bench.traced(args.seconds) if args.trace else bench.measure(args.seconds)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
