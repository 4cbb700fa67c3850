"""Run one workload of the triple-store benchmark and print its result.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans, job census and its own end-to-end
figures to ``.perfbench/trace-<workload>-<seed>.json`` in the checkout.
Inputs are generated from the seed into a fresh directory under
``.perfbench/`` that is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "heap_mb": "MB",
    "store_bytes_per_triple": "B",
}


def per_layer_unit(name: str) -> str:
    if name.startswith("graph.store_bytes."):
        return "B"
    if name.startswith("jvm.heap_mb."):
        return "MB"
    if name == "rdfs.jobs" or name.endswith("_per_op"):
        return "count"
    return "s"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("lookup", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the package under test lives at the root of the checkout
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401  (the answers are checked with it)
        import graphula_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot run without {exc.name}: {exc}", file=sys.stderr)
        return 2

    from spans import Tracer
    from workloads import PER_LAYER, run_workload

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=out_dir)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        run = run_workload(args.workload, work_dir, args.seed, args.seconds, tracer)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    e2e = {k: {"value": run.metrics[k], "unit": u} for k, u in END_TO_END.items()}
    # wall-clock latency and rate: reported for reading, not bounded
    print(
        f"perfbench: {args.workload} seed {args.seed}: "
        + ", ".join(f"{k} {v:.4g}" for k, v in sorted(run.metrics.items())),
        file=sys.stderr,
    )
    if args.trace:
        metrics = {
            k: {"value": tracer.values.get(k, 0.0), "unit": per_layer_unit(k)}
            for k in PER_LAYER
        }
        tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
             "per_layer": metrics, "run": run.metrics,
             "attempted": run.attempted, "failed": run.failed},
        )
    else:
        metrics = e2e
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
