"""Benchmark entry point.

    python3 perfbench/run.py --workload endpoint_point --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the workload's inputs from the
seed, runs it through the package's public API, checks every answer,
prints a human-readable report on stderr and, as the last line of
stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics and writes the spans to perfbench/out/.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("rdfproject_msc_spark") is None:
        print("perfbench: package rdfproject_msc_spark not found next to "
              "perfbench/ -- run from the root of a checkout", file=sys.stderr)
        return 2

    import workloads
    from harness import Run, log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        workloads.WORKLOADS[args.workload](run)
        if args.trace:
            values = workloads.finish_layers(run)
            units = workloads.PER_LAYER
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            run.tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                                   "per_layer": values})
            log(f"spans written to {os.path.relpath(path, ROOT)}")
        else:
            e2e = run.end_to_end()
            values = {k: v for k, (v, _) in e2e.items()}
            units = {k: u for k, (_, u) in e2e.items()}
    finally:
        run.close()

    log(f"== {args.workload} seed={args.seed} trace={args.trace} ==")
    for k, (v, u) in sorted(run.figures.items()):
        log(f"  {k:<40} {v:>14.6g} {u}")
    log(f"  {'error_rate':<40} {run.failed:>6}/{run.attempted} failed/attempted")
    for k in sorted(values):
        log(f"* {k:<40} {values[k]:>14.6g} {units[k]}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in values},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
