"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 25 --trace 0

Runs one workload from the root of a checkout, checks every operation, and
prints as its LAST stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it is a JSON object
with the run's context: host (nproc, load average at start and end), sample
counts, and the workload's own names for its numbers. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time

from common import (
    DATA_DIR, PACKAGE, ROOT, adopt_orphans, cpu_ticks, loadavg, nproc, prepare_process,
    stop_descendants,
)

WORKLOADS = ("serve_mixed", "query_suite", "batch_refresh")
UNITS = {
    "setup_s": "s", "geomean_ms": "ms", "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "session.start_s": "s", "setup.materialise_s": "s", "build.p50_ms": "ms",
    "build.jobs": "count", "exec.p50_ms": "ms", "op.p50_ms": "ms",
    "op.jobs": "count", "op.stages": "count", "op.tasks": "count",
    "op.single_task_stages": "count",
    "plans.percentages.compute_s": "s", "sources.write_percentages_s": "s",
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "plans.training.fit_s": "s", "sources.save_registry_s": "s",
    "trace.overhead_pct": "%",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=None, choices=("sf0.01", "sf0.001"),
                    help="fixture under perfbench/data (default: the workload's)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2

    # A terminated run still stops the processes it started (finally blocks).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    leftover = 0
    try:
        prepare_process()
        if args.workload == "serve_mixed":
            import serve as workload
        elif args.workload == "query_suite":
            import suite as workload
        else:
            import refresh as workload
        sf_dir = DATA_DIR / (args.scale or workload.SCALE)

        load_start = loadavg()
        ticks_start = cpu_ticks()
        t0 = time.perf_counter()
        result = workload.run(args, sf_dir)
        wall = time.perf_counter() - t0
        ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    finally:
        # Whatever outlived its own shutdown (Spark's Python worker daemon
        # leaves the server's process group): stop it, wait for it.
        leftover = stop_descendants()

    metrics = result["layers"]["per_layer"] if args.trace else result["metrics"]
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": sf_dir.name, "nproc": nproc(),
        "loadavg_start": load_start, "loadavg_end": loadavg(), "wall_s": round(wall, 3),
        "cpu_steal_pct": round(100.0 * ticks[1] / max(ticks[0], 1), 2),
        "stopped_at_exit": leftover,
        "end_to_end": result["metrics"], "detail": result["detail"],
    }
    if args.trace:
        context["layers"] = result["layers"]["detail"]
    print(json.dumps(context))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
