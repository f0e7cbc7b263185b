"""Count-vs-noop action A/B for registered queries (guide §1.4).

The r14 discovery: ``.count()`` lets the optimizer eliminate left joins
with distinct right sides and prune computed columns, so a bench wall can
hide the real computation (events_label_propagation: count 0.78 s, noop
47.5 s). This instrument times BOTH actions per query, warm min-of-N, in
one process (keep the name list short — ≤3 heavy names per process, see
OPTIMIZATION_r14.md "Instrument note" on long-session contamination):

    python tools/noop_ab.py [--sf DIR] [--runs 3] [--action both|count|noop] names...

Prints one line per query: count wall, noop wall, noop/count ratio.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--action", default="both", choices=("both", "count", "noop"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from move_forecast_ind_spark.queries.registry import REGISTRY
    from move_forecast_ind_spark.session import get_spark

    spark = get_spark("noop-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn, action):
        df = fn(spark, args.sf)
        if action == "count":
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()

    for name in args.names:
        spec = REGISTRY[name]
        out = {}
        for action in ("count", "noop"):
            if args.action not in ("both", action):
                continue
            spark.sparkContext.setJobDescription(f"{name}:{action}")
            run(spec.fn, action)  # warm (codegen, page cache)
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                run(spec.fn, action)
                best = min(best, time.perf_counter() - t0)
            out[action] = best
        c, n = out.get("count"), out.get("noop")
        ratio = (
            f" noop/count={n / c:.2f}"
            if c is not None and n is not None and c > 0
            else ""
        )
        parts = [f"{name}:"]
        if c is not None:
            parts.append(f"count={c:.2f}s")
        if n is not None:
            parts.append(f"noop={n:.2f}s")
        print(" ".join(parts) + ratio, flush=True)


if __name__ == "__main__":
    main()
