"""Wall-clock sweep of every registered query at a given SF — the latent
scale-pathology detector.

The correctness sweeps run at sf0.01 where a quadratic term can hide inside
an acceptable wall (round-8 finding: winnowing's O(n²) re-hash passed every
sf0.01 sweep, then effectively hung at sf0.1). This sweep times ONE run of
each registered query at the target SF (default sf0.1) with a per-query
timeout, so any super-linear operator surfaces as an outlier or a timeout
instead of shipping.

    python tools/time_sweep.py [--sf /root/testdata/sf0.1] [--timeout 120]

Prints one line per query (name, rows, seconds) sorted by registry order,
then the slowest 20. Timeouts are enforced cooperatively via
spark.sparkContext.cancelJobGroup from a watchdog thread.
"""

from __future__ import annotations

import argparse
import sys
import threading
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--timeout", type=float, default=120.0)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from move_forecast_ind_spark.queries.registry import REGISTRY
    from move_forecast_ind_spark.session import get_spark

    spark = get_spark("time-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.names or sorted(REGISTRY)
    results: list[tuple[str, float, object]] = []
    for name in names:
        spec = REGISTRY[name]
        group = f"sweep-{name}"
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel=True)
        done = threading.Event()

        def watchdog() -> None:
            if not done.wait(args.timeout):
                spark.sparkContext.cancelJobGroup(group)

        t = threading.Thread(target=watchdog, daemon=True)
        t.start()
        t0 = time.perf_counter()
        try:
            n = spec.fn(spark, args.sf).count()
            wall = time.perf_counter() - t0
            results.append((name, wall, n))
            print(f"{name}: {n} rows in {wall:.2f}s", flush=True)
        except Exception as exc:
            wall = time.perf_counter() - t0
            tag = "TIMEOUT" if wall >= args.timeout else "ERROR"
            results.append((name, wall, tag))
            print(f"{name}: {tag} after {wall:.2f}s ({str(exc)[:120]})", flush=True)
        finally:
            done.set()
            spark.sparkContext.setJobGroup("idle", "idle")
            spark.catalog.clearCache()

    print("\n--- slowest 20 ---")
    for name, wall, n in sorted(results, key=lambda r: -r[1])[:20]:
        print(f"{wall:8.2f}s  {name}  ({n})")


if __name__ == "__main__":
    main()
