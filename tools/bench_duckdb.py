"""DuckDB anchor for the headline bench set (BASELINE.md §anchor).

The reference repo publishes no benchmark numbers, so the numeric baseline
for "within 2×" is recorded here: wall-clock of each ``bench=True`` query's
oracle SQL executed by DuckDB (all cores, default config) over the same
parquet files at the same scale factor. min-of-2 runs, matching bench.py's
steady-state protocol.

    python tools/bench_duckdb.py [--sf /root/testdata/sf0.1]

Prints one JSON line: {"queries": {name: sec, ...}, "sf": ..., "total": ...}.
Rows-only bench queries (no oracle SQL) are skipped — they have no
SQL-engine equivalent to anchor against.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    try:
        sf = float(args.sf.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    import duckdb

    from move_forecast_ind_spark.queries import bench_queries

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    timings: dict[str, float] = {}
    for name, spec in sorted(bench_queries().items()):
        if spec.oracle is None:
            print(f"# {name}: skipped (rows-only, no oracle SQL)", file=sys.stderr)
            continue
        best, n = float("inf"), -1
        for _ in range(2):
            t0 = time.perf_counter()
            # COUNT wrapper mirrors bench.py's .count() action: full
            # execution, no per-row Python materialization on either side.
            n = con.sql(f"SELECT COUNT(*) FROM ({spec.oracle})").fetchone()[0]
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {n} rows in {best:.3f}s (min of 2)", file=sys.stderr)

    print(
        json.dumps(
            {
                "queries": timings,
                "sf": sf,
                "total": round(sum(timings.values()), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
