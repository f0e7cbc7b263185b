"""Floor-vs-data decomposition: run queries at sf0.001/0.01/0.1 on Spark
AND their oracles on DuckDB, print a per-query table.

The instrument behind BASELINE.md's scaling sections: a query whose
wall-clock is FLAT across 100× data is scheduling-floor-bound (not
gradable by ratio at small SF); the sf0.001→sf0.1 delta is its true
marginal data cost. Defaults to the bench set; pass names to restrict.

    python tools/scaling_curve.py [name ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.session import get_spark
    from tools.check_oracle import oracle_connection

    names = sys.argv[1:] or sorted(
        n for n, s in REGISTRY.items() if s.bench
    )
    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, list[str]] = {n: [] for n in names}
    for sfd in SF_DIRS:
        con = oracle_connection(sfd)
        for n in names:
            spec = REGISTRY[n]
            best = duck = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                spec.fn(spark, sfd).count()
                best = min(best, time.perf_counter() - t0)
                if spec.oracle is not None:
                    t0 = time.perf_counter()
                    con.sql(f"SELECT COUNT(*) FROM ({spec.oracle})").fetchone()
                    duck = min(duck, time.perf_counter() - t0)
            spark.catalog.clearCache()
            results[n].append(
                f"{best:.2f}/{duck:.2f}" if duck != float("inf") else f"{best:.2f}/-"
            )
        con.close()

    width = max(len(n) for n in names) + 2
    print(f"{'query':<{width}} " + " ".join(f"{s.rsplit('/',1)[-1]:>12}" for s in SF_DIRS))
    for n in names:
        print(f"{n:<{width}} " + " ".join(f"{c:>12}" for c in results[n]))
    print("\ncells: spark_sec/duckdb_sec (steady min-of-2). FLAT row = floor-bound.")


if __name__ == "__main__":
    main()
