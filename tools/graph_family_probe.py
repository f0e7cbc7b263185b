"""Graph-family floor-amortization probe (VERDICT r9 item #2).

The graph tier's two 10x residuals (events_jaccard_neighbors,
events_link_prediction) are correct and data-path-cheap (~1.3 s executor
time on 32 cores) but pay a ~14-stage scheduling floor re-deriving the
shared co-activity adjacency per query. The thesis on file since r8:
in a real pipeline the adjacency compiles ONCE and the whole family
amortizes the floor. This probe MEASURES that thesis at the 10x dataset:

- Spark family run: inside ``shared_coactivity`` (adjacency materialized
  once per grain — hour for pagerank/BFS/LPA, 300 s tight for triangles/
  k-core/link-pred/jaccard/assortativity), run all eight graph queries
  end-to-end. Family wall time INCLUDES the two adjacency builds.
- DuckDB family run: each query's oracle SQL, each re-deriving the graph
  from the events table (DuckDB has no cross-statement reuse here) —
  the same per-query posture the single-query probe measures.
- Solo Spark run (--solo): the old per-query posture for contrast.

    python tools/graph_family_probe.py [--dir /tmp/sfx1] [--solo]

Timing convention matches tools/scaleup_probe.py: min-of-2 passes,
``count()`` as the action, cache cleared between passes.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

FAMILY = [
    # hour-grain adjacency
    "events_pagerank",
    "events_bfs_hops",
    "events_label_propagation",
    # tight (300 s) adjacency
    "events_triangle_count",
    "events_kcore_peel",
    "events_link_prediction",
    "events_jaccard_neighbors",
    "events_degree_assortativity",
]
# the five queries VERDICT r9 item #2 names explicitly
VERDICT5 = {
    "events_pagerank",
    "events_bfs_hops",
    "events_kcore_peel",
    "events_link_prediction",
    "events_jaccard_neighbors",
}
TABLES = ("events",)


def main() -> None:
    import duckdb

    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.queries.analytics import shared_coactivity
    from move_forecast_ind_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/sfx1")
    ap.add_argument("--solo", action="store_true",
                    help="also measure the per-query (unshared) Spark posture")
    ap.add_argument("--grains", choices=["both", "tight", "hour"], default="both",
                    help="which adjacency grains to materialize for the "
                         "shared posture (r10 finding: the hour-grain arrays "
                         "are dense — persisting them costs ~10x their lazy "
                         "recompute, so 'tight' is the better pipeline cut)")
    args = ap.parse_args()

    spark = get_spark("graph-family")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.dir}/{t}.parquet')"
        )

    from move_forecast_ind_spark.queries.analytics import _TRI_BUCKET_S

    grains = {"both": (None, _TRI_BUCKET_S), "tight": (_TRI_BUCKET_S,),
              "hour": (None,)}[args.grains]

    # --- Spark family: adjacency compiled once per grain ------------------
    fam_best = float("inf")
    per_q_best: dict[str, float] = {n: float("inf") for n in FAMILY}
    build_best = float("inf")
    for _ in range(2):
        t_fam = time.perf_counter()
        with shared_coactivity(spark, args.dir, grains=grains):
            t_build = time.perf_counter() - t_fam
            for n in FAMILY:
                t0 = time.perf_counter()
                REGISTRY[n].fn(spark, args.dir).count()
                per_q_best[n] = min(per_q_best[n], time.perf_counter() - t0)
        fam_best = min(fam_best, time.perf_counter() - t_fam)
        build_best = min(build_best, t_build)
        spark.catalog.clearCache()

    # --- DuckDB family: each oracle re-derives the graph -------------------
    duck_best: dict[str, float] = {n: float("inf") for n in FAMILY}
    for _ in range(2):
        for n in FAMILY:
            t0 = time.perf_counter()
            con.sql(f"SELECT COUNT(*) FROM ({REGISTRY[n].oracle})").fetchone()
            duck_best[n] = min(duck_best[n], time.perf_counter() - t0)

    # --- optional: solo Spark posture --------------------------------------
    solo_best: dict[str, float] = {}
    if args.solo:
        solo_best = {n: float("inf") for n in FAMILY}
        for _ in range(2):
            for n in FAMILY:
                t0 = time.perf_counter()
                REGISTRY[n].fn(spark, args.dir).count()
                solo_best[n] = min(solo_best[n], time.perf_counter() - t0)
            spark.catalog.clearCache()

    hdr = f"{'query':<30} {'shared_s':>9} {'duck_s':>8} {'ratio':>6}"
    if args.solo:
        hdr += f" {'solo_s':>8}"
    print(hdr)
    for n in FAMILY:
        line = (
            f"{n:<30} {per_q_best[n]:>9.2f} {duck_best[n]:>8.2f} "
            f"{per_q_best[n] / duck_best[n]:>6.2f}"
        )
        if args.solo:
            line += f" {solo_best[n]:>8.2f}"
        print(line)
    duck_total = sum(duck_best.values())
    duck5 = sum(v for n, v in duck_best.items() if n in VERDICT5)
    spark5 = sum(v for n, v in per_q_best.items() if n in VERDICT5)
    print(f"\nadjacency builds ({args.grains} grains): {build_best:.2f} s (inside family total)")
    print(
        f"family-8  spark {fam_best:.2f} s  duckdb {duck_total:.2f} s  "
        f"ratio {fam_best / duck_total:.2f}"
    )
    # verdict-5 subset: charge the full build cost to the subset too
    # (conservative — the other three queries ride the same build free)
    print(
        f"verdict-5 spark {spark5 + build_best:.2f} s (queries {spark5:.2f} + "
        f"build {build_best:.2f})  duckdb {duck5:.2f} s  "
        f"ratio {(spark5 + build_best) / duck5:.2f}"
    )
    if args.solo:
        print(f"solo-8    spark {sum(solo_best.values()):.2f} s (per-query posture)")


if __name__ == "__main__":
    main()
