"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The headline set is every registry entry flagged ``bench=True`` — the
flagship aggregate, the reference-pipeline plans (pct ETL, forecast tail,
trends), the join families, ML forecast, dedup cascade, similarity search,
and the streaming batch twins. Each timing includes plan + execution + a
count() action (results are not collected to the driver — the driver-side
cost would dominate at row-heavy outputs and measure Python, not the engine).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# STATIC DuckDB anchor at sf0.1 (BASELINE.md "DuckDB anchor" section):
# wall-clock of each query's oracle SQL under DuckDB (all cores,
# COUNT-wrapped to mirror the .count() action, min of 2), re-recorded
# 2026-08-14 over the full 22-query set (the
# 2026-08-13 anchor predated the iterative tier's bench entries;
# re-recorded again 2026-08-14/r6 when the three round-6 representatives
# — er_blocking_pairs, corpus_source_overlap, events_label_propagation —
# joined the set, 22 → 25 queries; re-recorded 2026-08-14/r7 when the
# three round-7 representatives — corpus_quality_calibration,
# text_rrf_hybrid_topk, emb_mmr_select — joined, 25 → 28; this host's
# DuckDB is ~25% slower than the r6 VM, visible in every anchor;
# re-recorded 2026-08-15 when the three continuation-session reps —
# events_hits_scores, events_cohort_ltv, ts_hampel_outliers — joined,
# 30 → 33; extended 2026-08-15 later the same session with the three
# r7f representatives — events_decayed_engagement, ml_forecast_reconcile,
# a_ipf_raking — 33 → 36, anchors measured min-of-3 on this host).
# `tools/profile.py --duckdb` re-times the same anchors as `duck_s`.
# Kept for cross-round continuity —
# but host speed varies by >4× across driver VMs (measured 2026-08-14:
# the same DuckDB suite took 16.1 s on that day's VM vs 3.99 s recorded),
# so the static ratio conflates code with host. The LIVE anchor below
# re-times each oracle in-process, interleaved with the Spark runs, and
# is the host-independent instrument.
DUCKDB_ANCHOR_SF = 0.1
DUCKDB_ANCHOR_SEC: dict[str, float] = {
    "a_ipf_raking": 0.216,
    "corpus_quality_calibration": 0.597,
    "events_decayed_engagement": 0.024,
    "ml_forecast_reconcile": 0.112,
    "corpus_semdedup": 1.233,
    "corpus_source_overlap": 0.369,
    "dedup_exact": 0.079,
    "dedup_lsh_candidate_eval": 5.517,
    "dedup_minhash_lsh": 0.931,
    "dedup_ngram_jaccard": 0.737,
    "emb_mmr_select": 0.201,
    "er_blocking_pairs": 0.29,
    "events_cohort_ltv": 0.039,
    "events_hits_scores": 0.074,
    "events_label_propagation": 1.519,
    "events_pagerank": 2.683,
    "forecast_tail_daily": 0.7,
    "j1_broadcast_dim_join": 0.045,
    "j_asof_join": 0.032,
    "j_multiway_star_join": 0.054,
    "j_sortmerge_join": 0.058,
    "ml_kmeans_fixed_point": 0.335,
    "ml_linreg_forecast": 0.02,
    "ml_pca_power_iteration": 0.322,
    "pct_etl": 0.286,
    "pipeline_training_data_prep": 3.229,
    "q1_pricing_summary": 0.11,
    "q3_shipping_priority": 0.085,
    "sim_cosine_topk": 0.028,
    "st_session_stats": 0.051,
    "st_tumbling_counts": 0.015,
    "text_rake_keywords": 1.128,
    "text_rrf_hybrid_topk": 0.151,
    "text_stats": 0.003,
    "trends_onepass": 0.02,
    "ts_hampel_outliers": 0.026,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    from move_forecast_ind_spark.queries import bench_queries
    from move_forecast_ind_spark.session import get_spark

    spark = get_spark("bench")
    specs = bench_queries()

    # Host-contention telemetry (round-7 finding: the driver's r7 pass
    # recorded q1 at ~87x its static anchor where a controlled run of the
    # same code measures 2.5x — host contention, not code). loadavg at
    # start/end plus the warm-up wall time make a contended recording
    # self-identifying in the JSON.
    load_start = os.getloadavg()

    # Warm the JVM/codegen path once on the cheapest query so the first
    # measured entry doesn't pay session startup.
    t0 = time.perf_counter()
    first = next(iter(specs.values()))
    first.fn(spark, sf_dir).count()
    warmup_sec = round(time.perf_counter() - t0, 3)

    # Timed runs per query; report the min: the first execution of a wide
    # plan pays multi-second Janino codegen compilation that a
    # long-running engine amortizes away; min-of-N measures steady state.
    # min-of-2 readings carried 1-3 s of residual first-run codegen, and
    # min-of-4 pushes the full suite past 10 minutes wall; the DuckDB live
    # anchor takes the SAME min-of-N, so the instrument stays symmetric
    # (BASELINE.md addendum 6 records min-of-2 and min-of-3 bands).
    n_runs = 3

    # Live DuckDB anchor: same parquet, same host, same minute — timed
    # interleaved with each query's Spark runs so host-speed drift (the
    # dominant noise across driver VMs, see BASELINE.md) cancels out of
    # the ratio. COUNT-wrapped to mirror the .count() action.
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def time_query(name, spec):
        """min-of-n_runs Spark wall plus interleaved DuckDB live anchor."""
        best, n = float("inf"), -1
        duck_best = float("inf")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            n = spec.fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
            if spec.oracle is not None:
                # The anchor must never kill the perf gate (round 3's
                # lesson, applied to the other side): a failing oracle
                # just drops that query from the live-ratio set.
                try:
                    t0 = time.perf_counter()
                    con.sql(f"SELECT COUNT(*) FROM ({spec.oracle})").fetchone()
                    duck_best = min(duck_best, time.perf_counter() - t0)
                except Exception as exc:  # pragma: no cover
                    print(f"# {name}: duckdb anchor failed: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
        return n, best, duck_best

    def anomalous(name: str) -> bool:
        """A reading that smells like host contention, not code: past 5x
        its own static DuckDB anchor AND past a 1.5 s absolute floor
        (floor-class queries with millisecond anchors legitimately sit
        at 0.2-0.9 s steady state, >5x anchor — never retry those;
        text_rrf_hybrid_topk measures 0.89 s vs a 0.151 s anchor on a
        quiet host). On a quiet host this
        flags nothing; under the r7-style contention it catches exactly
        the inflated cells (q1 at ~9.6 s vs a 0.11 s anchor). Only
        meaningful at the anchor SF — at other SFs the static anchors
        measure different data and would misflag floor-bound queries."""
        anchor = DUCKDB_ANCHOR_SEC.get(name)
        return (
            sf == DUCKDB_ANCHOR_SF
            and anchor is not None
            and timings[name] > 5 * anchor
            and timings[name] > 1.5
        )

    timings: dict[str, float] = {}
    duck_live: dict[str, float] = {}
    for name, spec in sorted(specs.items()):
        n, best, duck_best = time_query(name, spec)
        timings[name] = round(best, 3)
        if spec.oracle is not None and duck_best != float("inf"):
            duck_live[name] = round(duck_best, 3)
        print(
            f"# {name}: {n} rows in {best:.3f}s (min of {n_runs}; "
            f"duckdb live {duck_live.get(name, float('nan')):.3f}s)",
            file=sys.stderr,
        )

    # End-of-suite retry of contention-suspect readings (round-7 advice):
    # a transient load spike inflates whichever queries it overlapped;
    # re-measuring them once after the suite (different minute, same
    # process) replaces the inflated cell with the quiet one. Anything
    # STILL anomalous after the retry is flagged as contended in the
    # output rather than silently recorded.
    contended: list[str] = []
    for name in [n for n in timings if anomalous(n)]:
        print(f"# retrying contention-suspect {name}", file=sys.stderr)
        _, best, duck_best = time_query(name, specs[name])
        timings[name] = min(timings[name], round(best, 3))
        if specs[name].oracle is not None and duck_best != float("inf"):
            duck_live[name] = min(
                duck_live.get(name, float("inf")), round(duck_best, 3)
            )
        if anomalous(name):
            contended.append(name)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline query suite wall-clock "
        f"(sum of per-query steady-state sec, min of {n_runs} runs)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        "warmup_sec": warmup_sec,
    }
    if contended:
        out["contended"] = sorted(contended)
    if duck_live:
        live_ratios = {
            name: round(timings[name] / duck_live[name], 2) for name in duck_live
        }
        live_total = round(sum(duck_live.values()), 3)
        spark_live_total = round(sum(timings[n] for n in duck_live), 3)
        out["duckdb_live_sec"] = duck_live
        out["duckdb_live_total"] = live_total
        out["ratio_vs_duckdb_live"] = live_ratios
        out["ratio_total_vs_duckdb_live"] = round(spark_live_total / live_total, 2)
    if sf == DUCKDB_ANCHOR_SF:
        ratios = {
            name: round(t / DUCKDB_ANCHOR_SEC[name], 2)
            for name, t in timings.items()
            if name in DUCKDB_ANCHOR_SEC
        }
        anchor_total = round(
            sum(DUCKDB_ANCHOR_SEC[n] for n in ratios), 3
        )
        spark_total = round(sum(timings[n] for n in ratios), 3)
        out["duckdb_anchor_sec"] = DUCKDB_ANCHOR_SEC
        out["ratio_vs_duckdb"] = ratios
        out["ratio_total_vs_duckdb"] = round(spark_total / anchor_total, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
