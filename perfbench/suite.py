"""``query_suite``: the pinned queries of ``queries.json``, each built with its
registry ``fn(spark, sf_dir)`` and executed to a ``noop`` sink in a fixed
order, with the cache cleared between queries. Each query's row count is
read through ``DataFrame.observe`` on that write and compared with the
pinned count."""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext
from pathlib import Path

from common import BENCH_DIR, JobTracer, latency_summary, quantile, start_spark, stop_spark, tree_cpu_s

SCALE = "sf0.01"
# Timed passes per run, at least. One warm pass takes 7 to 12 s on 4 cores,
# so with a time limit alone a 10 s run timed one pass or two, depending on
# the host's noise, and the second pass, warmer, read faster: the figures
# split into two groups. Two passes or more keep the count off that edge.
MIN_PASSES = 2


def pinned(sf_dir: Path) -> list[tuple[str, int]]:
    spec = json.loads((BENCH_DIR / "queries.json").read_text())
    return [(q["name"], q["rows"][sf_dir.name]) for q in spec["query_suite"]]


def run_query(spark, fn, sf: str, rows: int, tracer: JobTracer | None = None,
              name: str = "") -> tuple[float, float, bool]:
    """Build, then execute under a noop sink; (build_s, exec_s, correct)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def span(layer: str):
        return tracer.span(f"queries.{name}.{layer}") if tracer else nullcontext()

    spark.catalog.clearCache()
    t0 = time.perf_counter()
    with span("build"):
        df = fn(spark, sf)
    t1 = time.perf_counter()
    obs = Observation("perfbench")
    with span("exec"):
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t1, obs.get["rows"] == rows


def run(args, sf_dir: Path) -> dict:
    from move_forecast_ind_spark.queries import REGISTRY

    t0 = time.perf_counter()
    spark, start_s = start_spark()
    sf = str(sf_dir)
    suite = [(name, REGISTRY[name].fn, rows) for name, rows in pinned(sf_dir)]
    attempted = failed = 0

    def one_pass(tracer=None) -> tuple[dict[str, tuple[float, float]], float]:
        """Per-query (build_s, exec_s), and the wall of the whole pass."""
        nonlocal attempted, failed
        times = {}
        t = time.perf_counter()
        for name, fn, rows in suite:
            b, e, ok = run_query(spark, fn, sf, rows, tracer, name)
            attempted += 1
            failed += not ok
            times[name] = (b, e)
        return times, time.perf_counter() - t

    try:
        one_pass()  # set-up: session start and the codegen of every plan
        setup_s = time.perf_counter() - t0
        passes = []
        cpu0, t_timed = tree_cpu_s(os.getpid()), time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_timed < args.seconds:
            passes.append(one_pass())
        timed_wall = time.perf_counter() - t_timed
        timed_cpu = tree_cpu_s(os.getpid()) - cpu0
        tracer = None
        if args.trace:
            from refresh import layer_pass

            tracer = JobTracer(spark)
            _, traced_wall = one_pass(tracer)
            # Compared with untraced passes before and after it, so the
            # pass-to-pass warming of the JVM does not count as overhead.
            _, after_wall = one_pass()
            refresh_layers, layer_failed = layer_pass(spark, sf_dir, tracer)
            attempted += 2
            failed += layer_failed
    finally:
        stop_spark(spark)

    names = [name for name, _, _ in suite]
    build = {n: quantile([p[n][0] for p, _ in passes], 0.5) for n in names}
    walls = {n: quantile([sum(p[n]) for p, _ in passes], 0.5) for n in names}
    lat = latency_summary(list(walls.values()))
    metrics = {
        "setup_s": setup_s,
        "geomean_ms": lat["geomean_ms"],
        "ops_per_s": len(names) * len(passes) / timed_wall,
        "cpu_ms_per_op": 1000.0 * timed_cpu / (len(names) * len(passes)),
    }
    detail = {
        "suite_wall_s": sum(walls.values()),
        "query_geomean_ms": lat["geomean_ms"],
        "query_p50_ms": lat["p50_ms"],
        "query_p90_ms": lat["p90_ms"],
        "build_p50_ms": quantile(list(build.values()), 0.5) * 1000.0,
        "passes": len(passes),
        "query_ms": {n: round(w * 1000.0, 1) for n, w in walls.items()},
    }
    result = {"metrics": metrics, "attempted": attempted, "failed": failed, "detail": detail}
    if tracer is None:
        return result

    def traced(n: str, layer: str) -> float:
        return tracer.total_s(f"queries.{n}.{layer}")

    shape = {k: 0 for k in ("jobs", "stages", "tasks", "single_task_stages")}
    build_jobs = 0
    for n in names:
        for layer in ("build", "exec"):
            s = tracer.shape[f"queries.{n}.{layer}"]
            build_jobs += s["jobs"] if layer == "build" else 0
            for k in shape:
                shape[k] += s[k]
    untraced_wall = (passes[-1][1] + after_wall) / 2
    per_layer = {
        "session.start_s": start_s,
        "setup.materialise_s": setup_s - start_s,
        "build.p50_ms": quantile([traced(n, "build") for n in names], 0.5) * 1000.0,
        "build.jobs": build_jobs / len(names),
        "exec.p50_ms": quantile([traced(n, "exec") for n in names], 0.5) * 1000.0,
        "op.p50_ms": quantile([traced(n, "build") + traced(n, "exec") for n in names], 0.5) * 1000.0,
        **{f"op.{k}": v / len(names) for k, v in shape.items()},
        **refresh_layers,
        "trace.overhead_pct": 100.0 * (traced_wall / untraced_wall - 1.0),
    }
    layer_detail = {
        "session.start_s": start_s,
        **{f"queries.{n}.{layer}_s": traced(n, layer) for n in names for layer in ("build", "exec")},
        "queries.build_jobs": build_jobs,
        "queries.exec_jobs": shape["jobs"] - build_jobs,
        "queries.tasks": shape["tasks"],
        "queries.single_task_stages": shape["single_task_stages"],
        **refresh_layers,
    }
    result["layers"] = {"per_layer": per_layer, "detail": layer_detail}
    return result
