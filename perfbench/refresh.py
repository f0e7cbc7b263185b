"""``batch_refresh``: the reference's two batch jobs back to back, through the
package's public functions: ``compute_percentages`` → ``write_percentages``,
then ``_daily_series`` → ``train_models`` → ``save_registry``. Each op writes
into a fresh directory and is checked by reading back what it wrote.

``layer_pass`` times the same calls one layer at a time; every traced run
makes it, so the write side is measured whichever workload is traced."""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext
from pathlib import Path

from common import (
    BENCH_DIR, OUT_DIR, JobTracer, latency_summary, quantile, start_spark, stop_spark, tree_cpu_s,
)

SCALE = "sf0.01"


def expected(sf_dir: Path) -> dict:
    return json.loads((BENCH_DIR / "queries.json").read_text())["refresh"][sf_dir.name]


def _inputs(spark, sf: str):
    from move_forecast_ind_spark.plans.percentages import compute_percentages
    from move_forecast_ind_spark.plans.training import train_models
    from move_forecast_ind_spark.queries.ml import CUTOFF, _daily_series
    from move_forecast_ind_spark.sources import load_table

    pct = compute_percentages(
        load_table(spark, sf, "lineitem"), branch_col="l_suppkey",
        type_col="l_returnflag", date_col="l_shipdate", count_col="l_quantity",
    )
    return pct, train_models(_daily_series(spark, sf), cutoff=CUTOFF)


def refresh_op(spark, sf: str, out: Path, span=lambda _: nullcontext()) -> None:
    """One refresh into ``out``: the plans (``build``), then the two sinks
    (``exec``)."""
    from move_forecast_ind_spark.plans.percentages import write_percentages
    from move_forecast_ind_spark.sources.models import save_registry

    with span("build"):
        pct, models = _inputs(spark, sf)
    with span("exec"):
        write_percentages(pct, str(out / "pct"))
        save_registry(models, str(out / "models"))


def check_written(spark, out: Path, want: dict) -> bool:
    """The percentages read back row for row, and the registry holds one
    row per branch."""
    pct_rows = spark.read.parquet(str(out / "pct")).count()
    reg = spark.read.parquet(str(out / "models"))
    return (
        pct_rows == want["pct_rows"]
        and reg.count() == reg.select("branch").distinct().count() == want["branches"]
    )


def files_under(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def layer_pass(spark, sf_dir: Path, tracer: JobTracer) -> tuple[dict, int]:
    """Times each layer of a refresh separately: the two plans under a noop
    sink, the two writes. Runs twice and reports the second (warm) pass.
    Returns the layer numbers and the number of failed checks."""
    from move_forecast_ind_spark.plans.percentages import write_percentages
    from move_forecast_ind_spark.sources.models import save_registry

    want = expected(sf_dir)
    failed = 0
    for attempt in ("cold", "warm"):
        out = OUT_DIR / f"layers-{attempt}"
        shutil.rmtree(out, ignore_errors=True)
        pct, models = _inputs(spark, str(sf_dir))
        with tracer.span(f"{attempt}.plans.percentages.compute"):
            pct.write.format("noop").mode("overwrite").save()
        with tracer.span(f"{attempt}.sources.write_percentages"):
            write_percentages(pct, str(out / "pct"))
        with tracer.span(f"{attempt}.plans.training.fit"):
            models.write.format("noop").mode("overwrite").save()
        with tracer.span(f"{attempt}.sources.save_registry"):
            save_registry(models, str(out / "models"))
        files, size = files_under(out)
        failed += not check_written(spark, out, want)
        shutil.rmtree(out)
    layers = {
        "plans.percentages.compute_s": tracer.total_s("warm.plans.percentages.compute"),
        "sources.write_percentages_s": tracer.total_s("warm.sources.write_percentages"),
        "sources.files_written": files,
        "sources.bytes_written": size,
        "plans.training.fit_s": tracer.total_s("warm.plans.training.fit"),
        "sources.save_registry_s": tracer.total_s("warm.sources.save_registry"),
    }
    return layers, failed


def run(args, sf_dir: Path) -> dict:
    t0 = time.perf_counter()
    spark, start_s = start_spark()
    want = expected(sf_dir)
    root = OUT_DIR / "refresh"
    shutil.rmtree(root, ignore_errors=True)
    attempted = failed = 0

    def op(name: str, span=lambda _: nullcontext()) -> float | None:
        """One checked refresh; its wall, or None when its check failed."""
        nonlocal attempted, failed
        out = root / name
        t = time.perf_counter()
        refresh_op(spark, str(sf_dir), out, span)
        wall = time.perf_counter() - t
        attempted += 1
        ok = check_written(spark, out, want)
        failed += not ok
        shutil.rmtree(out)
        return wall if ok else None

    try:
        op("setup")  # set-up: session start, the first (codegen) refresh
        setup_s = time.perf_counter() - t0
        walls = []
        cpu0, t_timed = tree_cpu_s(os.getpid()), time.perf_counter()
        while not walls or time.perf_counter() - t_timed < args.seconds:
            walls.append(op(str(len(walls))))
        timed_wall = time.perf_counter() - t_timed
        timed_cpu = tree_cpu_s(os.getpid()) - cpu0
        ok_walls = [w for w in walls if w is not None]

        layers = None
        if args.trace:
            tracer = JobTracer(spark)
            traced_wall = op("traced", tracer.span)
            refresh_layers, layer_failed = layer_pass(spark, sf_dir, tracer)
            attempted += 2
            failed += layer_failed
            build, run_ = tracer.shape["build"], tracer.shape["exec"]
            per_layer = {
                "session.start_s": start_s,
                "setup.materialise_s": setup_s - start_s,
                "build.p50_ms": tracer.p50_ms("build"),
                "build.jobs": build["jobs"],
                "exec.p50_ms": tracer.p50_ms("exec"),
                "op.p50_ms": tracer.p50_ms("build") + tracer.p50_ms("exec"),
                **{f"op.{k}": build[k] + run_[k] for k in build},
                **refresh_layers,
                "trace.overhead_pct": 100.0 * ((traced_wall or 0.0) / quantile(ok_walls, 0.5) - 1.0),
            }
            layers = {"per_layer": per_layer, "detail": refresh_layers}
    finally:
        stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)

    lat = latency_summary(ok_walls)
    metrics = {
        "setup_s": setup_s,
        "geomean_ms": lat["geomean_ms"],
        "ops_per_s": len(ok_walls) / timed_wall,
        "cpu_ms_per_op": 1000.0 * timed_cpu / len(walls),
    }
    detail = {"refresh_p50_s": lat["p50_ms"] / 1000.0, "ops": len(walls)}
    result = {"metrics": metrics, "attempted": attempted, "failed": failed, "detail": detail}
    if layers:
        result["layers"] = layers
    return result
