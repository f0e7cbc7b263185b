"""Per-query profile: plan construction, ``count()``, a ``noop`` write and
the job shape of the real computation, in one JSON line per query and scale.

    python tools/profile.py [--sf DIR]... [--runs N] [--timeout S] [--duckdb] [name ...]

Names default to the bench set; ``--sf`` is repeatable and takes any
directory of the fixture tables (default ``sf0.1``; ``build_sfx1.py``'s 10x
copy works too). Per (query, sf): one untimed warm run, then ``--runs``
timed runs. Each run clears the cache, builds the frame with the query's
registry ``fn(spark, sf)``, then runs ``.count()`` and a ``noop`` write of
that frame, each phase under its own span of perfbench's ``JobTracer``.
``count()`` lets the optimizer drop joins and computed columns, so only the
``noop`` write times the whole computation. Keys of each line:

- ``query``, ``sf``, ``status`` (``ok``, ``TIMEOUT`` or ``ERROR``, with
  ``error`` set for the last two);
- ``build_s``, ``count_s``, ``noop_s``: the minimum wall over the timed
  runs; ``build_runs_s``, ``count_runs_s``, ``noop_runs_s``: every run's;
- ``build_jobs``: the Spark jobs fired inside ``fn()`` (eager
  materializations), in the last run;
- ``jobs``, ``stages``, ``tasks``, ``single_task_stages``: the shape of the
  last run's ``noop`` write (stages whose shuffle output was reused are not
  counted);
- ``duck_s``: with ``--duckdb``, for a query with oracle SQL, the minimum
  over ``--runs`` of ``SELECT COUNT(*) FROM (oracle)`` on DuckDB over the
  same parquet files, the anchor ``bench.py`` records; otherwise null;
- ``loadavg_start``, ``loadavg_end``: the host's 1/5/15-minute load.

A watchdog cancels every running Spark job once a (query, sf) has taken
``--timeout`` seconds, warm run included, and the profile moves on.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

from tools import DATA_ROOT  # noqa: E402

PHASES = ("build", "count", "noop")
KEYS = (
    "query", "sf", "status", "error",
    *(f"{p}_s" for p in PHASES), *(f"{p}_runs_s" for p in PHASES),
    "build_jobs", "jobs", "stages", "tasks", "single_task_stages", "duck_s",
    "loadavg_start", "loadavg_end",
)


def profile(spark, tracer, spec, sf: str, runs: int, con) -> dict:
    """Warm run, then ``runs`` traced runs of one query; the line's
    measured keys."""
    tag = f"{spec.name} {sf}"

    def one_run(label: str) -> None:
        spark.catalog.clearCache()
        with tracer.span(f"{tag} {label} build"):
            df = spec.fn(spark, sf)
        with tracer.span(f"{tag} {label} count"):
            df.count()
        with tracer.span(f"{tag} {label} noop"):
            df.write.format("noop").mode("overwrite").save()

    one_run("warm")
    for r in range(runs):
        one_run(f"run{r}")
    out = {}
    for phase in PHASES:
        walls = [tracer.durations[f"{tag} run{r} {phase}"][0] for r in range(runs)]
        out[f"{phase}_s"] = round(min(walls), 3)
        out[f"{phase}_runs_s"] = [round(w, 3) for w in walls]
    last = f"{tag} run{runs - 1}"
    out["build_jobs"] = tracer.shape[f"{last} build"]["jobs"]
    out.update(tracer.shape[f"{last} noop"])
    if con is not None and spec.oracle is not None:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            con.sql(f"SELECT COUNT(*) FROM ({spec.oracle})").fetchone()
            best = min(best, time.perf_counter() - t0)
        out["duck_s"] = round(best, 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="query names (default: the bench set)")
    ap.add_argument("--sf", action="append",
                    help=f"fixture directory, repeatable (default {DATA_ROOT}/sf0.1)")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per query")
    ap.add_argument("--timeout", type=float, default=600.0,
                    help="seconds per (query, sf) before its jobs are cancelled")
    ap.add_argument("--duckdb", action="store_true",
                    help="also time each oracle SQL on DuckDB")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be at least 1")

    # the registry needs no JVM: reject unknown names before starting one
    from move_forecast_ind_spark.queries import REGISTRY, bench_queries

    # each (query, sf) once: its spans are named after it
    names = list(dict.fromkeys(args.names)) or sorted(bench_queries())
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown query names: {' '.join(unknown)}")

    from move_forecast_ind_spark.session import get_spark
    from perfbench.common import JobTracer, loadavg
    from tools.check_oracle import oracle_connection

    spark = get_spark("profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = JobTracer(spark)
    for sf in dict.fromkeys(args.sf or [f"{DATA_ROOT}/sf0.1"]):
        con = oracle_connection(sf) if args.duckdb else None
        for name in names:
            line = dict.fromkeys(KEYS)
            line.update(query=name, sf=sf, status="ok", loadavg_start=loadavg())
            done, timed_out = threading.Event(), threading.Event()

            def watchdog() -> None:
                if done.wait(args.timeout):
                    return
                timed_out.set()
                # keep cancelling: a query body may start further jobs
                # between the cancel and the exception reaching this thread
                while not done.is_set():
                    sc.cancelAllJobs()
                    done.wait(1.0)

            dog = threading.Thread(target=watchdog, daemon=True)
            dog.start()
            try:
                line.update(profile(spark, tracer, REGISTRY[name], sf, args.runs, con))
            except Exception as exc:  # report it and go on to the next name
                line["status"] = "TIMEOUT" if timed_out.is_set() else "ERROR"
                line["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            finally:
                done.set()
                dog.join()
            spark.catalog.clearCache()
            line["loadavg_end"] = loadavg()
            print(json.dumps(line), flush=True)
        if con is not None:
            con.close()
    spark.stop()


if __name__ == "__main__":
    main()
