"""Driver-conditions sweep: every registered oracle-bearing query on a
VANILLA SparkSession (the driver's posture — none of get_spark's builder
confs), compared against its DuckDB oracle with the driver's exact
normalize-and-compare.

Why this exists (round 10): tools/check_oracle.py and the pytest suite
both run on the tuned ``get_spark`` builder. Queries must not depend on
any builder-level conf — ``session.tune`` / ``sources.load_table`` set
everything runtime-settable inside the query path — and the only way to
PROVE that is to sweep under the driver's own session shape. The round-10
front was rehearsed this way (50/50 green) before rotation; this tool
generalizes the rehearsal to the whole registry.

Isolation (r14, VERDICT item 3): a SINGLE vanilla JVM sweeping the full
registry at sf0.1 skew scale died cumulatively after ~17 queries — the
default 1g driver heap fills with localCheckpoint blocks from
``materialize()`` (local mode) plus broadcast/cached relations that only
free on GC, the same accumulation the r13 scaleup_probe hit. The fix is
NOT a bigger ``--driver-memory`` (that changes the vanilla posture under
test and merely moves the cliff); it is per-chunk process isolation:
``--chunk N`` (default 24) spawns a fresh subprocess — a fresh vanilla
JVM, same builder line the driver uses — every N queries, which bounds
per-JVM accumulation at N queries' worth regardless of registry size or
scale factor. This matches the grading driver's own posture more closely
anyway (its sample is 50, not 383). ``--chunk 0`` restores the legacy
single-process sweep.

    python tools/vanilla_sweep.py [--sf /root/testdata/sf0.01] [names...]
    python tools/vanilla_sweep.py --sf /tmp/sf_skew1          # skew sf0.1
"""

from __future__ import annotations

import argparse
import subprocess
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
sys.path.insert(0, f"{ROOT}/tools")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _sweep_inprocess(sf: str, names: list[str]) -> list[str]:
    """Run `names` on ONE vanilla session; print a row per query; return
    the failing names."""
    import duckdb
    from pyspark.sql import SparkSession

    from check_oracle import normalize, run_oracle, run_spark_query

    # vanilla: exactly what the grading driver builds
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from move_forecast_ind_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )

    fails: list[str] = []
    for n in names:
        spec = REGISTRY[n]
        try:
            cols, types, rows = run_spark_query(spark, spec, sf)
            s_schema, s_rows = normalize(cols, types, rows)
            o_schema, o_rows = normalize(*run_oracle(con, spec.oracle))
            ok = (
                s_schema == o_schema
                and len(s_rows) == len(o_rows)
                and all(a == b for a, b in zip(s_rows, o_rows))
            )
            print(("PASS " if ok else "FAIL "), n, len(s_rows), flush=True)
            if not ok:
                fails.append(n)
        except Exception as ex:  # noqa: BLE001 — report and continue
            print("ERR  ", n, repr(ex)[:200], flush=True)
            fails.append(n)
            try:
                # liveness probe: a dead gateway JVM (cumulative-heap OOM
                # kill) turns every later query into a ConnectionRefused
                # artifact — abort so the parent retries the remainder in
                # a fresh JVM instead of recording ghost failures
                spark.sql("SELECT 1").collect()
            except Exception:
                print(f"GATEWAY-DEAD after {n}", flush=True)
                break
    return fails


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--chunk",
        type=int,
        default=12,
        help="queries per fresh vanilla JVM (0 = one JVM for the whole "
        "sweep — the pre-r14 behavior, known to hit the default-heap "
        "cliff at sf0.1 skew scale). 12 keeps ~2x margin under the "
        "measured ~17-query accumulation cliff; names a dead chunk "
        "leaves unreported are retried one-per-JVM before being "
        "declared failures, so the instrument has no cliff at any "
        "scale — worst case degrades to per-query isolation.",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # Registry import needs no Spark; resolving names in the parent keeps
    # child invocations to explicit name lists.
    from move_forecast_ind_spark.queries import REGISTRY

    names = args.names or [n for n in REGISTRY if REGISTRY[n].oracle is not None]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown names: {unknown}")

    if args.chunk <= 0 or len(names) <= args.chunk:
        fails = _sweep_inprocess(args.sf, names)
    else:
        fails = []
        for i in range(0, len(names), args.chunk):
            chunk = names[i : i + args.chunk]
            reported, chunk_fails, died = _run_chunk(args.sf, chunk)
            missing = [n for n in chunk if n not in reported]
            if died or missing:
                # The chunk JVM died (cumulative heap, OOM kill). The
                # query it died IN is an ERR artifact of accumulation,
                # not necessarily a real failure — retry it solo along
                # with everything the chunk never reached. One fresh JVM
                # per name separates "cumulative accumulation killed the
                # chunk" (passes solo) from "this query cannot run at
                # this scale on a default heap" (fails solo → a real
                # finding, kept as FAIL).
                victim = chunk_fails[-1:] if died and chunk_fails else []
                retry = victim + missing
                fails.extend(n for n in chunk_fails if n not in victim)
                print(f"CHUNK-DIED; retrying {retry} one-per-JVM", flush=True)
                for n in retry:
                    s_rep, s_fails, s_died = _run_chunk(args.sf, [n])
                    if s_died or n not in s_rep:
                        print(f"SOLO-DIED {n}", flush=True)
                        fails.append(n)
                    else:
                        fails.extend(s_fails)
            else:
                fails.extend(chunk_fails)
    raise SystemExit(_finish(names, fails))


def _run_chunk(sf: str, chunk: list[str]) -> tuple[set[str], list[str], bool]:
    """One fresh vanilla JVM over `chunk`; relay its per-query rows and
    return (names that produced a row, names that failed, gateway died)."""
    p = subprocess.run(
        [sys.executable, __file__, "--sf", sf, "--chunk", "0"] + chunk,
        capture_output=True,
        text=True,
    )
    reported: set[str] = set()
    fails: list[str] = []
    died = False
    for line in p.stdout.splitlines():
        parts = line.split()
        if parts and parts[0] in ("PASS", "FAIL", "ERR") and len(parts) > 1:
            print(line, flush=True)
            reported.add(parts[1])
            if parts[0] in ("FAIL", "ERR"):
                fails.append(parts[1])
        elif line.startswith("GATEWAY-DEAD"):
            print(line, flush=True)
            died = True
    return reported, fails, died


def _finish(names: list[str], fails: list[str]) -> int:
    print(f"\n{len(names) - len(fails)}/{len(names)} green; fails: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    main()
