"""Fault-tolerance check: kill one executor JVM MID-QUERY on a
``local-cluster`` session and verify the query still completes with the
exact oracle values.

Why this exists (round 12): every scale claim so far — plan shapes,
multi-executor hash-exactness, executor-count scaling — measures a
HEALTHY cluster. A 1000-executor run loses executors as a matter of
course; what the 100 TB posture actually requires is that a lost
executor costs a stage retry, not the job. Spark's standalone worker
restarts the executor and lineage/shuffle recomputation covers the lost
blocks — PROVIDED no plan step pinned state in a non-fault-tolerant
place. That is precisely the documented caveat on
``operators/materialize.py``: ``localCheckpoint`` blocks are NOT
fault-tolerant (a lost executor fails the job), while the
``SPARK_GRAFT_MATERIALIZE=parquet`` mode re-reads a durable file. This
script runs the query under the parquet mode (the 100 TB batch default)
and proves the end-to-end property with a real SIGKILL.

    python tools/fault_check.py [--sf /tmp/sfx1] [--kill-at 0.4] \
        [--materialize parquet|local] [names...]

The session is the host-sized ``local-cluster`` of
``tools/check_oracle.py --posture cluster``, plus the retry confs below.

Timing: each query runs cold, then warm, then once more with the kill
scheduled at ``--kill-at`` × the WARM wall (the killed run is warm; an
absolute delay tuned to the cold wall can land after a warm run already
finished — the report flags MID-FLIGHT vs landed-after so an invalid
window cannot masquerade as evidence). The kill is a host-side
``SIGKILL`` of one ``CoarseGrainedExecutorBackend`` JVM — the hardest
failure mode short of losing the whole worker.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

DEFAULT_NAMES = ["dedup_winnow_pairs", "corpus_bigram_lm_score"]


def _executor_pids() -> set[int]:
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    ).stdout
    return {int(p) for p in out.split()}


def main() -> None:
    from tools.check_oracle import (
        cluster_session,
        compare,
        oracle_connection,
        run_spark_query,
    )
    from move_forecast_ind_spark.queries import REGISTRY

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/sfx1")
    ap.add_argument(
        "--kill-at",
        type=float,
        default=0.4,
        help="when to SIGKILL, as a FRACTION of the measured WARM wall "
        "(the killed run is always warm — an absolute delay tuned to "
        "the cold wall lands after a warm run already finished, which "
        "is how the first negative-control attempt invalidated itself)",
    )
    ap.add_argument(
        "--materialize",
        default="parquet",
        choices=("parquet", "local"),
        help="parquet = the 100 TB durable default (expect PASS); "
        "local = localCheckpoint blocks, the documented NON-fault-"
        "tolerant mode (negative control: a kill during/after the "
        "checkpointed stage is expected to FAIL the job)",
    )
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or DEFAULT_NAMES

    # The whole point: durable materialization. localCheckpoint blocks
    # die with the executor; parquet checkpoints are re-read from disk.
    os.environ["SPARK_GRAFT_MATERIALIZE"] = args.materialize

    # Survive one executor loss without failing the job: the lost
    # executor's shuffle files trigger FetchFailed → stage retry. These
    # are the settings a real cluster job would carry.
    spark = cluster_session(
        {"spark.task.maxFailures": "8", "spark.stage.maxConsecutiveAttempts": "8"}
    )
    con = oracle_connection(args.sf)

    fails: list[str] = []
    for n in names:
        spec = REGISTRY[n]
        # cold then warm healthy walls: the killed run is warm, so the
        # kill must be timed against the WARM wall or it can land after
        # a fast warm run already completed (an invalid "PASS")
        t0 = time.perf_counter()
        spec.fn(spark, args.sf).count()
        healthy_cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        spec.fn(spark, args.sf).count()
        healthy = time.perf_counter() - t0
        kill_after = max(args.kill_at * healthy, 0.3)

        before = _executor_pids()
        killed: dict[str, object] = {}

        def _assassin() -> None:
            time.sleep(kill_after)
            pids = sorted(_executor_pids())
            if not pids:
                killed["pid"] = None
                return
            victim = pids[0]
            os.kill(victim, 9)
            killed["pid"] = victim
            killed["at"] = time.perf_counter() - t1

        th = threading.Thread(target=_assassin)
        t1 = time.perf_counter()
        th.start()
        try:
            cols, types, rows = run_spark_query(spark, spec, args.sf)
            wall = time.perf_counter() - t1
            err = None
        except Exception as exc:  # noqa: BLE001 - diagnostic path
            wall = time.perf_counter() - t1
            err = exc
            rows, cols = [], []
        th.join()

        # wait for the standalone worker to respawn the executor so the
        # next query starts from a full-strength cluster
        for _ in range(60):
            if len(_executor_pids()) >= len(before):
                break
            time.sleep(1)

        if err is not None:
            fails.append(n)
            print(
                f"FAIL  {n}: killed pid {killed.get('pid')} at "
                f"+{killed.get('at', float('nan')):.1f}s -> job error: {err}"
            )
            continue

        status, lines = compare(con, spec, cols, types, rows)
        if status == "FAIL":
            fails.append(n)
        in_flight = killed.get("at") is not None and killed["at"] < wall
        print(
            f"{status:<5} {n}: {lines[0]}"
            f" | healthy {healthy_cold:.1f}s cold / {healthy:.1f}s warm,"
            f" with kill {wall:.1f}s"
            f" (executor pid {killed.get('pid')} SIGKILLed at"
            f" +{killed.get('at', float('nan')):.1f}s;"
            f" {'MID-FLIGHT' if in_flight else 'kill landed AFTER completion — retime with --kill-at'})",
            *lines[1:],
            sep="\n",
        )

    print(f"\n{len(names) - len(fails)}/{len(names)} survived executor loss; fails: {fails}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
