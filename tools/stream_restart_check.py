"""Streaming restart-from-checkpoint fault check.

A running Structured Streaming query is SIGKILLED mid-stream (the whole
driver process — no graceful stop, no flush), then restarted from its
checkpointLocation and drained; the final sink table must be hash-exact
to the same pipeline run as a batch query over the same rows. The stream
and the batch side share one definition: ``_pipeline`` applies the
streaming/events.py transform either to the staged file stream or to
``load_table(spark, sf_dir, "events")``. Two kill points per scenario:

- ``pre``  — kill at the START of the victim micro-batch's foreachBatch,
  before the sink write: the checkpoint has the batch's offsets but no
  sink output; restart reprocesses it cleanly.
- ``post`` — kill AFTER the sink write completes but BEFORE the engine
  writes the batch's commit log entry: restart RE-DELIVERS the same
  micro-batch (same batch_id, same offsets) — the double-delivery case
  every foreachBatch sink must survive. The complete-mode snapshot sink
  survives by overwrite-idempotence; the incremental delta-merge sink
  survives only because of its ``_applied/batch=N`` marker guard
  (streaming/events.py apply_count_delta) — the negative control below
  proves that guard is load-bearing by re-applying a processed batch
  onto a copy of the table with its marker removed and showing the
  counts inflate.

Mechanics: the events fixture is staged as N ts-range-sorted parquet
files with ascending mtimes, so ``maxFilesPerTrigger=1`` yields N
deterministic micro-batches in timestamp order (no watermark-drop
ambiguity; complete mode ignores watermarks anyway). Each scenario runs
as three subprocesses (kill run → restart run → the parent compares), so
the SIGKILL takes down a real driver JVM and the restart starts from
nothing but the checkpoint directory.

    python tools/stream_restart_check.py [--sf DIR]
        [--scenarios tumbling,session,cdc_latest,sliding,incremental]
        [--nfiles 8] [--kill-batch 3] [--kill-points pre,post]

Prints one verdict row per (scenario, kill_point) and a JSON summary
line. Exit code 0 iff every scenario is hash-exact and the negative
control shows inflation.

``--two-kill`` switches to the re-entrancy protocol: kill at
``--kill-batch`` (post), restart and kill AGAIN mid-drain at
``--kill-batch2`` (post), restart once more and drain — three driver
processes, two checkpoint recoveries, hash-exact against the batch run.
Pair with ``--sf <sf0.1> --nfiles 32`` for a 32-micro-batch horizon::

    python tools/stream_restart_check.py --two-kill \
        --sf <DATA_ROOT>/sf0.1 --nfiles 32 \
        --scenarios tumbling,incremental --kill-batch 8 --kill-batch2 20
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

from tools import DATA_ROOT  # noqa: E402

SCENARIOS = ("tumbling", "sliding", "session", "cdc_latest", "incremental")

# comparison columns per scenario (the batch-equivalence tests' sets;
# doubles rounded to 6 dp so partial-aggregation order can't flip a hash)
_COLS = {
    "tumbling": ["bucket_s", "event_type", "n", "sum_value"],
    "sliding": ["bucket_s", "event_type", "n"],
    "session": ["user_id", "session_start_s", "n_events", "duration_s"],
    "cdc_latest": ["user_id", "n_events", "last_ts_us", "last_type", "last_value"],
    "incremental": ["event_type", "day", "n"],
}


def _canon_hash(df, cols) -> tuple[str, int]:
    rows = df.select(*cols).collect()
    canon = sorted(
        tuple(
            round(v, 6) if isinstance(v, float) else (str(v) if v is not None else "")
            for v in r
        )
        for r in rows
    )
    h = hashlib.sha256(repr(canon).encode()).hexdigest()[:16]
    return h, len(canon)


def _stage(spark, sf_dir: str, nfiles: int, staged: str) -> None:
    """events fixture → nfiles ts-range parquet files, ascending mtimes."""
    from move_forecast_ind_spark.sources import load_table

    if os.path.isdir(staged):
        shutil.rmtree(staged)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    ev.repartitionByRange(nfiles, "ts").sortWithinPartitions("ts").write.parquet(
        staged
    )
    parts = sorted(
        f for f in os.listdir(staged) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time() - 3600
    for i, f in enumerate(parts):
        os.utime(os.path.join(staged, f), (base + i, base + i))


def _pipeline(name: str, events):
    """The scenario's streaming/events.py transform, over a stream or a
    batch frame; the incremental scenario's stream feeds its sink raw."""
    from move_forecast_ind_spark.streaming import events as SE

    return {
        "tumbling": SE.tumbling_counts,
        "sliding": SE.sliding_counts,
        "session": SE.session_stats,
        "cdc_latest": SE.latest_state,
        "incremental": SE.daily_counts,
    }[name](events)


def _read_staged_stream(spark, staged: str):
    from move_forecast_ind_spark.sources.tables import normalize_event_ts

    schema = spark.read.parquet(staged).schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(staged)
    )
    return normalize_event_ts(raw)


def _run_phase(args) -> None:
    """Subprocess body: start (or restart) one scenario's query; with
    --kill-batch >= 0, SIGKILL this very process at the configured point
    of that micro-batch."""
    from move_forecast_ind_spark.session import get_spark
    from move_forecast_ind_spark.streaming.events import apply_count_delta

    if args.cluster:
        # multi-executor posture: separate executor JVMs + network
        # shuffle + a state store written through the checkpoint file
        # manager from executor processes (single host, so /tmp IS the
        # shared filesystem, as for check_oracle.py --posture cluster)
        from tools.check_oracle import cluster_session

        spark = cluster_session()
    else:
        spark = get_spark("stream-restart-run")
    spark.sparkContext.setLogLevel("ERROR")
    stream = _read_staged_stream(spark, args.staged)
    table = os.path.join(args.work, "table")
    log = os.path.join(args.work, "batches.log")

    def note(bid: int) -> None:
        with open(log, "a") as fh:
            fh.write(f"{args.phase}:{bid}\n")
            fh.flush()
            os.fsync(fh.fileno())

    def hard_kill() -> None:
        # SIGKILL the driver python; the JVM follows (it monitors the
        # py4j connection) — no atexit, no stop(), no commit.
        os.kill(os.getpid(), signal.SIGKILL)

    def sink(batch_df, bid: int) -> None:
        if args.kill_batch >= 0 and bid == args.kill_batch and args.kill_point == "pre":
            note(-bid - 1000)  # mark the pre-kill delivery
            hard_kill()
        if args.scenario == "incremental":
            apply_count_delta(batch_df, bid, table)
        else:
            batch_df.write.mode("overwrite").parquet(table)
        note(bid)
        if args.kill_batch >= 0 and bid == args.kill_batch and args.kill_point == "post":
            hard_kill()

    if args.scenario == "incremental":
        out, mode = stream, "append"  # apply_count_delta aggregates per batch
    else:
        out, mode = _pipeline(args.scenario, stream), "complete"
    q = (
        out.writeStream.outputMode(mode)
        .option("checkpointLocation", os.path.join(args.work, "ckpt"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    spark.stop()


def _spawn(extra: list[str]) -> int:
    cmd = [sys.executable, os.path.abspath(__file__), "--phase-internal"] + extra
    p = subprocess.Popen(cmd, start_new_session=True)
    p.wait()
    # reap any orphaned JVM in the child's session (SIGKILL to python
    # can leave the gateway JVM draining for a few seconds)
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    return p.returncode


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=f"{DATA_ROOT}/sf0.01")
    ap.add_argument("--scenarios", default="tumbling,sliding,session,cdc_latest,incremental")
    ap.add_argument("--nfiles", type=int, default=8)
    ap.add_argument("--kill-batch", type=int, default=3)
    ap.add_argument("--kill-points", default="pre,post")
    ap.add_argument(
        "--two-kill",
        action="store_true",
        help="re-entrancy mode: per scenario, "
        "SIGKILL at --kill-batch (post), restart and SIGKILL AGAIN "
        "mid-drain at --kill-batch2 (post), restart once more and drain "
        "— proves recovery is re-entrant, not one-shot. Pair with "
        "--sf sf0.1 --nfiles 32 for a >=30-micro-batch horizon.",
    )
    ap.add_argument("--kill-batch2", type=int, default=20)
    ap.add_argument(
        "--cluster",
        action="store_true",
        help="run each phase on the host-sized local-cluster master of "
        "check_oracle.py --posture cluster (separate executor JVMs + "
        "state store written from executors)",
    )
    # internal phase plumbing
    ap.add_argument("--phase-internal", action="store_true")
    ap.add_argument("--phase", default="")
    ap.add_argument("--scenario", default="")
    ap.add_argument("--staged", default="")
    ap.add_argument("--work", default="")
    ap.add_argument("--kill-point", default="post")
    args = ap.parse_args()

    if args.phase_internal:
        _run_phase(args)
        return 0

    from move_forecast_ind_spark.session import get_spark
    from move_forecast_ind_spark.sources import load_table

    spark = get_spark("stream-restart-main")
    spark.sparkContext.setLogLevel("ERROR")
    staged = "/tmp/stream_restart_src"
    _stage(spark, args.sf, args.nfiles, staged)

    if args.two_kill:
        # Re-entrancy: recovery must survive a SECOND
        # SIGKILL landing mid-drain of the first recovery. Both kills at
        # the `post` point (sink written, commit log not — the
        # double-delivery case), so the run exercises redelivery twice
        # with different checkpoint states. Batch ids are global across
        # restarts (they come from the checkpoint offset log), so the
        # second kill targets a batch id the first drain never reached.
        results = []
        ok = True
        for scenario in args.scenarios.split(","):
            work = f"/tmp/stream_restart_{scenario}_twokill"
            if os.path.isdir(work):
                shutil.rmtree(work)
            os.makedirs(work)
            t0 = time.time()
            rcs = []
            for phase, kb in (
                ("kill1", args.kill_batch),
                ("kill2", args.kill_batch2),
                ("final", -1),
            ):
                rcs.append(
                    _spawn(
                        [
                            "--phase", phase, "--scenario", scenario,
                            "--staged", staged, "--work", work,
                            "--kill-batch", str(kb), "--kill-point", "post",
                        ]
                    )
                )
            wall = round(time.time() - t0, 1)
            lines = open(os.path.join(work, "batches.log")).read().split()
            sh, sn = _canon_hash(
                spark.read.parquet(os.path.join(work, "table")), _COLS[scenario]
            )
            bh, bn = _canon_hash(
                _pipeline(scenario, load_table(spark, args.sf, "events")), _COLS[scenario]
            )
            match = sh == bh
            cell = {
                "scenario": scenario,
                "kill_batches": [args.kill_batch, args.kill_batch2],
                "killed_rcs": rcs[:2],
                "final_rc": rcs[2],
                "batches_kill1": len([l for l in lines if l.startswith("kill1:")]),
                "batches_kill2": len([l for l in lines if l.startswith("kill2:")]),
                "batches_final": len([l for l in lines if l.startswith("final:")]),
                "victim1_redelivered": f"kill2:{args.kill_batch}" in lines,
                "victim2_redelivered": f"final:{args.kill_batch2}" in lines,
                "rows": sn,
                "rows_batch": bn,
                "hash_stream": sh,
                "hash_batch": bh,
                "hash_exact": match,
                "wall_s": wall,
            }
            ok = ok and match and rcs[0] != 0 and rcs[1] != 0 and rcs[2] == 0
            results.append(cell)
            print(
                f"{'PASS' if match else 'FAIL'}  {scenario:<12s} two-kill "
                f"rcs={rcs} batches={cell['batches_kill1']}/"
                f"{cell['batches_kill2']}/{cell['batches_final']} "
                f"redelivered={cell['victim1_redelivered']}/"
                f"{cell['victim2_redelivered']} rows={sn}/{bn} "
                f"hash={'=' if match else sh + '!=' + bh} wall={wall}s"
            )
        print(json.dumps({"two_kill": results, "ok": ok}))
        return 0 if ok else 1

    results = []
    ok = True
    for scenario in args.scenarios.split(","):
        for kp in args.kill_points.split(","):
            posture = ["--cluster"] if args.cluster else []
            work = f"/tmp/stream_restart_{scenario}_{kp}" + (
                "_cluster" if args.cluster else ""
            )
            if os.path.isdir(work):
                shutil.rmtree(work)
            os.makedirs(work)
            t0 = time.time()
            rc1 = _spawn(
                [
                    "--phase", "kill", "--scenario", scenario,
                    "--staged", staged, "--work", work,
                    "--kill-batch", str(args.kill_batch), "--kill-point", kp,
                ]
                + posture
            )
            killed = rc1 != 0  # SIGKILL → negative returncode
            rc2 = _spawn(
                [
                    "--phase", "restart", "--scenario", scenario,
                    "--staged", staged, "--work", work,
                    "--kill-batch", "-1",
                ]
                + posture
            )
            wall = round(time.time() - t0, 1)
            log = os.path.join(work, "batches.log")
            lines = open(log).read().split() if os.path.exists(log) else []
            kill_batches = [l for l in lines if l.startswith("kill:")]
            restart_batches = [l for l in lines if l.startswith("restart:")]
            redelivered = kp == "post" and any(
                l == f"restart:{args.kill_batch}" for l in lines
            )
            sh, sn = _canon_hash(
                spark.read.parquet(os.path.join(work, "table")), _COLS[scenario]
            )
            bh, bn = _canon_hash(
                _pipeline(scenario, load_table(spark, args.sf, "events")), _COLS[scenario]
            )
            match = sh == bh
            ok = ok and match and killed and rc2 == 0
            results.append(
                {
                    "scenario": scenario,
                    "kill_point": kp,
                    "kill_batch": args.kill_batch,
                    "killed_rc": rc1,
                    "batches_before_kill": len(kill_batches),
                    "batches_after_restart": len(restart_batches),
                    "victim_redelivered": redelivered,
                    "rows": sn,
                    "rows_batch": bn,
                    "hash_stream": sh,
                    "hash_batch": bh,
                    "hash_exact": match,
                    "wall_s": wall,
                }
            )
            print(
                f"{'PASS' if match else 'FAIL'}  {scenario:<12s} kill={kp:<4s} "
                f"rc1={rc1} pre-kill-batches={len(kill_batches)} "
                f"restart-batches={len(restart_batches)} "
                f"redelivered={redelivered} rows={sn}/{bn} "
                f"hash={'=' if match else sh + '!=' + bh}"
            )

    # Negative control: the _applied marker guard on the delta-merge sink.
    neg = None
    if "incremental" in args.scenarios:
        from pyspark.sql import functions as F

        from move_forecast_ind_spark.streaming.events import apply_count_delta

        src_tbl = "/tmp/stream_restart_incremental_post/table"
        if os.path.isdir(src_tbl):
            parts = sorted(
                f for f in os.listdir(staged)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            victim_file = os.path.join(staged, parts[args.kill_batch])
            batch_df = spark.read.parquet(victim_file)
            n_before = (
                spark.read.parquet(src_tbl).agg(F.sum("n")).first()[0]
            )
            # guarded replay: marker present → no-op
            apply_count_delta(batch_df, args.kill_batch, src_tbl)
            n_guarded = spark.read.parquet(src_tbl).agg(F.sum("n")).first()[0]
            # unguarded replay on a COPY with the marker removed → inflates
            neg_tbl = "/tmp/stream_restart_neg/table"
            if os.path.isdir(os.path.dirname(neg_tbl)):
                shutil.rmtree(os.path.dirname(neg_tbl))
            shutil.copytree(src_tbl, neg_tbl)
            shutil.rmtree(
                os.path.join(neg_tbl, "_applied", f"batch={args.kill_batch}"),
                ignore_errors=True,
            )
            apply_count_delta(batch_df, args.kill_batch, neg_tbl)
            n_unguarded = spark.read.parquet(neg_tbl).agg(F.sum("n")).first()[0]
            neg = {
                "n_before": int(n_before),
                "n_after_guarded_replay": int(n_guarded),
                "n_after_unguarded_replay": int(n_unguarded),
                "guard_held": n_guarded == n_before,
                "control_inflated": n_unguarded > n_before,
            }
            ok = ok and neg["guard_held"] and neg["control_inflated"]
            print(
                f"{'PASS' if neg['guard_held'] and neg['control_inflated'] else 'FAIL'}"
                f"  marker-guard: sum(n) {n_before} -> guarded replay {n_guarded}"
                f" (no-op) vs unguarded replay {n_unguarded} (inflated)"
            )

    print(json.dumps({"scenarios": results, "negative_control": neg, "ok": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
