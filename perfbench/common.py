"""Shared pieces of the benchmark: paths, the engine environment, statistics,
the in-process Spark session and the job-group tracer.

Everything the benchmark writes goes under ``<checkout>/.perfbench_out``.
"""

from __future__ import annotations

import ctypes
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
DATA_DIR = BENCH_DIR / "data"
OUT_DIR = ROOT / ".perfbench_out"
PACKAGE = "move_forecast_ind_spark"
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def engine_env() -> dict[str, str]:
    """The environment users run the engine with: ``SPARK_GRAFT_CPUS`` = the
    usable cores (as the test suite is run) and no other engine override, so later
    changes to the engine's own defaults show in the numbers. Spark's
    scratch space and Python temp files stay inside the checkout."""
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT_") and k != "SPARK_DRIVER_MEMORY"
    }
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = str(OUT_DIR / "spark-local")
    env["TMPDIR"] = str(OUT_DIR / "tmp")
    return env


def prepare_process() -> None:
    """Point this process at the checkout: cwd = repo root (Python workers
    import the package from there), the engine environment, a clean output
    directory."""
    os.chdir(ROOT)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    env = engine_env()
    os.environ.clear()
    os.environ.update(env)
    for sub in ("spark-local", "tmp"):
        shutil.rmtree(OUT_DIR / sub, ignore_errors=True)
        (OUT_DIR / sub).mkdir(parents=True, exist_ok=True)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default), q in [0, 1]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def latency_summary(seconds: list[float]) -> dict[str, float]:
    """Median, 90th percentile and geometric mean, in ms."""
    ms = [s * 1000.0 for s in seconds]
    return {
        "p50_ms": quantile(ms, 0.5),
        "p90_ms": quantile(ms, 0.9),
        "geomean_ms": geomean(ms),
    }


def start_spark():
    """The engine's own session constructor, timed: ``session.start_s``."""
    from move_forecast_ind_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobTracer:
    """Times calls into the engine from outside and reads the Spark jobs,
    stages and tasks each call fired, through ``statusTracker()`` under a
    job group set on the calling thread.

    ``span(name)`` records one duration under ``name``; ``shape`` holds the
    summed job/stage/task counts per name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.durations: dict[str, list[float]] = {}
        self.shape: dict[str, dict[str, int]] = {}
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name, False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.durations.setdefault(name, []).append(time.perf_counter() - t0)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count(name, group)

    def _count(self, name: str, group: str) -> None:
        # Job and stage info arrive through the listener bus; drain it so the
        # counts of the call just made are complete.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        acc = self.shape.setdefault(
            name, {"jobs": 0, "stages": 0, "tasks": 0, "single_task_stages": 0}
        )
        for job_id in st.getJobIdsForGroup(group):
            acc["jobs"] += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = st.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                acc["stages"] += 1
                acc["tasks"] += stage.numCompletedTasks
                acc["single_task_stages"] += stage.numTasks == 1

    def p50_ms(self, name: str) -> float:
        return quantile(self.durations[name], 0.5) * 1000.0

    def total_s(self, name: str) -> float:
        return sum(self.durations[name])


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts.

    Spark's Python worker daemon moves itself into a process group of its
    own, and it and its workers can outlive the JVM that forked them. As a
    subreaper, this process inherits every such orphan of its descendants,
    so ``stop_descendants`` can find and stop them all."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    """Live children of this process (zombies, only waiting to be reaped,
    excluded)."""
    me, kids = os.getpid(), []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while we looked
        if int(fields[1]) == me and fields[0] != "Z":
            kids.append(int(stat.parent.name))
    return kids


def _reap_all() -> bool:
    """Reap every child that has ended; whether any child is left, running
    or still exiting (a multi-threaded process such as the JVM shows as a
    zombie before its last thread is gone, and its orphans move only then)."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        return False
    return True


def stop_descendants(grace_s: float = 5.0, timeout_s: float = 60.0) -> int:
    """Stop every process this one started, directly or not, and wait until
    each has ended: SIGTERM for ``grace_s``, then SIGKILL. Orphans are
    re-parented here (``adopt_orphans``), so a descendant is left exactly
    while this process has a child, and the loop ends only when it has none.
    Returns how many processes had to be stopped."""
    start, stopped = time.monotonic(), set()
    while _reap_all():
        kids = _children()
        stopped.update(kids)
        elapsed = time.monotonic() - start
        if elapsed > timeout_s:
            raise RuntimeError(f"processes {kids} did not exit")
        sig = signal.SIGTERM if elapsed < grace_s else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    return len(stopped)


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, its own and its reaped children's) of
    process ``root`` and its live descendants: the work done, which unlike
    wall time does not grow when the host steals CPU time."""
    procs = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            head, rest = stat.read_text().rsplit(")", 1)
        except (OSError, ValueError):
            continue  # exited while we looked
        f = rest.split()
        procs[int(head.split("(", 1)[0])] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot: the share of steal over a run is
    the share of time the host gave this machine's CPUs to others."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(fields), fields[7]
