"""Per-query job/stage/task profile via SparkStatusTracker.

The instrument behind the round-5 "single-task data path" discovery:
a query whose heavy stages all run ONE task is serialized on one core
regardless of cluster size — at the fixture SFs that is usually AQE's
64 MB advisory target coalescing a ~20 MB shuffle to one partition
(fixed by tune()'s local-only 2 MB advisory), and at 100 TB the same
profile would reveal skew or an accidental coalesce(1). Run it on any
registered query before concluding a gap is "scheduling floor":

    python tools/profile_jobs.py dedup_ngram_jaccard [more names ...]

Prints, per query: steady wall-clock, job count, and per-job
stage/task counts (warm run — two untimed executions first)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        raise SystemExit(2)
    from move_forecast_ind_spark.queries.registry import REGISTRY
    from move_forecast_ind_spark.session import get_spark

    spark = get_spark("profile")
    sf = "/root/testdata/sf0.1"
    sc = spark.sparkContext
    st = sc.statusTracker()
    for name in names:
        spec = REGISTRY[name]
        spec.fn(spark, sf).count()
        spec.fn(spark, sf).count()
        before = set(st.getJobIdsForGroup(None))
        t0 = time.time()
        spec.fn(spark, sf).count()
        wall = time.time() - t0
        new = sorted(set(st.getJobIdsForGroup(None)) - before)
        print(f"{name}: wall={wall:.2f}s jobs={len(new)}")
        for j in new:
            ji = st.getJobInfo(j)
            stages = list(ji.stageIds) if ji else []
            infos = [st.getStageInfo(s) for s in stages]
            tasks = [si.numTasks for si in infos if si]
            print(f"  job{j}: stages={len(stages)} tasks={tasks}")


if __name__ == "__main__":
    main()
