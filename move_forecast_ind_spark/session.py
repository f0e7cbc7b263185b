"""SparkSession construction and runtime tuning.

Two entry points:

- :func:`get_spark` — build a local session for tests/bench (local[N], AQE on,
  shuffle partitions sized to cores, UTC timezone, Arrow on).
- :func:`tune` — apply the *runtime-settable* subset of those configs to an
  externally provided session (the correctness driver passes us its own
  ``SparkSession``; master/memory are fixed by then but AQE, timezone and
  shuffle-partition count are not). Query bodies never call it: the
  ``queries.registry.register`` wrapper applies it to the caller's session
  on every registered query call. The streaming entry points call it
  themselves.

Scale posture (100 TB / 1000 executors): everything here is cluster-neutral.
AQE handles post-shuffle partition coalescing and skew-join splitting at any
scale; `spark.sql.shuffle.partitions` is only the *initial* number — on a real
cluster it should be ~2-3× total cores and AQE coalesces down. Session
timezone is pinned UTC so date/timestamp semantics are machine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable configs applied to any session we touch.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the 64 MB advisory size instead of preserving maximum
    # parallelism: tiny shuffles collapse to one task (measured 25-50% off
    # per-query wall at small SF) while at 100 TB a 64 MB advisory target
    # still yields full-cluster parallelism — the recommended setting when
    # scheduling overhead matters.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as long (epoch nanos) and normalize in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull(arr)`
    # below every explode, and filter PUSHDOWN then inlines the generator
    # input's full expression chain into that condition (twice) beneath any
    # exchange barrier. For computed-array generators that re-evaluates the
    # chain ~3x per row — and when the chain's per-element lambda references
    # the array being built (winnowing's array_min(slice(h, i, w))), the
    # inlined filter turns O(n) hashing into O(n²) PER ROW:
    # text_winnow_fingerprints at sf0.1 ran >9 min with the rule, 2 s
    # without (round-8 finding). Every generator in this engine explodes a
    # computed array, never a prunable source column, so the rule only ever
    # costs; results are identical (it is a pure optimization rule).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent).

    Also rightsizes ``spark.sql.shuffle.partitions`` when the session still
    carries Spark's default 200 (an externally built session): AQE coalesces
    the excess anyway, but starting near core count avoids scheduling 200
    micro-tasks per shuffle on small inputs.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment — accept session default
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    # LOCAL MODE ONLY: the fixture tables are single MB-scale parquet
    # files, which the default 128 MB split size reads as ONE task — a
    # 600k-row scan serialized onto one of 32 cores (measured: q1
    # 0.65 → 0.30 s, q3 0.84 → 0.57 s at sf0.1 with 4 MB splits). Guarded
    # by the master URL because the same setting on a 100 TB cluster
    # would explode a 128 MB-aligned lake into ~25M scan tasks — there
    # the default is correct and this branch never fires.
    try:
        if spark.sparkContext.master.startswith("local"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
            # Same local-only reasoning for AQE's coalesce target: at the
            # fixture SFs the heavy data paths (jaccard/minhash pair
            # aggregates ~20 MB) coalesce to ONE post-shuffle partition
            # under the 64 MB default — single-core execution on a
            # 32-core box (statusTracker: every stage 1 task). A 2 MB
            # advisory re-parallelizes them; the tiny queries' shuffles
            # are < 2 MB and still collapse to one task. On a
            # cluster the 64 MB default stands — coalescing there fights
            # per-task scheduling overhead across executors, and this
            # branch never fires.
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(2 * 1024 * 1024)
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "move_forecast_ind_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized for this machine."""
    cpus = default_parallelism()
    # local mode: the driver JVM is the whole engine; give it half the RAM
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", f"{half_ram_mb}m"),
        )
        .config("spark.ui.enabled", "false")
        # The progress bar's carriage-return lines would share stderr with
        # the server's one-JSON-line-per-request access log.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # LOCAL-ONLY (this builder always constructs local[N]): shuffle
        # blocks live on one machine's page cache — lz4 round-trips and
        # locality-wait scheduling pauses buy nothing here. On a real
        # cluster BOTH defaults are correct (network shuffle wants
        # compression; locality wait avoids cross-rack reads) — these are
        # build-time core confs, so they belong to this local builder, not
        # to tune(), and a cluster deployment never passes through here.
        .config("spark.locality.wait", "0s")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
