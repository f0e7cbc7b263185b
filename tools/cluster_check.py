"""Multi-executor correctness check: run registry queries on a
``local-cluster[W,C,M]`` session — separate executor JVMs, network-path
shuffle, real broadcast distribution, cross-executor checkpoint re-reads
— and compare against the DuckDB oracle with the driver-replica
normalize (full value hash, not just row counts).

Why this exists (round 11): every "this holds on a real cluster" claim
in SCALE.md was argued from single-JVM plan shapes. local-cluster mode
is the closest one box gets to the real posture, and it found nothing —
while PROVING two things single-JVM runs cannot: (a) value determinism
across executor boundaries (cross-executor partial aggregation changes
float summation order; the rounding-grid doctrine absorbs it), and
(b) that dedup_winnow_pairs' 100× above-linear excess was single-JVM
GC pressure (150 s → 32 s on 2×20 GB heaps; BASELINE r11 addendum 2).

    python tools/cluster_check.py [--sf /root/testdata/sf0.01] \
        [--workers 2 --cores 16 --mem-mb 24576] [names...]

Defaults to a representative 15-query sample spanning relational /
window / as-of / dedup / graph / text tiers. NOTE: executor spawn adds
~15 s fixed cost; parquet checkpoints land in the driver-local tmp dir,
which all executors of a local-cluster share — on a real cluster point
SPARK_GRAFT_CKPT_DIR at shared storage.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
sys.path.insert(0, f"{ROOT}/tools")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

DEFAULT_NAMES = [
    "q1_pricing_summary",
    "a2_groupby_sum_4key",
    "j_asof_join",
    "w_rolling_median",
    "dedup_minhash_lsh",
    "corpus_source_overlap",
    "events_jaccard_neighbors",
    "events_link_prediction",
    "dedup_winnow_pairs",
    "corpus_decontaminate",
    "corpus_ngram_novelty",
    "text_rrf_hybrid_topk",
    "corpus_bigram_lm_score",
    "events_pagerank",
    "events_markov_stationary",
]


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    from check_oracle import _norm_value, run_spark_query
    from move_forecast_ind_spark.queries import REGISTRY

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--workers", type=int, default=2)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--mem-mb", type=int, default=24576)
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or DEFAULT_NAMES

    spark = (
        SparkSession.builder.master(
            f"local-cluster[{args.workers},{args.cores},{args.mem_mb}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .config(
            "spark.executor.memory", f"{max(args.mem_mb - 4096, 2048)}m"
        )
        # executor Python workers are separate processes that do NOT
        # inherit the driver's sys.path — the package must be on their
        # PYTHONPATH for pickled mapInPandas/applyInPandas closures
        # (mm_* tier). On a real cluster: --py-files or a cluster-wide
        # pip install; here the repo dir suffices.
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{t}.parquet')"
        )

    # Embedded Derby is a single-process database: two executor JVMs
    # cannot both boot the same file-backed instance (XSDB6), so the
    # JDBC round-trip query is inherently local-mode-only — on a real
    # cluster the JDBC source is a network database and the same Spark
    # code path applies. Skipped with the reason, not counted as a fail.
    single_process_only = {"s_jdbc_roundtrip"}
    fails: list[str] = []
    checked = 0
    for n in names:
        spec = REGISTRY[n]
        if spec.oracle is None:
            print(f"SKIP  {n} (rows-only)")
            continue
        if n in single_process_only:
            print(f"SKIP  {n} (embedded-Derby: single-process database)")
            continue
        checked += 1
        try:
            cols, types, rows = run_spark_query(spark, spec, args.sf)
            rel = con.sql(spec.oracle)
            ocols = rel.columns
            orows = rel.fetchall()
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            s_set = sorted(
                tuple(_norm_value(r[i]) for i in order) for r in rows
            )
            o_set = sorted(
                tuple(_norm_value(r[i]) for i in oorder) for r in orows
            )
            ok = s_set == o_set and [cols[i] for i in order] == [
                ocols[i] for i in oorder
            ]
        except Exception as exc:  # pragma: no cover - diagnostic path
            ok = False
            print(f"ERR   {n}: {exc}")
        if ok:
            print(f"PASS  {n}: {len(rows)} rows")
        else:
            fails.append(n)
            print(f"FAIL  {n}")
    print(
        f"\n{checked - len(fails)}/{checked} hash-exact on "
        f"local-cluster[{args.workers},{args.cores},{args.mem_mb}]; "
        f"fails: {fails}"
    )
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
