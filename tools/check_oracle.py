"""Local replica of the grading driver's DuckDB-oracle correctness gate.

For every registered query: run the Spark plan and its ANSI SQL oracle on
the same parquet tables, normalize (sort columns by name, order-insensitive
rows), and compare column names, coarse types, row count and exact values.
A query without an oracle is run and its row count reported. Exit non-zero
on any mismatch. Run before committing new queries:

    python tools/check_oracle.py [--sf DIR] [--posture POSTURE] [names...]

The postures differ only in the session the queries run on:

- ``tuned`` (default): the package's ``get_spark`` builder, as tests and
  the bench use it.
- ``vanilla``: the grading driver's bare builder. None of ``get_spark``'s
  builder confs are set, which proves the queries set every conf they
  need at runtime.
- ``cluster``: ``local-cluster`` sized from the host (:func:`cluster_session`):
  separate executor JVMs, network shuffle, real broadcast distribution.

All names run in one child JVM. If it dies (a dead gateway after cumulative
heap growth, an OOM kill), the name it died in is retried alone in a fresh
JVM, and the rest continue in another (:func:`sweep`).
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import multiprocessing
import os
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

from tools import DATA_ROOT  # noqa: E402

POSTURES = ("tuned", "vanilla", "cluster")

# Every cluster run pays executor spawn and cross-JVM shuffles, so that
# posture defaults to a sample spanning the relational, window, as-of,
# dedup, graph and text tiers instead of the whole registry.
CLUSTER_SAMPLE = [
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

# Embedded Derby is a single-process database: two executor JVMs cannot
# both boot the same file-backed instance (XSDB6), so the JDBC round trip
# runs in local mode only. On a real cluster the JDBC source is a network
# database and the same Spark code path applies.
CLUSTER_SKIP = {"s_jdbc_roundtrip": "embedded Derby is single-process"}


def _norm_value(v):
    if v is None:
        return ("0none", "")
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds"))
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_value(x) for x in v))
    if isinstance(v, bytes):
        return ("b", v)
    return ("s", str(v))


def _coarse_type(t: str) -> str:
    t = t.lower()
    for k, c in (
        ("timestamp", "ts"),
        ("date", "date"),
        ("bool", "bool"),
        ("double", "float"),
        ("float", "float"),
        ("real", "float"),
        ("decimal", "float"),
        ("hugeint", "int"),
        ("bigint", "int"),
        ("int", "int"),
        ("long", "int"),
        ("short", "int"),
        ("byte", "int"),
        ("varchar", "str"),
        ("string", "str"),
        ("binary", "bytes"),
        ("blob", "bytes"),
        ("array", "list"),
        ("list", "list"),
        ("[]", "list"),
    ):
        if k in t:
            return c
    return t


def normalize(cols: list[str], types: list[str], rows: list[tuple]):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    schema = [(cols[i], _coarse_type(types[i])) for i in order]
    data = sorted(
        tuple(_norm_value(r[i]) for i in order) for r in rows
    )
    return schema, data


def run_spark_query(spark, spec, sf_dir):
    df = spec.fn(spark, sf_dir)
    cols = df.columns
    types = [f.dataType.simpleString() for f in df.schema.fields]
    rows = [tuple(r) for r in df.collect()]
    return cols, types, rows


def run_oracle(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    rows = rel.fetchall()
    return cols, types, rows


def diff_report(name, s_schema, s_rows, o_schema, o_rows, max_show=5):
    lines = []
    if [c for c, _ in s_schema] != [c for c, _ in o_schema]:
        lines.append(f"  column names differ: spark={s_schema} oracle={o_schema}")
        return lines
    for (c, st), (_, ot) in zip(s_schema, o_schema):
        if st != ot:
            lines.append(f"  type mismatch on {c}: spark={st} oracle={ot}")
    if len(s_rows) != len(o_rows):
        lines.append(f"  row count: spark={len(s_rows)} oracle={len(o_rows)}")
    shown = 0
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        if sr != orow and shown < max_show:
            lines.append(f"  row[{i}] spark={sr}")
            lines.append(f"  row[{i}] oracl={orow}")
            shown += 1
    if shown == 0 and len(s_rows) == len(o_rows) and not lines:
        lines.append("  (rows equal after sort — schema-only mismatch)")
    return lines


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per fixture table under ``sf_dir``."""
    import duckdb

    from move_forecast_ind_spark.sources import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare(con, spec, cols, types, rows) -> tuple[str, list[str]]:
    """Verdict on one Spark result: ``PASS``, ``rows`` (no oracle, so the
    row count is the whole report) or ``FAIL``, plus the lines to print
    after the name."""
    if spec.oracle is None:
        return "rows", [f"{len(rows)} rows (no oracle)"]
    try:
        ocols, otypes, orows = run_oracle(con, spec.oracle)
    except Exception as e:
        return "FAIL", [f"oracle raised {type(e).__name__}: {e}"]
    s_schema, s_rows = normalize(cols, types, rows)
    o_schema, o_rows = normalize(ocols, otypes, orows)
    if s_schema == o_schema and s_rows == o_rows:
        return "PASS", [f"{len(rows)} rows"]
    return "FAIL", ["differs from the oracle"] + diff_report(
        spec.name, s_schema, s_rows, o_schema, o_rows
    )


def cluster_session(confs: dict[str, str] | None = None):
    """A ``local-cluster`` session sized from the host: 2 workers of
    nproc/2 cores and RAM/3 MB each. Executor and driver heaps take half a
    worker's memory; the rest is headroom for Python workers. ``confs``
    are extra builder confs."""
    from pyspark.sql import SparkSession

    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 3 // 2**20
    builder = (
        SparkSession.builder.master(f"local-cluster[2,{cores},{mem_mb}]")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.driver.memory", f"{mem_mb // 2}m")
        .config("spark.executor.memory", f"{mem_mb // 2}m")
        # Executor Python workers do not inherit the driver's sys.path; the
        # package must be on their PYTHONPATH for pickled mapInPandas /
        # applyInPandas closures. On a real cluster: --py-files or a
        # cluster-wide install.
        .config("spark.executorEnv.PYTHONPATH", ROOT)
    )
    for k, v in (confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_session(posture: str):
    if posture == "tuned":
        from move_forecast_ind_spark.session import get_spark

        return get_spark("check_oracle")
    if posture == "vanilla":
        from pyspark.sql import SparkSession

        # the grading driver's own builder line
        spark = SparkSession.builder.master("local[8]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark
    return cluster_session()


def _check_in_child(posture: str, sf_dir: str, names: list[str], conn) -> None:
    """Child-process body: one fresh JVM checks ``names`` in order and sends
    ``(name, status, lines)`` for each. When the JVM dies, exit non-zero
    without reporting the name it died in."""
    from move_forecast_ind_spark.queries import REGISTRY

    spark = build_session(posture)
    con = oracle_connection(sf_dir)
    conn.send(None)  # ready
    for name in names:
        spec = REGISTRY[name]
        try:
            result = run_spark_query(spark, spec, sf_dir)
        except Exception as e:
            try:
                spark.sql("SELECT 1").collect()
            except Exception:
                os._exit(1)  # dead gateway: every later query would fail too
            conn.send((name, "FAIL", [f"spark raised {type(e).__name__}: {e}"]))
            continue
        conn.send((name, *compare(con, spec, *result)))
    spark.stop()


def child_batches(posture: str, sf_dir: str):
    """``run_batch`` for :func:`sweep`: each call checks its names in one
    fresh child process (and so one fresh JVM), yielding results as they
    arrive. A child that dies before its session and oracle views are
    ready ends the whole run: every later child would die the same way."""
    ctx = multiprocessing.get_context("spawn")

    def run_batch(names: list[str]):
        recv, send = ctx.Pipe(duplex=False)
        proc = ctx.Process(target=_check_in_child, args=(posture, sf_dir, names, send))
        proc.start()
        send.close()
        try:
            try:
                recv.recv()
            except EOFError:
                raise SystemExit(
                    f"the {posture} child died before its session and oracle "
                    "views were ready"
                ) from None
            while True:
                yield recv.recv()
        except EOFError:
            pass
        finally:
            proc.join()

    return run_batch


def sweep(names: list[str], run_batch):
    """Yield ``(name, status, lines)`` for every name. ``run_batch(batch)``
    runs a batch in one fresh JVM and yields a result per name until the
    JVM finishes or dies. A batch that reports fewer names than it was
    given died in the first one it left out: that name is retried alone
    (FAIL if it dies alone too), then the rest continue in a fresh batch.
    Each death uses up one name, so the loop ends even when no JVM ever
    reports anything."""
    pending = list(names)
    while pending:
        done = 0
        for result in run_batch(pending):
            yield result
            done += 1
        if done == len(pending):
            return
        victim = pending[done]
        print(f"JVM died in {victim}", file=sys.stderr, flush=True)
        solo = list(run_batch([victim])) if len(pending) > 1 else []
        yield from solo or [(victim, "FAIL", ["JVM died running it alone"])]
        pending = pending[done + 1 :]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "names",
        nargs="*",
        help="query names (default: the whole registry; the cluster "
        "posture defaults to its sample)",
    )
    ap.add_argument("--sf", default=f"{DATA_ROOT}/sf0.01")
    ap.add_argument("--posture", choices=POSTURES, default="tuned")
    args = ap.parse_args()

    # the registry needs no JVM; this process only relays child results
    from move_forecast_ind_spark.queries import REGISTRY

    names = args.names or (
        CLUSTER_SAMPLE if args.posture == "cluster" else sorted(REGISTRY)
    )
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown query names: {' '.join(unknown)}")
    if args.posture == "cluster":
        for n in names:
            if n in CLUSTER_SKIP:
                print(f"SKIP  {n}: {CLUSTER_SKIP[n]}")
        names = [n for n in names if n not in CLUSTER_SKIP]

    counts = {"PASS": 0, "FAIL": 0, "rows": 0}
    failed = []
    for name, status, lines in sweep(names, child_batches(args.posture, args.sf)):
        print(f"{status:<5} {name}: {lines[0]}", *lines[1:], sep="\n", flush=True)
        counts[status] += 1
        if status == "FAIL":
            failed.append(name)

    print(f"\n{counts['PASS']} pass, {counts['FAIL']} fail, {counts['rows']} rows-only")
    if failed:
        print("failed:", " ".join(failed))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
