"""Local replica of the driver's DuckDB-oracle correctness gate.

For every registered query with an oracle: run the Spark plan and the ANSI SQL
on the same parquet tables, normalize (sort columns by name, order-insensitive
rows), and compare row count + coarse schema + exact values. Exit non-zero on
any mismatch. Run BEFORE committing new queries:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)


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
    # snapshot/restore the recursion guard: sql_recursive_session_roots
    # raises spark.sql.cteRecursionRowLimit (input-sized, read at action
    # time so it cannot restore it itself) — keep the default guard for
    # every OTHER recursive query in this shared session (ADVICE r9)
    _CTES = (
        "spark.sql.cteRecursionRowLimit",
        "spark.sql.cteRecursionLevelLimit",  # r12: depth raised input-bounded too
    )
    priors = {c: spark.conf.get(c, None) for c in _CTES}
    try:
        df = spec.fn(spark, sf_dir)
        cols = df.columns
        types = [f.dataType.simpleString() for f in df.schema.fields]
        rows = [tuple(r) for r in df.collect()]
    finally:
        for c, prior in priors.items():
            if prior is None:
                spark.conf.unset(c)
            elif spark.conf.get(c, None) != prior:
                spark.conf.set(c, prior)
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all with oracle)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--include-rows-only", action="store_true",
                    help="also smoke-run queries without an oracle (rows>=0)")
    args = ap.parse_args()

    import duckdb

    from move_forecast_ind_spark.queries import REGISTRY
    from move_forecast_ind_spark.session import get_spark
    from move_forecast_ind_spark.sources import TABLE_NAMES

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    names = args.names or sorted(REGISTRY)
    n_pass = n_fail = n_rows_only = 0
    failed = []
    for name in names:
        spec = REGISTRY[name]
        try:
            cols, types, rows = run_spark_query(spark, spec, args.sf)
        except Exception as e:
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            failed.append(name)
            continue
        if spec.oracle is None:
            n_rows_only += 1
            print(f"rows  {name}: {len(rows)} rows (no oracle)")
            continue
        try:
            ocols, otypes, orows = run_oracle(con, spec.oracle)
        except Exception as e:
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {e}")
            n_fail += 1
            failed.append(name)
            continue
        s_schema, s_rows = normalize(cols, types, rows)
        o_schema, o_rows = normalize(ocols, otypes, orows)
        if s_schema == o_schema and s_rows == o_rows:
            print(f"PASS  {name}: {len(rows)} rows")
            n_pass += 1
        else:
            print(f"FAIL  {name}:")
            for line in diff_report(name, s_schema, s_rows, o_schema, o_rows):
                print(line)
            n_fail += 1
            failed.append(name)

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failed:
        print("failed:", " ".join(failed))
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
