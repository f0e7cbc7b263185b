"""Build the ~sf1 extrapolation dataset (/tmp/sfx1) from sf0.1.

The 10x probe dataset BASELINE.md's extrapolation sections measure
against: 10 id-shifted copies of each sf0.1 table, with

- document tokens salted per copy (token -> token + '_cK' for copies
  K >= 1; copy 0 keeps the original text) so cross-copy texts are
  DISSIMILAR: dedup pair structure scales linearly with data,
  vocabulary grows ~10x, and no artificial cross-copy duplicates
  inflate the pair tiers;
- event timestamps shifted +400 days per copy so the co-activity
  graph grows by TIME EXTENSION (more windows), not by inflating each
  time bucket 10x (which would square the in-bucket pair fan-out and
  measure a different algorithm);
- all integer keys shifted by copy * (max_key + 1) so copies are
  disjoint and referential integrity holds within each copy;
- tiny dims (region, nation) copied UNSHIFTED once — they are
  broadcast-side lookups everywhere, and 10 shifted copies would
  break the nationkey foreign keys of shifted customers. Instead the
  fk columns keep their original modulo-range values in every copy.

Round-8 note: earlier rounds built this dataset with ad-hoc COPY
statements that lived only in a session's shell history; /tmp clearing
erased them. This script IS now the recipe (VERDICT r7 asked for scale
evidence reproducibility).

    python tools/build_sfx1.py [--src DIR] [--dst /tmp/sfx1]

``--src`` defaults to sf0.1 under ``tools.DATA_ROOT``.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

from tools import DATA_ROOT  # noqa: E402

COPIES = 10

# key columns shifted per copy, per table (column -> shift base table's
# own max; fk columns shift by THEIR referenced table's max so joins
# stay aligned within a copy)
SHIFTS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# which table's key-space each shifted column belongs to
KEYSPACE = {
    "c_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "o_custkey": ("customer", "c_custkey"),
    "l_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}


def main() -> None:
    import duckdb

    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default=f"{DATA_ROOT}/sf0.1")
    ap.add_argument("--dst", default="/tmp/sfx1")
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)

    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.src}/{t}.parquet')"
        )

    base: dict[tuple[str, str], int] = {}
    for col, (tbl, keycol) in KEYSPACE.items():
        if (tbl, keycol) not in base:
            base[(tbl, keycol)] = (
                con.sql(f"SELECT MAX({keycol}) + 1 FROM {tbl}").fetchone()[0]
            )

    for t in tables:
        if t in ("region", "nation"):
            con.sql(
                f"COPY (SELECT * FROM {t}) TO "
                f"'{args.dst}/{t}.parquet' (FORMAT PARQUET)"
            )
            print(t, "copied unshifted")
            continue
        cols = [
            r[0]
            for r in con.sql(f"DESCRIBE SELECT * FROM {t}").fetchall()
        ]
        parts = []
        for k in range(COPIES):
            sel = []
            for c in cols:
                if c in SHIFTS.get(t, ()):
                    tbl, keycol = KEYSPACE[c]
                    sel.append(f"{c} + {k} * {base[(tbl, keycol)]} AS {c}")
                elif t == "documents" and c == "text" and k > 0:
                    sel.append(
                        "array_to_string(list_transform("
                        "string_split_regex(trim(text), '\\s+'), "
                        f"x -> x || '_c{k}'), ' ') AS text"
                    )
                elif t == "events" and c == "ts":
                    sel.append(f"ts + INTERVAL {400 * k} DAY AS ts")
                else:
                    sel.append(c)
            parts.append(f"SELECT {', '.join(sel)} FROM {t}")
        q = " UNION ALL ".join(parts)
        con.sql(
            f"COPY ({q}) TO '{args.dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{args.dst}/{t}.parquet')"
        ).fetchone()[0]
        print(t, n, "rows")


if __name__ == "__main__":
    main()
