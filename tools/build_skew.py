"""Build an adversarially SKEWED dataset from sf0.01 (/tmp/sf_skew01).

The scale fences this engine carries — jaccard/winnow stop-shingle caps
(`max_df`), the co-activity neighbor cap, AQE skew-join splitting — are
sized for the fixtures' benign distributions; this dataset hits each
fence with the distribution it exists for, so the r12 skew sweep can
check two things the normal SFs never exercise:

1. CORRECTNESS under skew: every fence is mirrored in the oracle SQL,
   so Spark and DuckDB must stay value-identical on ANY distribution.
2. BOUNDEDNESS under skew: walls must degrade smoothly (fence-bounded),
   not quadratically (fence bypassed).

Distortions (all derived deterministically from the source rows — the
build is reproducible, per the build_sfx1 doctrine):

- documents: the FIRST half of all docs get a shared 12-token preamble
  prepended → every k∈{2,3,8} window of the preamble is a stop-shingle
  with df = n_docs/2, far past every max_df fence; the doc bodies stay
  unique so true pair structure is unchanged ONLY where fences say so.
- events: every 5th event is reassigned to ONE hot user (user_id 1) →
  ~20 % of all events in single co-activity buckets, the hub fan-out
  the neighbor caps fence.
- lineitem: every 3rd row is reassigned to ONE hot branch
  (l_suppkey 7) → a ~33 %-mass groupBy/join key, the AQE skew-split
  case.
- everything else copies through unchanged.

    python tools/build_skew.py [--src DIR] [--dst /tmp/sf_skew01]

``--src`` defaults to sf0.01 under ``tools.DATA_ROOT``.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

from tools import DATA_ROOT  # noqa: E402

PREAMBLE = " ".join(f"hotgram{i}" for i in range(12))


def main() -> None:
    import duckdb

    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default=f"{DATA_ROOT}/sf0.01")
    ap.add_argument("--dst", default="/tmp/sf_skew01")
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

    half_docs = con.sql(
        "SELECT CAST(COUNT(*) / 2 AS BIGINT) FROM documents"
    ).fetchone()[0]

    transforms = {
        "documents": f"""
            SELECT * REPLACE (
              CASE WHEN doc_id < {half_docs}
                   THEN '{PREAMBLE} ' || text ELSE text END AS text)
            FROM documents
        """,
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 5 = 0 THEN 1 ELSE user_id END AS user_id)
            FROM events
        """,
        "lineitem": """
            SELECT * REPLACE (
              CASE WHEN l_orderkey % 3 = 0 THEN 7 ELSE l_suppkey END
                AS l_suppkey)
            FROM lineitem
        """,
    }
    for t in tables:
        q = transforms.get(t, f"SELECT * FROM {t}")
        con.sql(
            f"COPY ({q}) TO '{args.dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(t, "written")
    print(
        "hot-user share:",
        con.sql(
            f"SELECT COUNT(*) FILTER (user_id = 1) * 1.0 / COUNT(*) "
            f"FROM read_parquet('{args.dst}/events.parquet')"
        ).fetchone()[0],
        "| hot-branch share:",
        con.sql(
            f"SELECT COUNT(*) FILTER (l_suppkey = 7) * 1.0 / COUNT(*) "
            f"FROM read_parquet('{args.dst}/lineitem.parquet')"
        ).fetchone()[0],
    )


if __name__ == "__main__":
    main()
