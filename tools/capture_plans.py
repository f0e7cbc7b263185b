"""Capture physical-plan evidence for the headline queries into PLANS.md.

SCALE.md argues each plan has the right 100 TB shape; this script makes the
claim auditable: for every ``bench=True`` query it records the formatted
physical plan (at sf0.001 — plan SHAPE is scale-invariant for these
queries; AQE runtime re-plans are additive) plus a short automatic audit:
broadcast vs sort-merge joins, cartesian products, pushed filters,
whole-stage codegen coverage.

    python tools/capture_plans.py [--sf DIR] [--out PLANS.md]

``--sf`` defaults to sf0.001 under ``tools.DATA_ROOT``.
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

from tools import DATA_ROOT  # noqa: E402


def _audit(plan: str) -> list[str]:
    notes = []
    for marker, label in [
        ("BroadcastHashJoin", "broadcast hash join"),
        ("BroadcastNestedLoopJoin", "broadcast nested-loop join"),
        ("SortMergeJoin", "sort-merge join"),
        ("CartesianProduct", "CARTESIAN PRODUCT (audit!)"),
        ("TakeOrderedAndProject", "top-k without global sort"),
        ("HashAggregate", "hash aggregate"),
        ("Window", "window"),
        ("Generate explode", "explode"),
    ]:
        n = plan.count(marker)
        if n:
            notes.append(f"{n}× {label}")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    if any(p.strip() for p in pushed):
        notes.append("filters pushed to scan")
    wsc = len(re.findall(r"WholeStageCodegen", plan))
    if wsc:
        notes.append(f"{wsc} codegen span(s)")
    return notes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=f"{DATA_ROOT}/sf0.001")
    ap.add_argument("--out", default=f"{ROOT}/PLANS.md")
    args = ap.parse_args()

    from move_forecast_ind_spark.queries import bench_queries
    from move_forecast_ind_spark.session import get_spark

    spark = get_spark("capture_plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")

    sections = []
    for name, spec in sorted(bench_queries().items()):
        df = spec.fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # keep the operator tree, drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        audit = "; ".join(_audit(plan)) or "map-only"
        sections.append(
            f"## {name}\n\n_Audit: {audit}_\n\n```\n{tree}\n```\n"
        )
        print(f"# {name}: {audit}", file=sys.stderr)

    with open(args.out, "w") as f:
        f.write(
            "# PLANS — physical-plan evidence for the headline queries\n\n"
            "Generated by `tools/capture_plans.py` (formatted explain at "
            f"`{args.sf}`; plan shape, not timings). Audit lines are "
            "extracted automatically; `CARTESIAN PRODUCT (audit!)` never "
            "appears in a healthy run.\n\n" + "\n".join(sections)
        )
    print(f"wrote {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
