"""Set operations (SURVEY.md §2.7).

The reference's only set-op is implicit: six per-year query results appended
into one list (reference main.py:363-393) — a UNION ALL the trends pipeline
collapses into one aggregate (queries/pipeline.py). Exposed here: the full
union / intersect / except surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import register


def _year_custkeys(spark, sf_dir, year: int) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.year("o_orderdate") == year).select("o_custkey")


@register(
    "set_union_all",
    tags=("setop",),
    oracle="""
    SELECT o_custkey, 1995 AS y FROM orders WHERE year(o_orderdate) = 1995
    UNION ALL
    SELECT o_custkey, 1996 AS y FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two labeled year slices (bag semantics, no shuffle —
    union in Spark is a plan concatenation)."""
    a = _year_custkeys(spark, sf_dir, 1995).withColumn("y", F.lit(1995))
    b = _year_custkeys(spark, sf_dir, 1996).withColumn("y", F.lit(1996))
    return a.unionByName(b)


@register(
    "set_union_distinct",
    tags=("setop", "distinct"),
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    UNION
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set semantics) = union + hash-distinct shuffle."""
    return _year_custkeys(spark, sf_dir, 1995).union(
        _year_custkeys(spark, sf_dir, 1996)
    ).distinct()


@register(
    "set_intersect",
    tags=("setop",),
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — customers active in both years."""
    return _year_custkeys(spark, sf_dir, 1995).intersect(
        _year_custkeys(spark, sf_dir, 1996)
    )


@register(
    "set_except",
    tags=("setop",),
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — churned customers. ``subtract`` is
    Spark's EXCEPT DISTINCT (``exceptAll`` would keep multiplicity-difference
    duplicates — different semantics)."""
    return _year_custkeys(spark, sf_dir, 1995).subtract(
        _year_custkeys(spark, sf_dir, 1996)
    )


@register(
    "set_intersect_all",
    tags=("setop", "bag"),
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — multiplicity = min of the two sides)."""
    return _year_custkeys(spark, sf_dir, 1995).intersectAll(
        _year_custkeys(spark, sf_dir, 1996)
    )
