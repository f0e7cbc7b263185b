"""Window functions (SURVEY.md §2.5 — absent from the reference, exposed as
harness surface) and sorts/limits/top-k (§2.6).

Window partitioning note for 100 TB: every window below partitions by a key
(custkey/suppkey/brand) — one shuffle, then per-partition sort. Unpartitioned
windows (global row_number) funnel all rows through one task and are banned
from this engine's pipelines; global top-k uses orderBy+limit which Spark
plans as TakeOrderedAndProject (per-partition heap + driver merge of k rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import r2, sql_r2
from ..sources import load_table
from .registry import register


@register(
    "w_row_number_topk_per_group",
    tags=("window", "topk"),
    oracle="""
    SELECT * FROM (
      SELECT o_custkey,
             o_orderkey,
             o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w_row_number_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the canonical partitioned-window top-k.
    Deterministic via the o_orderkey tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "w_lag_lead",
    tags=("window", "lag"),
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(o_orderdate AS DATE) AS od,
           CAST(lag(o_orderdate)  OVER w AS DATE)  AS prev_od,
           CAST(lead(o_orderdate) OVER w AS DATE)  AS next_od,
           datediff('day', CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over the per-customer order timeline (inter-arrival days)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    od = F.col("o_orderdate").cast("date")
    prev_ts = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        od.alias("od"),
        prev_ts.cast("date").alias("prev_od"),
        F.lead("o_orderdate").over(w).cast("date").alias("next_od"),
        F.datediff(od, prev_ts.cast("date")).alias("days_since_prev"),
    )


@register(
    "w_running_sum",
    tags=("window", "frame"),
    oracle=f"""
    SELECT l_suppkey,
           l_orderkey,
           l_linenumber,
           {sql_r2('SUM(l_quantity) OVER (PARTITION BY l_suppkey '
                    'ORDER BY l_shipdate, l_orderkey, l_linenumber '
                    'ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS running_qty
    FROM lineitem
    WHERE l_suppkey % 10 = 0
    """,
)
def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum with an explicit ROWS frame (reference's running
    Python accumulators, main.py:247-258, as a window)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 10 == 0)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        r2(F.sum("l_quantity").over(w)).alias("running_qty"),
    )


@register(
    "w_rank_dense_ntile",
    tags=("window", "rank"),
    oracle="""
    SELECT p_brand,
           p_partkey,
           p_retailprice,
           RANK()       OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4)     OVER w AS quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
    """,
)
def w_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over price within brand."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return part.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "w_range_frame_avg",
    tags=("window", "frame"),
    oracle=f"""
    SELECT o_custkey,
           o_orderkey,
           {sql_r2('AVG(o_totalprice) OVER (PARTITION BY o_custkey '
                    'ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)')} AS moving_avg_3
    FROM orders
    WHERE o_custkey % 20 = 0
    """,
)
def w_range_frame_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 3-row moving average (bounded preceding frame)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        r2(F.avg("o_totalprice").over(w)).alias("moving_avg_3"),
    )


# ---- sorts / limits / top-k (§2.6) --------------------------------------
@register(
    "o_global_topk",
    tags=("sort", "topk"),
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def o_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each task keeps a
    k-row heap, driver merges k·tasks rows; no global sort at any scale.
    Tiebreak on o_orderkey makes the result set deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "o_multi_column_sort",
    tags=("sort",),
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    ORDER BY s_acctbal DESC, s_name ASC
    """,
)
def o_multi_column_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total sort, mixed directions (range-partitioned exchange + local sort)."""
    sup = load_table(spark, sf_dir, "supplier")
    return sup.select("s_suppkey", "s_name", "s_acctbal").orderBy(
        F.col("s_acctbal").desc(), F.col("s_name").asc()
    )


@register(
    "w_first_last_nth",
    tags=("window", "frame"),
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WHERE o_custkey % 25 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over the per-customer order timeline (note the
    full frame on LAST_VALUE - the default frame stops at CURRENT ROW)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 25 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )
