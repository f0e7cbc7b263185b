"""Aggregation operators (SURVEY.md §2.4 A1-A11 + harness coverage).

The reference's aggregations are pandas groupbys and ad-hoc SQL SUM/AVG/
DISTINCT (reference pretrain_models.py:13; precompute_percentages.py:134-135;
main.py:102-110,205-206,368-384). Each becomes a hash aggregate with
map-side partial aggregation — at 100 TB the shuffle carries one partial row
per (task, group), so low-cardinality groups cost ~nothing beyond the scan.
Also exposed: the aggregate surface the reference lacks (cube, rollup,
grouping sets, count-distinct, approx sketches, exact percentiles, stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import r2, r4, sql_r2, sql_r4
from ..sources import load_table, register_views
from .registry import register


# A2/A3: multi-key grouped sums — the ETL's numerator shape
# (reference precompute_percentages.py:134 groupby 4 keys .sum()).
@register(
    "a2_groupby_sum_4key",
    tags=("aggregate",),
    oracle=f"""
    SELECT l_suppkey,
           l_returnflag,
           CAST(month(l_shipdate) AS INT)  AS m,
           CAST(day(l_shipdate) AS INT)    AS d,
           {sql_r2('SUM(l_quantity)')}     AS move_count
    FROM lineitem
    GROUP BY 1, 2, 3, 4
    """,
)
def a2_groupby_sum_4key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-key hash aggregate; the multi-year calendar collapse."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_suppkey",
        "l_returnflag",
        F.month("l_shipdate").alias("m"),
        F.dayofmonth("l_shipdate").alias("d"),
    ).agg(r2(F.sum("l_quantity")).alias("move_count"))


# A4: group-by + sum + order (reference main.py:368-384 trends inner query).
@register(
    "a4_groupby_sum_orderby",
    tags=("aggregate", "sort"),
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           {sql_r2('SUM(o_totalprice)')} AS total_price,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-06-01 00:00:00' AND TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY 1
    ORDER BY 1
    """,
)
def a4_groupby_sum_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-grain aggregate with range predicate pushed to the scan."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.col("o_orderdate").between(
                F.lit("1996-06-01 00:00:00").cast("timestamp"),
                F.lit("1996-06-30 00:00:00").cast("timestamp"),
            )
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            r2(F.sum("o_totalprice")).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("order_date")
    )


# A5/A8-A10: ungrouped (global) aggregate — one row out.
@register(
    "a5_global_aggregate",
    tags=("aggregate",),
    oracle=f"""
    SELECT {sql_r4('AVG(o_totalprice)')}     AS avg_price,
           {sql_r2('SUM(o_totalprice)')}     AS sum_price,
           {sql_r2('MIN(o_totalprice)')}     AS min_price,
           {sql_r2('MAX(o_totalprice)')}     AS max_price,
           COUNT(*)                          AS n_rows
    FROM orders
    """,
)
def a5_global_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate: partial per partition, one final reduce."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        r4(F.avg("o_totalprice")).alias("avg_price"),
        r2(F.sum("o_totalprice")).alias("sum_price"),
        r2(F.min("o_totalprice")).alias("min_price"),
        r2(F.max("o_totalprice")).alias("max_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# A6/A11: DISTINCT enumeration (reference main.py:205-206).
@register(
    "a6_distinct",
    tags=("aggregate", "distinct"),
    oracle="""
    SELECT DISTINCT o_orderpriority, o_orderstatus
    FROM orders
    ORDER BY 1, 2
    """,
)
def a6_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = group-by-all-columns hash aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderpriority", "o_orderstatus").distinct().orderBy(
        "o_orderpriority", "o_orderstatus"
    )


# count(DISTINCT) — expand + two-phase aggregate in Spark.
@register(
    "a_count_distinct",
    tags=("aggregate", "distinct"),
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*)                  AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def a_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate; Catalyst plans the expand + partial distinct."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# Approximate distinct — sketch values are engine-specific by design, so
# the oracle contract is: emit the EXACT value alongside and a bounded-
# relative-error flag; DuckDB recomputes the exact value and asserts the
# bound as a literal. A sketch regression (>5% error) flips the hash.
@register(
    "a_approx_count_distinct",
    tags=("aggregate", "approx"),
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           true AS parts_within_5pct,
           true AS orders_within_5pct
    FROM lineitem
    GROUP BY 1
    """,
)
def a_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate: fixed-size sketch per partition, so
    at 100 TB the shuffle is O(tasks), unlike exact distinct which shuffles
    every key once. rsd=0.01 keeps the estimate within ~1%; the oracle gate
    asserts ≤5% relative error against the exact count.

    The sketch and exact aggregates are SEPARATE aggregations joined on the
    group key — never mixed in one .agg(). Mixing them is a measured OOM
    pathology (r14): countDistinct plans an Expand that makes every
    distinct VALUE an aggregation key, and a co-resident
    approx_count_distinct then allocates its ~12 KB HLL register buffer
    per expanded key — ~170 k keys x 2 sketches ≈ 4 GB of aggregation
    buffers on a 600 k-row table, OOMing any bounded heap and scaling
    with distinct-key count (at 100 TB it would be apocalyptic). Split,
    the sketch aggregate holds |groups| buffers (6 here) and the exact
    aggregate's expanded keys carry only counters; the join back is a
    |groups|-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem")

    def within(approx, exact):
        return (
            F.abs(approx - exact) / exact <= F.lit(0.05)
        )

    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("ap"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("ao"),
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        within(F.col("ap"), F.col("exact_parts")).alias("parts_within_5pct"),
        within(F.col("ao"), F.col("exact_orders")).alias("orders_within_5pct"),
    )


# Exact percentiles (sort-based) — reference has none; harness surface.
@register(
    "a_percentiles",
    tags=("aggregate", "percentile"),
    oracle=f"""
    SELECT l_returnflag,
           {sql_r4('quantile_cont(l_extendedprice, 0.5)')}  AS p50_price,
           {sql_r4('quantile_cont(l_extendedprice, 0.9)')}  AS p90_price,
           {sql_r4('quantile_cont(l_quantity, 0.5)')}       AS p50_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == SQL
    quantile_cont). At 100 TB prefer percentile_approx (t-digest sketch,
    bounded memory) — exposed separately as rows-only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.expr("percentile(l_extendedprice, 0.5)")).alias("p50_price"),
        r4(F.expr("percentile(l_extendedprice, 0.9)")).alias("p90_price"),
        r4(F.expr("percentile(l_quantity, 0.5)")).alias("p50_qty"),
    )


@register(
    "a_percentile_approx",
    tags=("aggregate", "approx"),
    oracle=f"""
    SELECT l_returnflag,
           {sql_r4('quantile_cont(l_extendedprice, 0.5)')} AS p50_price_exact,
           true AS p50_within_5pct
    FROM lineitem
    GROUP BY 1
    """,
)
def a_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentile for the 100 TB path (bounded-memory, mergeable
    partials). Sketch outputs are engine-specific, so the hash gate runs on
    the exact percentile plus a ≤5%-relative-error assertion on the sketch
    (the oracle recomputes the exact value and asserts the bound)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
    )
    return agg.select(
        "l_returnflag",
        r4(F.col("exact")).alias("p50_price_exact"),
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= F.lit(0.05)).alias(
            "p50_within_5pct"
        ),
    )


@register(
    "a_approx_top_k",
    tags=("aggregate", "approx", "sketch"),
    oracle="""
    SELECT p_brand AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM part
    GROUP BY 1
    """,
)
def a_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (Spark ``approx_top_k``): mergeable bounded-
    memory heavy-hitters — the 100 TB replacement for a full GROUP BY when
    only the head of the distribution matters. Hash-checkable here because
    k (50) and maxItemsTracked exceed the column's cardinality (25 brands),
    where the sketch is EXACT by construction — requesting k above
    cardinality sidesteps tie-order at a top-k boundary, which the sketch
    does not define."""
    part = load_table(spark, sf_dir, "part")
    top = part.agg(F.expr("approx_top_k(p_brand, 50)").alias("tk"))
    return top.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )


@register(
    "a_hll_sketch_distinct",
    tags=("aggregate", "approx", "sketch"),
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           true AS hll_within_5pct
    FROM orders
    GROUP BY 1
    """,
)
def a_hll_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL (``hll_sketch_agg``/``hll_sketch_estimate``):
    unlike ``approx_count_distinct``, the binary sketch itself is a column —
    storable and union-mergeable across partitions/days, the building block
    of incremental distinct-count rollups at 100 TB. Oracle gate: exact
    value + ≤5% relative-error assertion (sketch estimates are
    engine-specific)."""
    orders = load_table(spark, sf_dir, "orders")
    # Separate aggregations joined back, NOT one mixed .agg(): countDistinct
    # Expands every distinct value into an aggregation key, and a
    # co-resident sketch aggregate would allocate its register buffer per
    # expanded key — the r14 OOM pathology documented on
    # a_approx_count_distinct above. Split keeps |groups| sketch buffers.
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    sk = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("est"),
    )
    agg = exact.join(F.broadcast(sk), "o_orderpriority")
    return agg.select(
        "o_orderpriority",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            / F.col("exact_customers")
            <= F.lit(0.05)
        ).alias("hll_within_5pct"),
    )


@register(
    "a_pivot_dynamic",
    tags=("aggregate", "pivot"),
    oracle=f"""
    SELECT o_orderstatus,
           {sql_r2("SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END)")} AS "1-URGENT",
           {sql_r2("SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END)")} AS "2-HIGH",
           {sql_r2("SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END)")} AS "3-MEDIUM",
           {sql_r2("SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END)")} AS "4-NOT SPECIFIED",
           {sql_r2("SUM(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END)")} AS "5-LOW"
    FROM orders
    GROUP BY 1
    """,
)
def a_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with DISCOVERED values (no explicit list): Spark runs a
    distinct-scan job to find the pivot columns, then the pivot aggregate —
    the two-job dynamic path, vs a_pivot's single-job static one. The
    oracle enumerates the fixture's priority values explicitly (dynamic
    PIVOT output schema must still be deterministic to hash)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority")
        .agg(r2(F.sum("o_totalprice")))
    )


# Moments / stats.
@register(
    "a_stats_moments",
    tags=("aggregate", "stats"),
    oracle=f"""
    WITH m AS (
      SELECT o_orderstatus,
             CAST(COUNT(o_totalprice) AS BIGINT) AS n,
             SUM(CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS HUGEINT)) AS s1,
             SUM(CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS HUGEINT)
                 * CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS HUGEINT)) AS s2
      FROM orders GROUP BY 1
    ),
    v AS (
      SELECT o_orderstatus, n, s1,
             CASE WHEN n > 1 THEN
               CAST(n * s2 - s1 * s1 AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 1e4
             END AS var_price
      FROM m
    )
    SELECT o_orderstatus,
           {sql_r4('sqrt(var_price)')} AS sd_price,
           {sql_r4('var_price')}       AS var_price,
           {sql_r4('CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e2')}
                                       AS avg_price
    FROM v
    """,
)
def a_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance/mean per order status — EXACT integer-cents
    raw moments (r12): the float Welford/var_samp surface floored at 1e-4
    on a ~2e10 variance asks for 15 stable significant digits, which
    engine partial-sum order cannot guarantee (the adversarial-skew
    sweep landed one group a half-ulp across a grid boundary — a latent
    flake at ANY distribution, fixtures included). House doctrine
    instead (the a_tost_equivalence r8 pattern): accumulate n, Σc, Σc²
    over half-up integer CENTS exactly (decimal(38,0) here, HUGEINT in
    the oracle — Σc²·n and (Σc)² stay ≤ ~1e27, far inside both), then
    one identical IEEE sequence on both engines:
    var = (n·Σc² − (Σc)²)/n/(n−1)/1e4. The numerator is exact integer
    arithmetic, so the only rounding events are the final divides —
    bit-identical cross-engine at ANY data distribution. n=1 groups
    yield NULL variance (both sides), the var_samp convention.
    Map-side combinable single pass, same shuffle shape as before."""
    orders = load_table(spark, sf_dir, "orders")
    c = F.expr(
        "CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS DECIMAL(38,0))"
    )
    m = orders.groupBy("o_orderstatus").agg(
        F.count("o_totalprice").alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c * c).alias("s2"),
    )
    var = F.expr(
        "CASE WHEN n > 1 THEN "
        "CAST(n * s2 - s1 * s1 AS DOUBLE) "
        "/ CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 1e4 END"
    )
    v = m.select("o_orderstatus", "n", "s1", var.alias("var_price"))
    return v.select(
        "o_orderstatus",
        r4(F.sqrt(F.col("var_price"))).alias("sd_price"),
        r4(F.col("var_price")).alias("var_price"),
        r4(
            F.expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e2")
        ).alias("avg_price"),
    )


# CUBE — all grouping-set combinations (reference lacks it; SURVEY §2.4).
@register(
    "a_cube",
    tags=("aggregate", "cube"),
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {sql_r2('SUM(l_quantity)')} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over 2 keys = 4 grouping sets in one pass (Expand + aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        r2(F.sum("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# ROLLUP — hierarchical totals.
@register(
    "a_rollup",
    tags=("aggregate", "rollup"),
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           o_orderpriority,
           {sql_r2('SUM(o_totalprice)')}  AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (y, o_orderpriority)
    """,
)
def a_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year → priority → grand total) in one Expand pass."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup(
        F.year("o_orderdate").alias("y"), F.col("o_orderpriority")
    ).agg(
        r2(F.sum("o_totalprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


# GROUPING SETS via the SQL API (same Catalyst plan as cube/rollup).
@register(
    "a_grouping_sets",
    tags=("aggregate", "grouping-sets"),
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {sql_r2('SUM(l_extendedprice)')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through spark.sql over a registered view."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        f"""
        SELECT l_returnflag,
               l_linestatus,
               {sql_r2('SUM(l_extendedprice)')} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# Conditional aggregation (sum/count over CASE) — A7's running totals become
# one pass with filtered aggregates.
@register(
    "a_conditional_aggregate",
    tags=("aggregate", "conditional"),
    oracle=f"""
    SELECT l_suppkey,
           {sql_r2("SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END)")} AS returned_qty,
           {sql_r2('SUM(l_quantity)')} AS total_qty,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted
    FROM lineitem
    GROUP BY 1
    """,
)
def a_conditional_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates in one scan (no per-predicate passes)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        r2(
            F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(0.0))
        ).alias("returned_qty"),
        r2(F.sum("l_quantity")).alias("total_qty"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
    )


# collect_list into nested output (S7's JSON shaping, reference main.py:395-403).
@register(
    "a_collect_list_nested",
    tags=("aggregate", "nested"),
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT)        AS n,
           array_to_string(list(CAST(o_orderkey AS VARCHAR) ORDER BY o_orderkey), ',') AS order_keys
    FROM orders
    WHERE o_custkey % 100 = 0
    GROUP BY 1
    """,
)
def a_collect_list_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested assembly: collect per-group lists (sorted for determinism),
    serialized to a string so both engines hash identically."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_custkey") % 100 == 0)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("order_keys"),
        )
    )


# Pivot (A-surface extra): wide per-status sums.
@register(
    "a_pivot",
    tags=("aggregate", "pivot"),
    oracle=f"""
    SELECT l_returnflag,
           {sql_r2("SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END)")} AS qty_O,
           {sql_r2("SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END)")} AS qty_F
    FROM lineitem
    GROUP BY 1
    """,
)
def a_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-values job)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    return wide.select(
        "l_returnflag",
        r2(F.col("O")).alias("qty_O"),
        r2(F.col("F")).alias("qty_F"),
    )
