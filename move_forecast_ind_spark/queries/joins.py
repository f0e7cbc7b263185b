"""Join operators (SURVEY.md §2.3 J1-J5 + the harness-coverage joins).

The reference realizes every join as an N+1 point-query loop (reference
main.py:91-110 called per forecast row from main.py:264,300) or a pandas
mask-scan inside a cartesian loop (precompute_percentages.py:196-207). Each
becomes one real join here. Strategy selection is left to Catalyst + AQE
except where a hint is the point (broadcast for small dims, merge for the
big-big case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r2, sql_r2
from ..operators.joins import asof_join, range_join
from ..sources import load_table
from .registry import register


# J1-analog: broadcast hash equi-join against a small dimension.
@register(
    "j1_broadcast_dim_join",
    bench=True,
    tags=("join", "broadcast", "aggregate"),
    oracle=f"""
    SELECT p.p_brand,
           {sql_r2('SUM(l.l_quantity)')}      AS sum_qty,
           COUNT(*)                           AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def j1_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): the dim ships to every executor once; the fact
    table never shuffles for the join (reference's per-row Postgres lookup,
    main.py:91-99, becomes zero round-trips). At 100 TB this holds as long
    as the dim stays under ~8 GB; beyond that Catalyst falls back to
    sort-merge automatically."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            r2(F.sum("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# Big-big sort-merge join (the shape the reference never needed but any
# 100 TB pipeline does: both sides shuffle on the key).
@register(
    "j_sortmerge_join",
    bench=True,
    tags=("join", "sortmerge", "aggregate"),
    oracle=f"""
    SELECT o.o_orderpriority,
           {sql_r2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS revenue,
           COUNT(*) AS n_lines
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY 1
    """,
)
def j_sortmerge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on orderkey with a merge hint: both sides shuffle
    once on the join key; the filter on orders prunes before the shuffle."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.hint("merge")
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# J3-analog: left outer join + coalesce fallback (the reference's
# day-grain → default chain, main.py:97-118, as one expression).
@register(
    "j3_left_outer_coalesce",
    tags=("join", "outer", "coalesce"),
    oracle=f"""
    SELECT c.c_custkey,
           c.c_mktsegment,
           {sql_r2('COALESCE(o.sum_price, 0e0)')} AS lifetime_value,
           CAST(COALESCE(o.n, 0) AS BIGINT)       AS n_orders
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, SUM(o_totalprice) AS sum_price, COUNT(*) AS n
      FROM orders GROUP BY 1
    ) o ON o.o_custkey = c.c_custkey
    """,
)
def j3_left_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + COALESCE default — the whole 22-line fallback control
    flow of the reference (main.py:97-118) is this one expression."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("sum_price"), F.count(F.lit(1)).alias("n")
    )
    return cust.join(agg, cust.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        r2(F.coalesce(F.col("sum_price"), F.lit(0.0))).alias("lifetime_value"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders"),
    )


# J5-analog: semi join (registry membership, reference main.py:200-209).
@register(
    "j5_semi_join",
    tags=("join", "semi"),
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def j5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi: EXISTS without duplicating or widening the left side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "j_anti_join",
    tags=("join", "anti"),
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def j_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: NOT EXISTS (customers with no large order)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "j_full_outer_join",
    tags=("join", "outer"),
    oracle=f"""
    SELECT COALESCE(s.s_nationkey, c.c_nationkey)   AS nationkey,
           CAST(COALESCE(s.n_suppliers, 0) AS BIGINT) AS n_suppliers,
           CAST(COALESCE(c.n_customers, 0) AS BIGINT) AS n_customers
    FROM (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
    FULL OUTER JOIN
         (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
      ON s.s_nationkey = c.c_nationkey
    """,
)
def j_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer of two aggregates with COALESCE'd keys and defaults."""
    sup = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    cus = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return sup.join(cus, sup.s_nationkey == cus.c_nationkey, "full_outer").select(
        F.coalesce(F.col("s_nationkey"), F.col("c_nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).cast("long").alias("n_suppliers"),
        F.coalesce(F.col("n_customers"), F.lit(0)).cast("long").alias("n_customers"),
    )


@register(
    "j_cross_join",
    tags=("join", "cross"),
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    ORDER BY 1, 2
    """,
)
def j_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian of two tiny inputs (the reference's
    branch × move_type × month × day driver loop, precompute_percentages.py:178-181,
    is exactly this shape — done declaratively)."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status).orderBy("r_name", "o_orderstatus")


# Multi-way join: fact ⋈ dim ⋈ dim ⋈ dim chain (TPC-H Q5 shape).
@register(
    "j_multiway_star_join",
    bench=True,
    tags=("join", "star", "aggregate"),
    oracle=f"""
    SELECT n.n_name,
           r.r_name                                           AS region_name,
           {sql_r2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation   n ON s.s_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def j_multiway_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: every dimension broadcasts, so the fact table streams
    through three broadcast-hash joins in a single stage — no fact shuffle
    until the final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("n_name"), F.col("r_name").alias("region_name"))
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
    )


# Range join: equi key + date-band conjunct.
@register(
    "j_range_join",
    tags=("join", "range"),
    oracle="""
    SELECT o.o_orderkey,
           CAST(COUNT(l.l_linenumber) AS BIGINT) AS n_shipped_within_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <  o.o_orderdate + INTERVAL 30 DAY
    WHERE o.o_orderkey % 10 = 0
    GROUP BY 1
    """,
)
def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + band conjunct: Catalyst keys the hash join on l_orderkey and
    evaluates the band as join residual — no nested-loop blowup."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    li = load_table(spark, sf_dir, "lineitem")
    joined = range_join(
        orders,
        li,
        equi=[],
        condition=(li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < F.timestamp_add("DAY", F.lit(30), orders.o_orderdate)),
        how="left",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("l_linenumber").alias("n_shipped_within_30d")
    )


# As-of join: nearest-earlier event per user (SURVEY §2.3 coverage list).
@register(
    "j_asof_join",
    bench=True,
    tags=("join", "asof"),
    oracle="""
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts)  AS purchase_us,
           epoch_us(c.ts)  AS last_click_us,
           c.value         AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union+window pattern (operators.joins.asof_join):
    one shuffle on user_id, no Python, right side unbounded. Oracle is
    DuckDB's native ASOF JOIN — same tie-matching contract."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("ts_asof").alias("last_click_us"),
        F.col("value_asof").alias("last_click_value"),
    )


# J4: the percentage-ratio join lives in queries/pipeline.py (pct_etl).


@register(
    "j_asof_join_forward",
    tags=("join", "asof"),
    oracle="""
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts)  AS purchase_us,
           epoch_us(c.ts)  AS next_click_us,
           c.value         AS next_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def j_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (nearest right_ts >= left_ts): what did the
    user click next after each purchase — the lead-time direction
    pandas calls merge_asof(direction='forward') and DuckDB expresses as
    ASOF JOIN with a <= condition. Same union+window topology as the
    backward join (operators.joins.asof_join(direction='forward')): the
    carry-last traversal just walks a descending timeline, so both
    directions share one shuffle shape and one code path."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros("ts_asof").alias("next_click_us"),
        F.col("value_asof").alias("next_click_value"),
    )


# Banded inequality join expressed as a bucketed equi-join: the classic
# rewrite that turns |a - b| <= delta (a cross product to a naive planner)
# into one hash join on bucket keys with a 3-way expansion of ONE side.
_BAND_CENTS = 2500  # |c_acctbal - s_acctbal| <= $25.00
_BAND_SHIFT = 100_000  # lifts balances (min ~ -99,985 cents) above zero


@register(
    "j_value_band_join",
    tags=("join", "band"),
    oracle=f"""
    SELECT c.c_custkey, s.s_suppkey,
           CAST(FLOOR(c.c_acctbal * 1e2 + 0.5)
                - FLOOR(s.s_acctbal * 1e2 + 0.5) AS BIGINT) AS diff_cents
    FROM customer c JOIN supplier s
      ON abs(CAST(FLOOR(c.c_acctbal * 1e2 + 0.5) AS BIGINT)
             - CAST(FLOOR(s.s_acctbal * 1e2 + 0.5) AS BIGINT))
         <= {_BAND_CENTS}
    """,
)
def j_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric band join |c_acctbal - s_acctbal| <= $25.00 via the bucketed
    equi-join rewrite: quantize both sides to exact integer cents, shift
    non-negative (Spark's div truncates toward zero, DuckDB's // floors —
    the shift makes the distinction moot AND is required for bucket
    correctness on negative balances), bucket at the band width, explode
    the SMALL side to its 3 admissible buckets {b-1, b, b+1}, hash-join
    on the bucket key, and apply the exact band predicate as a post-join
    filter. A pair can match in at most one exploded bucket (the
    customer's bucket is fixed; the supplier's 3 exploded keys are
    distinct), so no dedup pass is needed. The oracle states the naive
    inequality join; Spark runs the rewrite with NO pinned broadcast
    hint: size statistics pick BroadcastHashJoin while the exploded
    supplier side fits the threshold (plan-asserted in tests at test SF)
    and degrade to a shuffled hash join on the bucket key when both
    sides are huge — a hard-coded F.broadcast would pin the small-side
    plan past broadcast scale and OOM (round-7 advice). At 100 TB this
    is THE pattern for similarity-band joins on one dimension: candidate
    volume is |pairs within 3 buckets|, never |A|x|B|."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c_cents = (
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long")
    )
    s_cents = (
        F.floor(F.col("s_acctbal") * F.lit(100.0) + F.lit(0.5)).cast("long")
    )
    c = cust.select(
        "c_custkey",
        c_cents.alias("cc"),
        ((c_cents + _BAND_SHIFT) / _BAND_CENTS).cast("long").alias("b"),
    )
    s = supp.select(
        "s_suppkey",
        s_cents.alias("sc"),
        F.explode(
            F.array(
                *[
                    ((s_cents + _BAND_SHIFT) / _BAND_CENTS).cast("long") + d
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("b"),
    )
    return (
        c.join(s, "b")
        .filter(F.abs(F.col("cc") - F.col("sc")) <= _BAND_CENTS)
        .select(
            "c_custkey",
            "s_suppkey",
            (F.col("cc") - F.col("sc")).cast("long").alias("diff_cents"),
        )
    )


# --- as-of join with tolerance -------------------------------------------------

_ASOF_TOL_US = 3600 * 1_000_000  # 1 h match window


@register(
    "j_asof_tolerance_join",
    tags=("join", "timeseries"),
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_us
      FROM events
    )
    SELECT event_id AS purchase_id, user_id,
           CAST(last_click_us IS NOT NULL
                AND us - last_click_us <= {_ASOF_TOL_US} AS BOOLEAN)
             AS matched,
           CASE WHEN last_click_us IS NOT NULL
                     AND us - last_click_us <= {_ASOF_TOL_US}
                THEN us - last_click_us END AS gap_us
    FROM s WHERE event_type = 'purchase'
    """,
)
def j_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas merge_asof's ``tolerance=``
    member, completing the backward/forward pair): every purchase
    matches its user's most recent prior click only if the gap is
    within 1 hour — stale matches become non-matches instead of wrong
    ones, the semantics ad-attribution and sensor fusion actually need.
    Expressed as ONE running-max window over the unified per-user event
    stream (no join at all: the as-of candidate is
    max(click ts) over preceding rows under the total (ts, event_id)
    order), then a tolerance predicate. All integer microseconds.
    At 100 TB this is the classic sessionized-stream shape — one
    shuffle on user_id, sorted within partition, zero join exchanges;
    the join-based formulation would shuffle both sides AND range-scan;
    the window form is strictly better and exactly how the streaming
    tier's stateful gap operator already thinks."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.max(
            F.when(
                F.col("event_type") == "click", F.unix_micros("ts")
            )
        )
        .over(w)
        .alias("last_click_us"),
    )
    ok = F.col("last_click_us").isNotNull() & (
        F.col("us") - F.col("last_click_us") <= _ASOF_TOL_US
    )
    return s.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        ok.alias("matched"),
        F.when(ok, F.col("us") - F.col("last_click_us")).alias("gap_us"),
    )
