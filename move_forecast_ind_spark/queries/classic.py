"""Classic analytic join/aggregate shapes (TPC-H adapted, round-4 widening).

The reference (satya-dataengineer/move-forecast-IND) has no multi-way join
surface at all — its only "joins" are N+1 point-query loops (reference
main.py:91-110). These queries exercise the canonical warehouse shapes the
driver's harness and a 100 TB deployment need: nation-pair volume (Q7),
market share with conditional aggregation (Q8), profit by nation/year (Q9),
max-of-aggregate selection (Q15), correlated-average quantity filter (Q17),
and a semi-join chain (Q20) — each adapted to the fixture's schema (no
partsupp table, no l_shipmode/p_container columns; filters use the
fixture's actual dimension values).

Scale posture shared by all six: dimension tables (nation, region, part,
supplier, customer at their natural 100 TB sizes) broadcast; the single
big-table scan (lineitem) joins against them map-side, so the only
shuffles are the final aggregates on low-cardinality keys. Per-query
notes on the one that differs (q17's per-part average is itself a fact
aggregate — shuffle on l_partkey, then broadcast back).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import r2, r6, sql_r2
from ..sources import load_table
from .registry import register


@register(
    "q7_volume_shipping",
    tags=("join", "aggregate", "classic"),
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {sql_r2("SUM(l_extendedprice * (1 - l_discount))")} AS revenue
    FROM lineitem, orders, customer, supplier, nation n1, nation n2
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND l_suppkey = s_suppkey
      AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 23:59:59'
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    ship year. The nation-pair OR-predicate lands AFTER the supplier and
    customer broadcast joins attach both nation names; lineitem is the
    only shuffled input and only for the final 3-key aggregate.

    100 TB: supplier/customer are broadcast-ineligible at full scale, so
    those two become shuffle joins on their keys — but nation stays
    broadcast and the nation-pair filter applies at first contact with
    each side, so the pair restriction prunes before the wide join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01 00:00:00", "1997-12-31 23:59:59")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
    )


@register(
    "q8_market_share",
    tags=("join", "aggregate", "conditional", "classic"),
    oracle=f"""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem, orders, customer, supplier, part, nation n1, nation n2, region
      WHERE l_orderkey = o_orderkey
        AND o_custkey = c_custkey
        AND l_suppkey = s_suppkey
        AND l_partkey = p_partkey
        AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 23:59:59'
    )
    SELECT o_year,
           {sql_r2("SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0e0 END) / SUM(volume)")}
             AS mkt_share
    FROM vol GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of PROMO-part revenue sold into
    ASIA-region customers, by order year — the canonical conditional
    aggregate (share = SUM(CASE)/SUM) computed in ONE pass, no self-join.

    100 TB: nation/region (bounded dims) are hint-broadcast; part and
    supplier carry NO hint — Spark auto-broadcasts them while they fit
    and falls back to shuffle joins at full scale. The customer→nation→
    region chain prunes customers to one region before the fact join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01 00:00:00", "1997-12-31 23:59:59")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("n2_key"))
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    ) / F.sum("volume")
    return vol.groupBy("o_year").agg(r2(share).alias("mkt_share"))


@register(
    "q9_product_profit",
    tags=("join", "aggregate", "classic"),
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {sql_r2("SUM(l_extendedprice * (1 - l_discount))")} AS profit
    FROM lineitem, part, supplier, nation
    WHERE l_partkey = p_partkey
      AND l_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: the fixture has no partsupp, so profit is
    gross revenue): revenue on 'red' parts by supplier nation × ship year.
    The LIKE-filtered part slice and supplier carry no broadcast hint
    (auto-broadcast while small, shuffle join at full scale); nation is
    hint-broadcast. Only the (nation, year) aggregate shuffles to a
    ~25 × 7-row result from any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("l_year"))
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "profit"
            )
        )
    )


@register(
    "q15_top_supplier",
    tags=("join", "aggregate", "subquery", "classic"),
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_r2("SUM(l_extendedprice * (1 - l_discount))")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    aggregate, then select the rows equal to the aggregate's own MAX.
    Expressed as a parallel max aggregate broadcast back over the
    per-supplier revenue table (at 100 TB the revenue aggregate shuffles
    on l_suppkey; the max is a one-row broadcast). Revenue is rounded
    half-up at 2dp on BOTH sides before the max comparison so the
    engine-order ulp can't flip which supplier wins."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1996-04-01 00:00:00")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_revenue"
        )
    )
    # Scalar-subquery max as a broadcast single-row cross join — NOT an
    # unpartitioned window (which would funnel every supplier row through
    # one task). The aggregate tree computes the max in parallel.
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("mx")
    )
    # top is the tiny side — no hint on supplier (huge at scale); Spark
    # broadcasts whichever side fits.
    return (
        top.join(s, top.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    tags=("join", "aggregate", "subquery", "classic"),
    oracle=f"""
    SELECT {sql_r2("SUM(l_extendedprice) / 7e0")} AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#1'
      AND l_quantity < 0.5e0 * (
        SELECT FLOOR(AVG(CAST(l_quantity AS DOUBLE)) * 1e6 + 0.5) / 1e6
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand's
    parts, where "small" is relative to the part's OWN average quantity —
    the classic correlated-average decorrelation. The correlated subquery
    becomes a per-part aggregate over the full lineitem joined back to
    the brand-filtered fact rows.

    100 TB: the per-part average is the only extra shuffle (keyed on
    l_partkey, map-side combinable); the brand filter broadcasts, so the
    final comparison join is map-side against the (partkey, avg) table —
    which is |part|-sized, broadcastable per brand slice."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    # The average is rounded at 1e-6 on BOTH sides before the `<`
    # comparison: engines aggregate in different orders, and an ulp of
    # difference at an exact 0.5*avg boundary would flip a row in and out
    # of the revenue sum.
    per_part = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        r6(F.avg(F.col("l_quantity").cast("double"))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("avg_pk"))
        .filter(F.col("l_quantity").cast("double") < 0.5 * F.col("avg_qty"))
        .agg(r2(F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "q20_semi_join_chain",
    tags=("join", "semi", "classic"),
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
          )
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DOUBLE)) > 40e0
      )
    """,
)
def q20_semi_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: availability derived from shipped volume
    instead of the absent partsupp): suppliers in three nations who moved
    more than 40 units of any 'small%' part in 1996. A two-level semi-join
    chain: part-name semi-join prunes lineitem, a (suppkey, partkey)
    HAVING aggregate builds the qualifying supplier set, and supplier is
    LEFT SEMI joined against it — no row multiplication anywhere.

    100 TB: the name-filtered part keys carry no hint (auto-broadcast
    while the slice fits; co-shuffled key join beyond); the aggregate
    shuffles on a compound key; the final semi join broadcasts the
    (threshold-bounded) qualifying-supplier set."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    qualifying = (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("double")).alias("qty"))
        .filter(F.col("qty") > 40.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(qualifying), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@register(
    "q11_revenue_concentration",
    tags=("join", "aggregate", "subquery", "classic"),
    oracle=f"""
    WITH rev AS (
      SELECT s_nationkey, l_suppkey,
             SUM(l_extendedprice * (1 - l_discount)) AS supp_rev
      FROM lineitem, supplier
      WHERE l_suppkey = s_suppkey
      GROUP BY 1, 2
    )
    SELECT l_suppkey AS s_suppkey,
           {sql_r2("supp_rev")} AS supplier_revenue
    FROM rev
    WHERE supp_rev > (SELECT 0.0055e0 * SUM(supp_rev) FROM rev)
    """,
)
def q11_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: revenue concentration instead of the
    absent partsupp stock value): suppliers whose revenue exceeds a fixed
    fraction of GLOBAL revenue — the group-vs-global-scalar HAVING
    pattern. The per-supplier aggregate feeds both sides; the global sum
    comes back as a one-row broadcast, so the fact table is scanned and
    shuffled exactly once.

    100 TB: aggregate on l_suppkey (map-side combinable), then a scalar
    broadcast compare — no second fact pass. The unrounded supp_rev is
    compared (both engines aggregate the same doubles); output rounding
    happens after the filter."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "supp_rev"
            )
        )
    )
    total = rev.agg((F.sum("supp_rev") * 0.0055).alias("cut"))
    return (
        rev.crossJoin(F.broadcast(total))
        .filter(F.col("supp_rev") > F.col("cut"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            r2(F.col("supp_rev")).alias("supplier_revenue"),
        )
    )


@register(
    "q12_late_shipment",
    tags=("join", "aggregate", "conditional", "classic"),
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAYS
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
           CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAYS
                         THEN 1 ELSE 0 END) AS BIGINT) AS ontime_lines
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q12_late_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no l_shipmode/commitdate columns, so
    lateness = shipped more than 60 days after the order date): per
    order-priority, late vs on-time line counts — the join + dual
    conditional-count pattern. orders⋈lineitem co-shuffles on orderkey;
    the aggregate keys on the 5-value priority."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    o = load_table(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("late_lines"),
            F.sum(F.when(~late, 1).otherwise(0)).cast("long").alias("ontime_lines"),
        )
    )
