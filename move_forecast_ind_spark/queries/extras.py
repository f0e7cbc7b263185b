"""Extended operator coverage: subqueries, argmin/argmax aggregates, maps,
lateral views, additional window ranks, null-safe joins, date truncation,
bitwise ops, and more TPC-H-shaped classics — rounding out SURVEY.md §2's
"not present in reference, exposed for the harness" lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import r2, r4, sql_r2, sql_r4, sql_r6
from ..sources import load_table, register_views
from .registry import register


# --- TPC-H classics -------------------------------------------------------
@register(
    "q3_shipping_priority",
    bench=True,
    tags=("join", "aggregate", "topk", "classic"),
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_r2('SUM(l.l_extendedprice * (1 - l.l_discount))')} AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two joins → aggregate →
    top-k. customer broadcasts; orders⋈lineitem co-shuffles on orderkey."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q6_forecast_revenue_change",
    tags=("scan", "aggregate", "classic"),
    oracle=f"""
    SELECT {sql_r2('SUM(l_extendedprice * l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate reaches
    the parquet reader (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- subqueries -----------------------------------------------------------
@register(
    "sub_scalar_subquery",
    tags=("subquery", "filter"),
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT {sql_r4('AVG(o_totalprice)')} * 1.5e0 FROM orders)
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def sub_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (threshold = 1.5× global mean) via the SQL
    API — Catalyst evaluates the subquery once and folds it into the scan
    filter."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT {sql_r4('AVG(o_totalprice)')} * 1.5e0 FROM orders)
        ORDER BY o_totalprice DESC, o_orderkey
        """
    )


@register(
    "sub_correlated_exists",
    tags=("subquery", "semi"),
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
    )
    ORDER BY s_suppkey
    """,
)
def sub_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst rewrites to a left-semi join (same plan
    as j5_semi_join; exposed through the SQL surface)."""
    register_views(spark, sf_dir, ["supplier", "lineitem"])
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
        )
        ORDER BY s_suppkey
        """
    )


@register(
    "sub_in_subquery",
    tags=("subquery", "semi"),
    oracle="""
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
                        AND l_quantity >= 49)
    ORDER BY p_partkey
    """,
)
def sub_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) — also a semi join after rewrite."""
    register_views(spark, sf_dir, ["part", "lineitem"])
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
                            AND l_quantity >= 49)
        ORDER BY p_partkey
        """
    )


# --- argmin/argmax, first/last -------------------------------------------
@register(
    "a_min_by_max_by",
    tags=("aggregate", "argmax"),
    oracle="""
    SELECT o_custkey,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           CAST(COUNT(*) AS BIGINT)          AS n
    FROM orders
    WHERE o_custkey % 50 = 0
    GROUP BY 1
    """,
)
def a_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) — single-pass, no window needed.
    o_totalprice values are distinct in practice; ties would make argmax
    nondeterministic in both engines alike."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    return orders.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.count(F.lit(1)).alias("n"),
    )


# --- maps / arrays / lateral ----------------------------------------------
@register(
    "f_map_functions",
    tags=("scalar", "map"),
    oracle="""
    SELECT p_partkey,
           CAST(m['size'][1] AS INT)  AS size_val,
           CAST(m['price'][1] AS INT) AS price_int,
           len(map_keys(m))           AS n_keys
    FROM (
      SELECT p_partkey,
             MAP {'size': p_size, 'price': CAST(p_retailprice AS INT)} AS m
      FROM part
      WHERE p_partkey % 20 = 0
    )
    """,
)
def f_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + key access + map_keys (SURVEY §2.8 harness list)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 20 == 0)
    m = F.create_map(
        F.lit("size"), F.col("p_size"),
        F.lit("price"), F.col("p_retailprice").cast("int"),
    )
    return part.select(
        "p_partkey",
        m.getItem("size").alias("size_val"),
        m.getItem("price").alias("price_int"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "f_posexplode_lateral",
    tags=("scalar", "lateral", "array"),
    oracle="""
    SELECT doc_id, t.i - 1 AS pos, t.tok
    FROM (SELECT doc_id, string_split(trim(text), ' ') AS words
          FROM documents WHERE doc_id < 10),
         LATERAL (SELECT unnest(generate_series(1, len(words))) AS i,
                         unnest(words) AS tok) t
    WHERE t.tok = words[t.i]
    """,
)
def f_posexplode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (lateral view with ordinality)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    from ..functions.text import tokens

    return docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


@register(
    "f_array_functions",
    tags=("scalar", "array"),
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id,
           len(words)                          AS n,
           words[1]                            AS first_tok,
           words[-1]                           AS last_tok,
           array_to_string(list_sort(list_distinct(words[1:5])), '|') AS sorted_head,
           CASE WHEN list_contains(words, 'data') THEN 1 ELSE 0 END   AS has_data
    FROM t
    """,
)
def f_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array toolkit: size, element_at (±), slice+sort+distinct, contains."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    from ..functions.text import tokens

    toked = docs.select("doc_id", tokens(F.col("text")).alias("words"))
    return toked.select(
        "doc_id",
        F.size("words").cast("long").alias("n"),
        F.element_at("words", 1).alias("first_tok"),
        F.element_at("words", -1).alias("last_tok"),
        F.array_join(
            F.array_sort(F.array_distinct(F.slice("words", 1, 5))), "|"
        ).alias("sorted_head"),
        F.when(F.array_contains("words", "data"), 1).otherwise(0).alias("has_data"),
    )


# --- more window ranks -----------------------------------------------------
@register(
    "w_percent_rank_cume",
    tags=("window", "rank"),
    oracle=f"""
    SELECT s_suppkey,
           s_nationkey,
           {sql_r6('PERCENT_RANK() OVER w')} AS pr,
           {sql_r6('CUME_DIST() OVER w')}    AS cd
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def w_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist within nation."""
    from ..functions.rounding import r6

    sup = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        r6(F.percent_rank().over(w)).alias("pr"),
        r6(F.cume_dist().over(w)).alias("cd"),
    )


# --- null-safe equality ----------------------------------------------------
@register(
    "j_null_safe_join",
    tags=("join", "null"),
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS k
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    b AS (
      SELECT DISTINCT CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS k
      FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT a.o_orderkey, a.k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.o_orderkey
    """,
)
def j_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<=> (null-safe equality) join: NULL keys match NULL keys — standard
    equality would silently drop them."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    k = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    a = orders.select("o_orderkey", k.alias("k")).alias("a")
    b = orders.select(k.alias("k")).distinct().alias("b")
    return (
        a.join(b, F.col("a.k").eqNullSafe(F.col("b.k")))
        .select(F.col("a.o_orderkey").alias("o_orderkey"), F.col("a.k").alias("k"))
        .orderBy("o_orderkey")
    )


# --- date_trunc / bitwise --------------------------------------------------
@register(
    "f_date_trunc",
    tags=("scalar", "date"),
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE)   AS month_start,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
           {sql_r2('SUM(o_totalprice)')}                    AS sum_price,
           COUNT(*)                                         AS n
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def f_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc month/quarter rollup — calendar bucketing without a join
    to a date dimension."""
    orders = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
            F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter_start"),
        )
        .agg(
            r2(F.sum("o_totalprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("month_start")
    )


@register(
    "f_bitwise_ops",
    tags=("scalar", "bitwise"),
    oracle="""
    SELECT e.event_id,
           e.event_id & 255                   AS low_byte,
           e.event_id | 4096                  AS with_flag,
           xor(e.event_id, e.user_id)         AS xored,
           bit_count(e.event_id)              AS popcount
    FROM events e
    WHERE e.event_id % 100 = 0
    """,
)
def f_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and/or/xor/popcount (the SimHash toolkit, exposed directly)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("xored"),
        F.bit_count("event_id").cast("int").alias("popcount"),
    )


# --- sampling --------------------------------------------------------------
@register(
    "s_deterministic_sample",
    tags=("scan", "sample"),
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 1, 1)
          IN ('0', '1')
    """,
)
def s_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/8 sample via an md5 hash gate on the row key — the
    reproducible-at-scale alternative to engine RNG sampling: the same rows
    are selected regardless of engine, partitioning, or cluster size (both
    engines compute identical md5 hex), so downstream experiments are
    replayable. (Spark's seeded ``df.sample`` exists but its sequence is
    engine- and partitioning-specific, which breaks the cross-engine hash
    gate and re-runs after repartitioning.)"""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return li.filter(
        F.substring(F.md5(key), 1, 1).isin("0", "1")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "f_unpivot_stack",
    tags=("scalar", "unpivot"),
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, value
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      FROM lineitem WHERE l_orderkey % 500 = 0
    )
    UNPIVOT (value FOR metric IN (l_quantity AS 'qty', l_extendedprice AS 'price',
                                  l_discount AS 'disc'))
    """,
)
def f_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long melt) via stack()."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 500 == 0)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'qty', l_quantity, 'price', l_extendedprice, 'disc', l_discount)"
        " AS (metric, value)",
    )


# --- more classics: distribution, not-in, having, OR-of-ANDs --------------
@register(
    "q13_customer_distribution",
    tags=("join", "aggregate", "classic"),
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    GROUP BY 1
    ORDER BY n_customers DESC, n_orders DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a join-residual predicate, then a
    distribution (count-of-counts) aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


@register(
    "q16_not_in_subquery",
    tags=("subquery", "anti", "classic"),
    oracle="""
    SELECT p_brand, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_size IN (5, 10, 15, 20)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1
    ORDER BY supplier_cnt DESC, p_brand
    """,
)
def q16_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (null-aware anti join) + IN list +
    distinct aggregate. The supplier subquery is non-empty-null-free so the
    null-aware semantics reduce to a plain anti join."""
    register_views(spark, sf_dir, ["lineitem", "part", "supplier"])
    return spark.sql(
        """
        SELECT p_brand, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_size IN (5, 10, 15, 20)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY 1
        ORDER BY supplier_cnt DESC, p_brand
        """
    )


@register(
    "q18_having_in",
    tags=("subquery", "aggregate", "classic"),
    oracle=f"""
    SELECT c.c_custkey,
           o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           {sql_r2('SUM(l.l_quantity)')} AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150
    )
    GROUP BY 1, 2, 3
    ORDER BY total_qty DESC, o.o_orderkey
    """,
)
def q18_having_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a HAVING-filtered aggregate subquery (large
    orders), then a 3-way join re-aggregation."""
    register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(
        f"""
        SELECT c.c_custkey,
               o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS order_date,
               {sql_r2('SUM(l.l_quantity)')} AS total_qty
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150
        )
        GROUP BY 1, 2, 3
        ORDER BY total_qty DESC, o.o_orderkey
        """
    )


@register(
    "q19_or_of_ands",
    tags=("filter", "join", "classic"),
    oracle=f"""
    SELECT {sql_r2('SUM(l_extendedprice * (1 - l_discount))')} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_or_of_ands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive band predicates across
    the join - Catalyst pushes the common conjuncts and keeps the OR as a
    join residual."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return j.filter(clause).agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# --- Python UDTF (SURVEY §2.11: table-function surface) -------------------
@register(
    "f_python_udtf_expand",
    tags=("udtf",),
    oracle="""
    WITH n_of AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_totalprice < 200000 THEN 2 ELSE 4 END AS n
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    expanded AS (
      SELECT o_orderkey, o_totalprice, n,
             unnest(generate_series(1, n)) AS i
      FROM n_of
    )
    SELECT o_orderkey AS orderkey,
           CAST(i AS INT) AS installment,
           FLOOR((o_totalprice / n) * 1e2 + 0.5) / 1e2 AS amount
    FROM expanded
    """,
)
def f_python_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): expand each order into per-installment rows
    (a table function computing a variable-length output per input row),
    invoked via LATERAL in SQL. Arrow-evaluated. The UDTF machinery isn't
    ANSI-SQL, but its arithmetic is portable (floor-based rounding, see
    functions.rounding), so the oracle re-derives the identical expansion
    with generate_series — a full value-hash check of the UDTF output."""
    import math

    from pyspark.sql.functions import udtf

    @udtf(returnType="orderkey bigint, installment int, amount double")
    class SplitIntoInstallments:
        def eval(self, o_orderkey: int, o_totalprice: float):
            n = 2 if o_totalprice < 200000 else 4
            # portable half-up rounding (matches FLOOR(x*1e2+0.5)/1e2 in
            # both engines; Python round() is half-even and diverges)
            per = math.floor((o_totalprice / n) * 100.0 + 0.5) / 100.0
            for i in range(n):
                yield o_orderkey, i + 1, per

    spark.udtf.register("split_installments", SplitIntoInstallments)
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT s.orderkey, s.installment, s.amount
        FROM orders o,
             LATERAL split_installments(o.o_orderkey, o.o_totalprice) s
        WHERE o.o_orderkey % 100 = 0
        """
    )


@register(
    "q2_correlated_scalar_max",
    tags=("subquery", "classic"),
    oracle="""
    SELECT l.l_partkey, l.l_orderkey, l.l_linenumber, l.l_quantity
    FROM lineitem l
    WHERE l.l_partkey % 40 = 0
      AND l.l_quantity = (
        SELECT MAX(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    ORDER BY l.l_partkey, l.l_orderkey, l.l_linenumber
    """,
)
def q2_correlated_scalar_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar aggregate subquery (rows equal to
    their group's max) - Catalyst de-correlates it into an aggregate +
    self-join."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l.l_partkey, l.l_orderkey, l.l_linenumber, l.l_quantity
        FROM lineitem l
        WHERE l.l_partkey % 40 = 0
          AND l.l_quantity = (
            SELECT MAX(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
          )
        ORDER BY l.l_partkey, l.l_orderkey, l.l_linenumber
        """
    )


_Q4_SQL = """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY 1
    ORDER BY 1
    """


@register("q4_order_priority_exists", tags=("subquery", "exists", "classic"), oracle=_Q4_SQL)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: quarterly order-priority counts gated on a
    correlated EXISTS against lineitem (returned-flag standing in for the
    late-commit predicate) — Catalyst plans the EXISTS as one left-semi
    join on l_orderkey."""
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_Q4_SQL)


_Q14_SQL = """
    SELECT FLOOR((1e2 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0e0 END)
                  / SUM(l_extendedprice * (1 - l_discount))) * 1e4 + 0.5) / 1e4
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """


@register("q14_promo_revenue", tags=("join", "conditional", "classic"), oracle=_Q14_SQL)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a fact-dim join in
    a one-month window — the part side broadcasts, the CASE folds into the
    partial aggregate (no second scan for the numerator)."""
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_Q14_SQL)


_Q21_SQL = """
    SELECT s.s_suppkey,
           s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_returnflag = 'R'
      AND o.o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY 1, 2
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 100
    """


@register("q21_exists_chain", tags=("subquery", "exists", "classic"), oracle=_Q21_SQL)
def q21_exists_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS self-joins on
    lineitem — suppliers who were the SOLE returned-flag supplier in
    multi-supplier finished orders. (The fixture lacks receipt/commit
    dates, so l_returnflag='R' stands in for the late-delivery flag; the
    decorrelation shape — two semi/anti self-joins on l_orderkey — is
    identical to the classic query.) LIMIT is deterministic: (numwait DESC,
    s_suppkey) is a total order."""
    register_views(spark, sf_dir, ["supplier", "lineitem", "orders"])
    return spark.sql(_Q21_SQL)


@register(
    "q22_anti_with_scalar",
    tags=("subquery", "anti", "classic"),
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_r4('AVG(c_acctbal)')} AS v FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT)      AS n_customers,
           {sql_r2('SUM(c.c_acctbal)')}  AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.v
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY 1
    ORDER BY 1
    """,
)
def q22_anti_with_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (above-average balance) +
    NOT EXISTS anti join (no recent orders), grouped."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        f"""
        WITH avg_bal AS (
          SELECT {sql_r4('AVG(c_acctbal)')} AS v FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment,
               COUNT(*)                      AS n_customers,
               {sql_r2('SUM(c.c_acctbal)')}  AS total_bal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.v
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY 1
        ORDER BY 1
        """
    )


@register(
    "f_sql_udf",
    tags=("function", "sql-surface"),
    oracle="""
    SELECT CASE WHEN l_extendedprice < 20000 THEN 'low'
                WHEN l_extendedprice < 60000 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS revenue
    FROM lineitem
    GROUP BY 1
    """,
)
def f_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 `CREATE TEMPORARY FUNCTION …
    RETURN expr`): the band classification runs through a catalog-
    registered SQL UDF, not an inline expression — the reusable-logic
    surface DuckDB calls a MACRO and warehouses call SQL UDFs. Because
    the body is pure SQL, Catalyst inlines it into the plan (no Python,
    no serialization — unlike external UDFs, these cost nothing at
    100 TB). The oracle states the same logic inline; hash equality
    proves the UDF path computes identically."""
    from ..sources import register_views

    register_views(spark, sf_dir, names=("lineitem",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 20000 THEN 'low'
                    WHEN p < 60000 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT price_band(l_extendedprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(SUM(l_extendedprice) * 1e2 + 0.5) / 1e2 AS revenue
        FROM lineitem
        GROUP BY 1
        """
    )


_DERBY_QUERY_DB: str | None = None


def _derby_query_db() -> str:
    """Per-process singleton Derby database path for `s_jdbc_roundtrip`
    (removed at interpreter exit): one temp directory per sweep, not one
    per invocation."""
    global _DERBY_QUERY_DB
    if _DERBY_QUERY_DB is None:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="derby_q_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _DERBY_QUERY_DB = root + "/db"
    return _DERBY_QUERY_DB


@register(
    "s_jdbc_roundtrip",
    tags=("source", "jdbc"),
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation
    WHERE n_regionkey <= 2
    GROUP BY 1
    """,
)
def s_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED JDBC connectivity (closes the long-standing S1 env gap):
    the nation table is written to an embedded Derby database over JDBC
    (Derby ships inside every Spark distribution as the metastore
    backend — a real JDBC driver + database, no external install), read
    back through `spark.read.jdbc`, filtered WITH predicate pushdown
    into the database scan (tests/test_formats.py asserts the starred
    PushedFilters markers), and aggregated. Hash equality against the
    parquet-side oracle proves the full JDBC write→store→scan round trip
    preserves the data. Embedded Derby is driver-JVM-local — correct for
    local[N]; a cluster points the identical calls at a networked URL
    (the reference's Postgres, reference main.py:56-66). The Derby
    database directory is a per-process singleton (created once, removed
    at interpreter exit) so repeated registry/bench/correctness sweeps
    re-use one database — the write is mode=overwrite, making the whole
    query idempotent — instead of leaking a temp directory per call."""
    from ..sources.formats import derby_url, jdbc_table, jdbc_write

    url = derby_url(_derby_query_db())
    nation = load_table(spark, sf_dir, "nation")
    jdbc_write(nation, url, "nation")
    back = jdbc_table(spark, url, "nation")
    return (
        back.filter(F.col("n_regionkey") <= 2)
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.min("n_name").alias("first_name"),
        )
    )


@register(
    "s_bitmap_index",
    tags=("source", "index", "bitmap"),
    oracle="""
    WITH b AS (
      SELECT DISTINCT event_type,
             user_id // 63 AS word_idx,
             CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT) AS bit
      FROM events WHERE event_type IN ('purchase', 'click', 'signup')
    ),
    words AS (
      SELECT event_type, word_idx, bit_or(bit) AS w
      FROM b GROUP BY 1, 2
    ),
    pc AS (
      SELECT p.word_idx,
             p.w AS wp, c.w AS wc,
             p.w & c.w AS w_and,
             p.w | c.w AS w_or
      FROM (SELECT * FROM words WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM words WHERE event_type = 'click') c
        USING (word_idx)
    )
    SELECT CAST(SUM(bit_count(w_and)) AS BIGINT) AS n_both,
           CAST(SUM(bit_count(w_or)) AS BIGINT) AS n_either_on_shared_words,
           CAST(COUNT(*) AS BIGINT) AS n_shared_words
    FROM pc
    """,
)
def s_bitmap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index set algebra: per event type, the audience becomes a
    packed bitmap (user_id → 63-bit words via a bit_or aggregate — the
    warehouse bitmap-index layout, same packing as dedup_bloom_prefilter
    but EXACT, position = identity); intersection and union are then
    pure bitwise AND/OR + popcount over co-indexed words, no join on
    users at all. The index answers audience-overlap queries at
    popcount speed — the structural counterpart of
    events_audience_overlap (row join) and a_kmv_distinct (sketch).
    Scale: bitmap size ∝ id-space/8 bytes per type; words shard by
    word_idx, so the AND/OR is an equi-join on a dense small key."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.filter(F.col("event_type").isin("purchase", "click", "signup"))
        .select(
            "event_type",
            (F.col("user_id") / 63).cast("long").alias("word_idx"),
            # 63-bit words: bit 63 is the BIGINT sign bit and DuckDB
            # (correctly) rejects 1<<63 as signed overflow — capping the
            # shift at 62 keeps the packing portable across engines
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"
            ).alias("bit"),
        )
        .distinct()
    )
    words = b.groupBy("event_type", "word_idx").agg(
        F.bit_or("bit").alias("w")
    )
    p = words.filter(F.col("event_type") == "purchase").select(
        "word_idx", F.col("w").alias("wp")
    )
    c = words.filter(F.col("event_type") == "click").select(
        "word_idx", F.col("w").alias("wc")
    )
    pc = p.join(c, "word_idx").select(
        F.col("wp").bitwiseAND(F.col("wc")).alias("w_and"),
        F.col("wp").bitwiseOR(F.col("wc")).alias("w_or"),
    )
    return pc.agg(
        F.sum(F.bit_count("w_and")).cast("long").alias("n_both"),
        F.sum(F.bit_count("w_or")).cast("long").alias("n_either_on_shared_words"),
        F.count(F.lit(1)).cast("long").alias("n_shared_words"),
    )


@register(
    "f_parse_url",
    tags=("scalar", "url"),
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://www.example.com/' || lang
               || '/article/' || CAST(doc_id % 83 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                    THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                    ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN '#sec2' ELSE '' END AS url
      FROM documents
    )
    SELECT doc_id,
           'www.example.com' AS host,
           '/' || lang || '/article/' || CAST(doc_id % 83 AS VARCHAR) AS path,
           CASE WHEN doc_id % 3 = 0
                THEN 'utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) END
             AS query,
           CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR) END
             AS ref_param,
           CASE WHEN doc_id % 4 = 0 THEN 'sec2' END AS fragment
    FROM urls JOIN documents USING (doc_id)
    """,
)
def f_parse_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction through Spark's built-in `parse_url`
    (HOST / PATH / QUERY / QUERY:key / REF) over the same synthesized
    messy URLs corpus_url_canonical_dedup canonicalizes. The oracle
    states each component closed-form from the synthesis rule, so hash
    equality proves parse_url's actual parse agrees with the URL
    grammar — the structured sibling of the regex canonicalizer. Pure
    map stage, codegen'd, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www.example.com/"),
        F.col("lang"),
        F.lit("/article/"),
        (F.col("doc_id") % 83).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="), F.col("doc_id").cast("string")
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("ref")).alias(
            "ref_param"
        ),
        F.parse_url(F.col("url"), F.lit("REF")).alias("fragment"),
    )
