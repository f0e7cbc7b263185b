"""Scans, projections, filters, and scalar functions (SURVEY.md §2.1/2.2/2.8).

The reference performs these as SQL strings shipped to Postgres plus pandas
boolean masks (reference main.py:56-66,234-236; precompute_percentages.py:96-126).
Here each is a declarative DataFrame plan so Catalyst pushes the predicate and
the column list into the parquet scan — verify with .explain("formatted"):
PushedFilters + a ReadSchema containing only the projected columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import r2, r4, sql_r2, sql_r4
from ..sources import load_table
from .registry import register


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (A1/A2 analog — groupBy + 8 aggs).
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    bench=True,
    tags=("aggregate", "scan", "flagship"),
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_r2('SUM(l_quantity)')}                                        AS sum_qty,
      {sql_r2('SUM(l_extendedprice)')}                                   AS sum_base_price,
      {sql_r2('SUM(l_extendedprice * (1 - l_discount))')}                AS sum_disc_price,
      {sql_r2('SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))')}  AS sum_charge,
      {sql_r4('AVG(l_quantity)')}                                        AS avg_qty,
      {sql_r4('AVG(l_extendedprice)')}                                   AS avg_price,
      {sql_r4('AVG(l_discount)')}                                        AS avg_disc,
      COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-filter-aggregate in one stage pair: partial (map-side) hash
    aggregation then final after one shuffle on the 2-key group. At 100 TB the
    group cardinality is 6, so the shuffle moves only partial aggregates —
    bytes shuffled ∝ tasks, not rows."""
    li = load_table(spark, sf_dir, "lineitem")
    # aggregate expressions as the SAME sql_r2/sql_r4 strings the oracle
    # interpolates (construction-cost doctrine — one parse per aggregate;
    # both dialects accept them, so Spark and DuckDB literally share the
    # rounding text)
    return (
        li.filter("l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"{sql_r2('SUM(l_quantity)')} AS sum_qty"),
            F.expr(f"{sql_r2('SUM(l_extendedprice)')} AS sum_base_price"),
            F.expr(
                f"{sql_r2('SUM(l_extendedprice * (1 - l_discount))')}"
                " AS sum_disc_price"
            ),
            F.expr(
                f"""{sql_r2(
                    'SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))'
                )} AS sum_charge"""
            ),
            F.expr(f"{sql_r4('AVG(l_quantity)')} AS avg_qty"),
            F.expr(f"{sql_r4('AVG(l_extendedprice)')} AS avg_price"),
            F.expr(f"{sql_r4('AVG(l_discount)')} AS avg_disc"),
            F.expr("count(1) AS count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# S2: bulk scan with a year-range predicate (reference precompute_percentages.py:96-103
# `EXTRACT(YEAR FROM "Date") BETWEEN 2019 AND 2024`).
# --------------------------------------------------------------------------
@register(
    "s2_scan_year_range",
    tags=("scan", "filter", "date"),
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)          AS order_date,
           CAST(year(o_orderdate) AS INT)     AS order_year
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1996 AND 1998
    """,
)
def s2_scan_year_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-range scan. In a date-partitioned lake this prunes whole
    partitions; on flat parquet it still prunes row groups via min/max stats
    once expressed as a shipdate range — here we keep the year() form the
    reference uses and let Catalyst evaluate it post-scan."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.year("o_orderdate").between(1996, 1998)).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.year("o_orderdate").alias("order_year"),
    )


# --------------------------------------------------------------------------
# S3/P1/P2: projection with rename (reference main.py:235, pretrain_models.py:19).
# --------------------------------------------------------------------------
@register(
    "p1_projection_rename",
    tags=("scan", "projection"),
    oracle="""
    SELECT l_orderkey   AS okey,
           l_linenumber AS line_no,
           l_quantity   AS qty
    FROM lineitem
    """,
)
def p1_projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure projection + rename: ReadSchema should list exactly these three
    columns — the parquet reader never materializes the other eight."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
    )


# --------------------------------------------------------------------------
# P3-P9: compound predicate (comparison + equality + BETWEEN), pushed down.
# --------------------------------------------------------------------------
@register(
    "p3_filter_compound",
    tags=("filter",),
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_linestatus = 'F'
      AND l_quantity BETWEEN 10 AND 20
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def p3_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate (the reference's 4-column boolean-mask probe,
    precompute_percentages.py:196-201) as one pushed-down filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_linestatus") == "F")
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# --------------------------------------------------------------------------
# P10: null/validity probe (reference precompute_percentages.py:110-117).
# --------------------------------------------------------------------------
@register(
    "p10_null_validity_probe",
    tags=("filter", "aggregate"),
    oracle="""
    SELECT COUNT(*)                                              AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props
    FROM events
    """,
)
def p10_null_validity_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality probe as a single aggregate pass (the reference scans the
    whole frame twice with .isnull().any()); one job, observation-style."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null_value"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("n_null_props"),
    )


# --------------------------------------------------------------------------
# F1-F7: date/time scalar functions (parse, extract, arithmetic, format).
# --------------------------------------------------------------------------
@register(
    "f_date_functions",
    tags=("scalar", "date"),
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                     AS od,
           CAST(year(o_orderdate) AS INT)                AS y,
           CAST(month(o_orderdate) AS INT)               AS m,
           CAST(day(o_orderdate) AS INT)                 AS d,
           CAST(o_orderdate AS DATE) + INTERVAL 3 DAY    AS plus3,
           CAST(o_orderdate AS DATE) - INTERVAL 6 DAY    AS minus6,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0,
           strftime(o_orderdate, '%Y-%m-%d')             AS iso,
           strftime(o_orderdate, '%m-%d')                AS month_day
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
)
def f_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's date toolkit (to_datetime/.dt.month/timedelta/strftime —
    reference main.py:190-193,222-228,285; precompute_percentages.py:121-126)
    as built-in column expressions inside whole-stage codegen."""
    orders = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    out = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        od.alias("od"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_add(od, 3).cast("timestamp").alias("plus3"),
        F.date_sub(od, 6).cast("timestamp").alias("minus6"),
        F.datediff(od, F.lit("1995-01-01").cast("date")).alias("days_since_epoch0"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso"),
        F.date_format("o_orderdate", "MM-dd").alias("month_day"),
    )
    return out


# --------------------------------------------------------------------------
# F6: year substitution via make_date (reference main.py:365-366 replace(year=) —
# raises on Feb 29; make_date nulls instead, divergence documented in SURVEY §7).
# --------------------------------------------------------------------------
@register(
    "f6_year_projection",
    tags=("scalar", "date"),
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS od,
           TRY_CAST(printf('2020-%02d-%02d', month(o_orderdate), day(o_orderdate)) AS DATE) AS in_2020,
           TRY_CAST(printf('2021-%02d-%02d', month(o_orderdate), day(o_orderdate)) AS DATE) AS in_2021
    FROM orders
    WHERE month(o_orderdate) = 2 AND day(o_orderdate) >= 27
    """,
)
def f6_year_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project a (month, day) onto other years — null-safe on Feb 29."""
    orders = load_table(spark, sf_dir, "orders")
    m, d = F.month("o_orderdate"), F.dayofmonth("o_orderdate")
    return orders.filter((m == 2) & (d >= 27)).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.expr(
            "try_to_date(format_string('2020-%02d-%02d', month(o_orderdate), day(o_orderdate)))"
        ).alias("in_2020"),
        F.expr(
            "try_to_date(format_string('2021-%02d-%02d', month(o_orderdate), day(o_orderdate)))"
        ).alias("in_2021"),
    )


# --------------------------------------------------------------------------
# F8-F11: clip, guarded ratio, banker's-free rounding, percentage scale.
# --------------------------------------------------------------------------
@register(
    "f_numeric_functions",
    tags=("scalar", "numeric"),
    oracle=f"""
    SELECT l_orderkey,
           l_linenumber,
           GREATEST(l_extendedprice - 50000.0, 0.0)  AS clipped,
           {sql_r2('l_extendedprice * (1 - l_discount)')} AS net_price,
           CAST(FLOOR(l_quantity + 0.5) AS BIGINT)   AS qty_rounded,
           CASE WHEN l_quantity > 0
                THEN {sql_r4('l_extendedprice / l_quantity')}
                ELSE 0.0 END                          AS unit_price,
           {sql_r4('l_discount * 100.0')}             AS discount_pct
    FROM lineitem
    WHERE l_orderkey % 200 = 0
    """,
)
def f_numeric_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clip-at-0 (reference main.py:236), guarded ratio (main.py:266,295),
    round-to-int (main.py:236,255), percentage scaling (main.py:254) — all as
    codegen'd column expressions, no UDF."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..functions.rounding import round_count

    return li.filter(F.col("l_orderkey") % 200 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("l_extendedprice") - 50000.0, F.lit(0.0)).alias("clipped"),
        r2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        round_count(F.col("l_quantity")).alias("qty_rounded"),
        F.when(
            F.col("l_quantity") > 0, r4(F.col("l_extendedprice") / F.col("l_quantity"))
        )
        .otherwise(F.lit(0.0))
        .alias("unit_price"),
        r4(F.col("l_discount") * 100.0).alias("discount_pct"),
    )


# --------------------------------------------------------------------------
# F12/F13: 3-way band classification + template formatting (reference
# main.py:269-282,306-319) as CASE + format_string — no Python in the loop.
# --------------------------------------------------------------------------
@register(
    "f12_band_classification",
    tags=("scalar", "conditional"),
    oracle=f"""
    WITH scored AS (
      SELECT o_orderkey,
             o_orderpriority,
             {sql_r4('(o_totalprice - 150000.0) / 1500.0')} AS diff_pct,
             FLOOR((o_totalprice - 150000.0) / 1500.0 * 1e1 + 0.5) / 1e1 AS diff_1dp
      FROM orders
      WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderkey,
           o_orderpriority,
           diff_pct,
           CASE WHEN ABS(diff_pct) <= 5.0 THEN 'consistent'
                WHEN diff_pct > 5.0       THEN 'stronger'
                ELSE                            'weaker' END AS band,
           printf('demand is %s vs baseline (%.1f%%)',
                  CASE WHEN ABS(diff_pct) <= 5.0 THEN 'consistent'
                       WHEN diff_pct > 5.0       THEN 'stronger'
                       ELSE                            'weaker' END,
                  diff_1dp) AS comment
    FROM scored
    """,
)
def f12_band_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """±5-point banding + message templating as pure column expressions.

    The %.1f operand is pre-rounded to 1 decimal (IEEE-stable helper) because
    printf midpoint behavior differs between Java and C formatters — a
    pre-rounded value is never a formatting midpoint."""
    from ..functions.rounding import round_half_up

    orders = load_table(spark, sf_dir, "orders")
    raw = (F.col("o_totalprice") - 150000.0) / 1500.0
    scored = orders.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        r4(raw).alias("diff_pct"),
        round_half_up(raw, 1).alias("diff_1dp"),
    )
    band = (
        F.when(F.abs(F.col("diff_pct")) <= 5.0, "consistent")
        .when(F.col("diff_pct") > 5.0, "stronger")
        .otherwise("weaker")
    )
    return scored.select(
        "o_orderkey",
        "o_orderpriority",
        "diff_pct",
        band.alias("band"),
        F.format_string(
            "demand is %s vs baseline (%.1f%%)", band, F.col("diff_1dp")
        ).alias("comment"),
    )


# --------------------------------------------------------------------------
# String scalar functions (harness surface per SURVEY §2.8).
# --------------------------------------------------------------------------
@register(
    "f_string_functions",
    tags=("scalar", "string"),
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                     AS brand_u,
           lower(p_type)                      AS type_l,
           substring(p_name, 1, 8)            AS name_prefix,
           length(p_name)                     AS name_len,
           concat(p_brand, ':', p_type)       AS brand_type,
           replace(p_type, ' ', '_')          AS type_snake,
           split_part(p_type, ' ', 1)         AS type_head,
           CASE WHEN p_name LIKE '%ol%' THEN 1 ELSE 0 END AS has_ol,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word
    FROM part
    """,
)
def f_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String toolkit over part: case, substring, concat, replace, split,
    LIKE, regexp — all JVM-side built-ins."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.when(F.col("p_name").like("%ol%"), 1).otherwise(0).alias("has_ol"),
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
    )


# --------------------------------------------------------------------------
# JSON scalar functions over events.props (SURVEY §2.8 harness surface).
# --------------------------------------------------------------------------
@register(
    "f_json_functions",
    tags=("scalar", "json"),
    oracle="""
    SELECT event_id,
           event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           CASE WHEN json_extract_string(props, '$.missing') IS NULL THEN 1 ELSE 0 END AS missing_is_null
    FROM events
    WHERE event_id % 25 = 0
    """,
)
def f_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props string column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 25 == 0).select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.when(F.get_json_object("props", "$.missing").isNull(), 1)
        .otherwise(0)
        .alias("missing_is_null"),
    )


# --------------------------------------------------------------------------
# O3: date-axis generation (reference main.py:230 pd.date_range) — sequence+explode.
# --------------------------------------------------------------------------
@register(
    "o3_date_sequence",
    tags=("scalar", "date", "generator"),
    oracle="""
    SELECT CAST(d AS DATE)                 AS ds,
           CAST(year(d) AS INT)            AS y,
           CAST(month(d) AS INT)           AS m,
           CAST(dayofweek(d) AS INT)       AS dow
    FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-03-31', INTERVAL 1 DAY)) AS d)
    """,
)
def o3_date_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered date-axis generator (the forecast frame's spine)."""
    seq = F.sequence(
        F.lit("1996-01-01").cast("date"),
        F.lit("1996-03-31").cast("date"),
        F.expr("interval 1 day"),
    )
    df = spark.range(1).select(F.explode(seq).alias("ds"))
    # DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1 → align to DuckDB.
    return df.select(
        "ds",
        F.year("ds").alias("y"),
        F.month("ds").alias("m"),
        (F.dayofweek("ds") - 1).alias("dow"),
    )
