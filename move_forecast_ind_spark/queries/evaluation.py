"""Statistical-testing and model/retrieval EVALUATION operators (round-7
continuation widening).

Capability families a production analytics engine needs on top of the
reference's surface (the reference — satya-dataengineer/move-forecast-IND —
has none of these; engine-completeness mandate) and on top of the existing
hypothesis-test tier (Welch t / KS / Mann-Whitney / chi-square / z) and the
model-evaluation tier (AUC / Brier / reliability bins):

- rank correlation: Spearman's rho per segment, computed from EXACT integer
  doubled-average-ranks so both engines derive the identical double before
  the rounding grid (no float ordering anywhere in the rank pipeline);
- one-way ANOVA: day-of-week effect on purchase value, classic F statistic
  from exact integer-cents group moments;
- multiple-testing control: per-nation mean z-tests -> Benjamini-Hochberg
  step-up FDR flags, with the normal CDF evaluated through the SAME
  Abramowitz-Stegun 7.1.26 polynomial text on both engines;
- privacy: l-diversity audit (distinct + entropy l) over the k-anonymity
  tier's equivalence classes — k-anonymity bounds class SIZE, l-diversity
  bounds what a class leaks about the SENSITIVE attribute;
- retrieval evaluation: graded-relevance NDCG@k for the semantic
  more-like-this ranking (the measurement leg of the RRF/MMR stack);
- classifier operating points: confusion-matrix threshold sweep
  (precision / recall / F1 / accuracy at a literal threshold ladder) —
  the operating-curve complement to the single-scalar AUC;
- forecast evaluation: pinball (quantile) loss for per-day-of-week
  empirical-quantile forecasts — the standard scoring rule for
  probabilistic forecasts, over the same train/test split as
  ml_forecast_backtest.

All hot paths are built-in column expressions inside whole-stage codegen;
ranks, counts, and confusion cells are exact integers; every double that
reaches the output is rounded through ``functions.rounding`` on BOTH
engines so aggregation-order ulp noise can't flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r2, r4, r6, sql_r2, sql_r4, sql_r6
from ..functions.text import TOKENS_SQL
from ..functions.vectors import as_double, cosine
from ..operators.graph import (
    TIGHT_BUCKET_S,
    coactivity_adjacency,
    coactivity_cte,
    vertex_array,
)
from ..sources import load_table
from .registry import fmt_doc, register

# --- Spearman rank correlation ----------------------------------------------


def _cents(c) -> F.Column:
    """Exact integer cents: FLOOR(x*100+0.5) — identical in both engines."""
    return F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("long")


@register(
    "a_spearman_rank",
    tags=("aggregate", "statistics"),
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT c.c_mktsegment AS seg,
             CAST(FLOOR(c.c_acctbal * 1e2 + 0.5) AS BIGINT) AS x,
             COALESCE(s.y, 0) AS y
      FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    rk AS (
      SELECT seg,
             2 * RANK() OVER (PARTITION BY seg ORDER BY x)
               + COUNT(*) OVER (PARTITION BY seg, x) - 1 AS rx,
             2 * RANK() OVER (PARTITION BY seg ORDER BY y)
               + COUNT(*) OVER (PARTITION BY seg, y) - 1 AS ry
      FROM base
    ),
    m AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
             CAST(SUM(rx * rx) AS BIGINT) AS sxx,
             CAST(SUM(ry * ry) AS BIGINT) AS syy,
             CAST(SUM(rx * ry) AS BIGINT) AS sxy
      FROM rk GROUP BY 1
    )
    SELECT seg AS c_mktsegment, n,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                     (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0e0
                THEN FLOOR((CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                     / sqrt((CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)
                            * (CAST(n AS DOUBLE) * syy
                               - CAST(sy AS DOUBLE) * sy)) * 1e6 + 0.5) / 1e6
                ELSE NULL END AS rho_spearman
    FROM m
    """,
)
def a_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (per market segment) between a customer's
    account balance and their lifetime order spend — the robust,
    monotonic-association complement to a_corr_covar's Pearson tier.
    Average ranks for ties are kept EXACT by doubling: avg_rank*2 =
    2*rank_min + tie_count - 1 is an integer, invariant to the x2 scaling
    that Pearson-on-ranks ignores, so the whole rank pipeline is integer
    arithmetic (spend is summed in exact integer cents — no float
    ordering can flip a rank). rho is then formed once per segment from
    five exact BIGINT moments cast to double with an identical op
    sequence on both engines — bit-exact before the r6 grid; a
    zero-variance segment (all ties) yields NULL. Engine shape: one
    broadcast-sized spend aggregate joined to the customer master, two
    rank windows per segment partition, one groupBy — at 100 TB the rank
    windows are the only data-sized shuffles and they partition by
    segment; a skewed segment would switch to the range-partitioned sort
    the windows already imply."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("y")
    )
    base = (
        cust.join(spend, cust["c_custkey"] == spend["o_custkey"], "left")
        .select(
            F.col("c_mktsegment").alias("seg"),
            _cents(F.col("c_acctbal")).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y"),
        )
    )
    rx = (
        F.lit(2) * F.rank().over(Window.partitionBy("seg").orderBy("x"))
        + F.count(F.lit(1)).over(Window.partitionBy("seg", "x"))
        - F.lit(1)
    )
    ry = (
        F.lit(2) * F.rank().over(Window.partitionBy("seg").orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("seg", "y"))
        - F.lit(1)
    )
    rk = base.select("seg", rx.alias("rx"), ry.alias("ry"))
    m = rk.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("long").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("long").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return m.select(
        F.col("seg").alias("c_mktsegment"),
        "n",
        F.when(vx * vy > 0.0, r6(cov / F.sqrt(vx * vy)))
        .otherwise(F.lit(None).cast("double"))
        .alias("rho_spearman"),
    )


# --- one-way ANOVA: day-of-week effect on purchase value ---------------------


@register(
    "a_anova_dow_f",
    tags=("aggregate", "statistics"),
    oracle="""
    WITH v AS (
      SELECT isodow(ts) AS dow,
             CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ),
    g AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(c) AS BIGINT) AS s_g,
             CAST(SUM(c * c) AS BIGINT) AS q_g
      FROM v GROUP BY 1
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(SUM(q_g) AS BIGINT) AS q,
             SUM(CAST(s_g AS DOUBLE) * s_g / n_g) AS between_raw
      FROM g
    )
    SELECT k, n,
           FLOOR((between_raw - CAST(s AS DOUBLE) * s / n) / 1e4
                 * 1e4 + 0.5) / 1e4 AS ss_between,
           FLOOR((CAST(q AS DOUBLE) - between_raw) / 1e4
                 * 1e4 + 0.5) / 1e4 AS ss_within,
           FLOOR(((between_raw - CAST(s AS DOUBLE) * s / n) / (k - 1))
                 / ((CAST(q AS DOUBLE) - between_raw) / (n - k))
                 * 1e6 + 0.5) / 1e6 AS f_stat,
           FLOOR((between_raw - CAST(s AS DOUBLE) * s / n)
                 / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                 * 1e6 + 0.5) / 1e6 AS eta_squared
    FROM t
    """,
)
def a_anova_dow_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does purchase value differ by ISO day-of-week?
    Classic decomposition SST = SSB + SSW from per-group moments, all
    carried as EXACT integer cents (n_g, sum, sum-of-squares are BIGINT;
    with |value| <= ~1e4 currency units the squared-cents sum stays under
    2^63 past sf1 — documented bound, same contract as the quantized
    training fit). The only doubles are the final ratio assembly: the
    one order-sensitive term (SUM over the 7 group rows of s_g^2/n_g)
    spans 7 near-equal positive terms, so fold-order noise is a few ulps
    against an r4/r6 grid — orders of magnitude of margin. SS columns
    are reported in currency^2 units (cents^2 / 1e4). Engine shape: one
    map-side-combinable groupBy to 7 rows, then a one-row global
    aggregate — two metadata-scale shuffles regardless of table size;
    this is the cheapest possible ANOVA plan at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "purchase").select(
        (F.weekday("ts") + F.lit(1)).alias("dow"),
        _cents(F.col("value")).alias("c"),
    )
    g = v.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("c").cast("long").alias("s_g"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q_g"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(
            F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
        ).alias("between_raw"),
    )
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    ssb = F.col("between_raw") - sd * sd / F.col("n")
    ssw = qd - F.col("between_raw")
    sst = qd - sd * sd / F.col("n")
    return t.select(
        "k",
        "n",
        r4(ssb / F.lit(1e4)).alias("ss_between"),
        r4(ssw / F.lit(1e4)).alias("ss_within"),
        r6((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))).alias(
            "f_stat"
        ),
        r6(ssb / sst).alias("eta_squared"),
    )


# --- l-diversity privacy audit ----------------------------------------------

_LDIV_L = 3


@register(
    "dq_l_diversity",
    tags=("dq", "aggregate", "privacy"),
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 1000e0) AS BIGINT) AS bal_band,
             c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ),
    withp AS (
      SELECT c_nationkey, bal_band, cnt,
             CAST(cnt AS DOUBLE)
               / SUM(cnt) OVER (PARTITION BY c_nationkey, bal_band) AS p
      FROM cells
    ),
    cls AS (
      SELECT c_nationkey, bal_band,
             CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS l_distinct,
             SUM(p * ln(p)) AS negent
      FROM withp GROUP BY 1, 2
    )
    SELECT c_nationkey, bal_band, n, l_distinct,
           FLOOR(exp(-negent) * 1e6 + 0.5) / 1e6 AS entropy_l,
           l_distinct >= {_LDIV_L} AS l_diverse
    FROM cls
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) over the customer
    master: for each quasi-identifier equivalence class (nation,
    account-balance band), how many DISTINCT values of the sensitive
    attribute (market segment) appear (distinct l-diversity) and the
    entropy l  = exp(H) of the within-class sensitive distribution
    (entropy l-diversity) — the attribute-disclosure complement to
    dq_k_anonymity, which only bounds class size: a class of 1000 rows
    that all share one segment is 1000-anonymous yet leaks the segment
    with certainty. Cross-engine: class and cell counts are exact
    integers; H sums <= |segments| = 5 near-equal p*ln(p) terms, ulp
    noise far inside the r6 grid. Engine shape: one groupBy to
    (QI x sensitive) cells — one shuffle carrying one row per cell —
    then a metadata-scale re-group to classes; at 100 TB this runs at
    the same cost as the k-anonymity audit it extends."""
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcls = Window.partitionBy("c_nationkey", "bal_band")
    p = F.col("cnt").cast("double") / F.sum("cnt").over(wcls)
    cells = cells.withColumn("plogp", p * F.log(p))
    cls = cells.groupBy("c_nationkey", "bal_band").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sum("plogp").alias("negent"),
    )
    return cls.select(
        "c_nationkey",
        "bal_band",
        "n",
        "l_distinct",
        r6(F.exp(-F.col("negent"))).alias("entropy_l"),
        (F.col("l_distinct") >= _LDIV_L).alias("l_diverse"),
    )


# --- retrieval evaluation: graded-relevance NDCG@k ---------------------------

_NDCG_K = 10
_NDCG_QUERIES = 5  # vec_id < 5, matching the sim_ann_* query convention


@register(
    "ml_ndcg_eval",
    tags=("ml", "similarity", "eval"),
    oracle=f"""
    WITH v AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS vec, e.label, d.source
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_NDCG_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_inner_product(q.vec, c.vec)
               / (sqrt(list_inner_product(q.vec, q.vec))
                  * sqrt(list_inner_product(c.vec, c.vec))) AS cos,
             (CASE WHEN q.label = c.label THEN 2 ELSE 0 END
              + CASE WHEN q.source = c.source THEN 1 ELSE 0 END) AS rel
      FROM q JOIN v c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS pos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rel DESC, cand_id) AS ideal_pos
      FROM scored
    ),
    dcg AS (
      SELECT query_id,
             SUM(CASE WHEN pos <= {_NDCG_K}
                      THEN (pow(2e0, rel) - 1e0)
                           / (ln(CAST(pos + 1 AS DOUBLE)) / ln(2e0))
                      ELSE 0e0 END) AS dcg,
             SUM(CASE WHEN ideal_pos <= {_NDCG_K}
                      THEN (pow(2e0, rel) - 1e0)
                           / (ln(CAST(ideal_pos + 1 AS DOUBLE)) / ln(2e0))
                      ELSE 0e0 END) AS idcg,
             CAST(SUM(CASE WHEN pos <= {_NDCG_K} AND rel > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel_in_k
      FROM ranked GROUP BY 1
    )
    SELECT query_id, n_rel_in_k,
           FLOOR(dcg * 1e6 + 0.5) / 1e6 AS dcg,
           FLOOR(idcg * 1e6 + 0.5) / 1e6 AS idcg,
           CASE WHEN idcg > 0e0
                THEN FLOOR(dcg / idcg * 1e6 + 0.5) / 1e6
                ELSE 0e0 END AS ndcg
    FROM dcg
    """,
)
def ml_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded-relevance NDCG@{k} (Jarvelin & Kekalainen 2002) for the
    semantic more-like-this ranking: each of the {nq} standard query
    vectors ranks the rest of the corpus by exact cosine; relevance
    grades derive deterministically from metadata (same embedding label
    = +2, same document source = +1 — grades 0..3), IDCG is the
    same gain sum over the relevance-sorted ideal ordering, and
    NDCG = DCG/IDCG. This is the measurement leg of the retrieval stack
    (RRF fusion and MMR reorder candidates; this scores a ranking) —
    run it on an ANN variant vs this exact ranking and the NDCG delta
    IS the recall/quality cost of the index. Cross-engine: cosines ride
    the shared left-fold dot product (bit-identical to DuckDB's
    list_inner_product), ordering ties break on candidate id, gains are
    integer powers of two, and the <= {k}-term gain sums sit far inside
    the r6 grid. Engine shape: the {nq}-row query side broadcasts; the
    corpus never shuffles for scoring; per-query ranking is a window
    over candidate partitions. At 100 TB the exact leg bounds to top-k
    per partition via TakeOrdered; the ANN legs (sim_ann_lsh / ivf)
    are the production path this evaluator certifies."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    v = emb.join(docs, "vec_id").select(
        "vec_id", as_double(F.col("embedding")).alias("vec"), "label", "source"
    )
    q = v.filter(F.col("vec_id") < _NDCG_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("label").alias("qlabel"),
        F.col("source").alias("qsource"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            cosine("qvec", "vec").alias("cos"),
            (
                F.when(F.col("qlabel") == F.col("label"), 2).otherwise(0)
                + F.when(F.col("qsource") == F.col("source"), 1).otherwise(0)
            ).alias("rel"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    ranked = scored.select(
        "query_id",
        "rel",
        F.row_number().over(wr).alias("pos"),
        F.row_number().over(wi).alias("ideal_pos"),
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
    dcg = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("pos") <= _NDCG_K,
                gain / (F.log(F.col("pos").cast("double") + 1) / F.log(F.lit(2.0))),
            ).otherwise(F.lit(0.0))
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("ideal_pos") <= _NDCG_K,
                gain
                / (F.log(F.col("ideal_pos").cast("double") + 1) / F.log(F.lit(2.0))),
            ).otherwise(F.lit(0.0))
        ).alias("idcg"),
        F.sum(
            F.when((F.col("pos") <= _NDCG_K) & (F.col("rel") > 0), 1).otherwise(0)
        ).cast("long").alias("n_rel_in_k"),
    )
    return dcg.select(
        "query_id",
        "n_rel_in_k",
        r6(F.col("dcg")).alias("dcg"),
        r6(F.col("idcg")).alias("idcg"),
        F.when(F.col("idcg") > 0.0, r6(F.col("dcg") / F.col("idcg")))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


fmt_doc(ml_ndcg_eval, k=_NDCG_K, nq=_NDCG_QUERIES)


# --- forecast evaluation: pinball (quantile) loss ----------------------------

_PINBALL_QS = (0.1, 0.5, 0.9)
_PINBALL_HOLDOUT_DAYS = 7  # matches ml_forecast_backtest's split


@register(
    "ml_pinball_loss",
    tags=("ml", "timeseries", "forecast", "eval"),
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    cutoff AS (SELECT MAX(day) - {_PINBALL_HOLDOUT_DAYS} AS cut FROM daily),
    train AS (
      SELECT isodow(day) AS dow, y FROM daily CROSS JOIN cutoff
      WHERE day <= cut
    ),
    test AS (
      SELECT isodow(day) AS dow, day, y FROM daily CROSS JOIN cutoff
      WHERE day > cut
    ),
    ranked AS (
      SELECT dow, y,
             ROW_NUMBER() OVER (PARTITION BY dow ORDER BY y) AS rn,
             COUNT(*) OVER (PARTITION BY dow) AS n
      FROM train
    ),
    fc AS (
      SELECT r.dow, t.q, r.y AS f
      FROM ranked r
      CROSS JOIN (SELECT unnest([{", ".join(f"{q}e0" for q in _PINBALL_QS)}])
                    AS q) t
      WHERE r.rn = GREATEST(1, CAST(CEIL(t.q * r.n) AS BIGINT))
    ),
    scored AS (
      SELECT fc.q, t.y, fc.f,
             CASE WHEN t.y >= fc.f THEN fc.q * (t.y - fc.f)
                  ELSE (1e0 - fc.q) * (fc.f - t.y) END AS loss,
             CASE WHEN t.y <= fc.f THEN 1 ELSE 0 END AS covered
      FROM test t JOIN fc ON fc.dow = t.dow
    )
    SELECT FLOOR(q * 1e6 + 0.5) / 1e6 AS quantile,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           FLOOR(AVG(loss) * 1e6 + 0.5) / 1e6 AS mean_pinball,
           FLOOR(CAST(SUM(covered) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
             AS coverage
    FROM scored GROUP BY q
    """,
)
def ml_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss backtest: hold out the last {h} days
    (ml_forecast_backtest's split), forecast each test day's event count
    with the per-ISO-day-of-week EXACT empirical train quantile at
    q in {qs} (order statistic at rank ceil(q*n) — integer counts, so
    forecasts are exact integers), and score with the pinball rule
    L_q(y,f) = q(y-f) if y>=f else (1-q)(f-y) — the proper scoring rule
    for quantile forecasts that MAE/MAPE point backtests can't grade;
    coverage (frac of test days with y <= f) checks calibration (should
    be ~q). Cross-engine: ranks, counts, and forecasts are exact
    integers; per-row losses are products of a literal and an integer —
    identical doubles — and only the <= {h}-term mean rides the r6 grid.
    Engine shape: one groupBy to the daily frame, one rank window per
    dow partition over the (tiny) training days, a broadcast join of
    the 21-row forecast table to the test days — at 100 TB the daily
    collapse is the only data-sized stage (same posture as the whole
    forecast family)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    cutoff = daily.agg(
        F.date_sub(F.max("day"), _PINBALL_HOLDOUT_DAYS).alias("cut")
    )
    base = daily.crossJoin(F.broadcast(cutoff))
    train = base.filter(F.col("day") <= F.col("cut")).select(
        (F.weekday("day") + F.lit(1)).alias("dow"), "y"
    )
    test = base.filter(F.col("day") > F.col("cut")).select(
        (F.weekday("day") + F.lit(1)).alias("dow"), "day", "y"
    )
    wd = Window.partitionBy("dow").orderBy("y")
    ranked = train.select(
        "dow",
        "y",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("dow")).alias("n"),
    )
    qcol = F.explode(F.array([F.lit(q) for q in _PINBALL_QS])).alias("q")
    fc = (
        ranked.select("dow", "y", "rn", "n", qcol)
        .filter(
            F.col("rn")
            == F.greatest(
                F.lit(1), F.ceil(F.col("q") * F.col("n")).cast("long")
            )
        )
        .select("dow", "q", F.col("y").alias("f"))
    )
    scored = test.join(F.broadcast(fc), "dow").select(
        "q",
        F.when(
            F.col("y") >= F.col("f"),
            F.col("q") * (F.col("y") - F.col("f")),
        )
        .otherwise((F.lit(1.0) - F.col("q")) * (F.col("f") - F.col("y")))
        .alias("loss"),
        F.when(F.col("y") <= F.col("f"), 1).otherwise(0).alias("covered"),
    )
    return scored.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        r6(F.avg("loss")).alias("mean_pinball"),
        r6(F.sum("covered").cast("double") / F.count(F.lit(1))).alias(
            "coverage"
        ),
    ).select(
        r6(F.col("q")).alias("quantile"), "n_test", "mean_pinball", "coverage"
    )


fmt_doc(ml_pinball_loss, 
    h=_PINBALL_HOLDOUT_DAYS, qs=_PINBALL_QS
)


# --- RAKE keyword extraction -------------------------------------------------

_RAKE_STOPS = ("the", "and", "of", "is", "a")  # functions.text.LANG_MARKERS["en"]
_RAKE_TOPK = 3


@register(
    "text_rake_keywords",
    bench=True,  # round-7 continuation representative: heavy text windows
    tags=("text", "northstar", "retrieval"),
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             lower(unnest(string_split_regex(trim(text), '\\s+'))) AS tok,
             generate_subscripts(
               string_split_regex(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ),
    flagged AS (
      SELECT doc_id, tok, pos,
             CASE WHEN tok IN {_RAKE_STOPS!r} THEN 1 ELSE 0 END AS stop
      FROM tok
    ),
    numbered AS (
      SELECT doc_id, tok, pos, stop,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS phrase_id
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, tok, pos, phrase_id FROM numbered WHERE stop = 0
    ),
    words AS (
      SELECT doc_id, tok, pos, phrase_id,
             COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
      FROM isl
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM words GROUP BY 1, 2
    ),
    wstats AS (
      SELECT doc_id, tok,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM words GROUP BY 1, 2
    ),
    scored AS (
      SELECT w.doc_id, w.phrase_id,
             SUM(CAST(s.deg AS DOUBLE) / s.freq) AS score
      FROM words w JOIN wstats s ON s.doc_id = w.doc_id AND s.tok = w.tok
      GROUP BY 1, 2
    ),
    rounded AS (
      SELECT p.doc_id, p.phrase, p.plen,
             FLOOR(s.score * 1e6 + 0.5) / 1e6 AS score
      FROM phrases p
      JOIN scored s ON s.doc_id = p.doc_id AND s.phrase_id = p.phrase_id
    ),
    ranked AS (
      SELECT doc_id, phrase, plen, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, phrase) AS rnk
      FROM rounded
    )
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, phrase, plen, score
    FROM ranked WHERE rnk <= {_RAKE_TOPK}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010): candidate
    phrases are maximal runs of non-stopword tokens (islands between the
    deterministic 5-word stopword set shared with the language-ID tier);
    each word scores deg(w)/freq(w) where deg counts co-occurring phrase
    length and freq counts occurrences, each phrase scores the sum of its
    word scores, and the top-{k} phrases per document emerge — the classic
    unsupervised keyword extractor, complementing TF-IDF (corpus-weighted)
    and winnowing (fingerprint-based) with a phrase-level structural
    scorer. Cross-engine: tokenization, stopword flags, island ids, plen /
    freq / deg are exact integers; word scores are exact rationals and a
    phrase's sum spans <= phrase-length near-equal terms, so ulp noise is
    ~1e-15 against well-separated score gaps (>= 1/freq^2) before the r6
    grid and the rank tie-break (score DESC, phrase ASC) is stable.
    Engine shape: one posexplode scan, one island window per doc
    partition, two map-side-combinable groupBys ((doc, word) and
    (doc, phrase)), one broadcast-shaped join back — all partitioned by
    doc_id, no corpus-wide state, embarrassingly parallel at 100 TB."""
    from ..operators.dedup import fanout

    docs = load_table(spark, sf_dir, "documents")
    # fanout before the split: the fixture parquet is one row group, so
    # the scan is 1 task and split+posexplode of ~200 tokens/doc would
    # run single-core (round-8 profile); the pinned exchange moves ~2 MB
    # of raw text and parallelizes the explode across the cluster.
    # Whole pipeline as expr strings (construction-cost doctrine —
    # lloyd_assign): identical parsed trees (same window frames — the
    # running-sum window's ROWS frame is spelled out, the plen window's
    # default whole-partition frame is the SQL default too), one gateway
    # roundtrip per select. Bit-exact at sf0.001/0.01 after the rewrite.
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    tok = (
        fanout(docs.select("doc_id", "text"), F.col("doc_id"))
        .selectExpr(
            "doc_id",
            f"posexplode({TOKENS_SQL.format(col='text')}) AS (pos, tok)",
        )
        .selectExpr("doc_id", "lower(tok) AS tok", "pos")
    )
    isl = tok.selectExpr(
        "doc_id",
        "tok",
        "pos",
        f"CASE WHEN tok IN ({stops}) THEN 1 ELSE 0 END AS stop",
    ).selectExpr(
        "doc_id",
        "tok",
        "pos",
        "stop",
        "sum(stop) OVER (PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id",
    ).filter("stop = 0").drop("stop")
    words = isl.selectExpr(
        "doc_id",
        "tok",
        "pos",
        "phrase_id",
        "count(1) OVER (PARTITION BY doc_id, phrase_id) AS plen",
    )
    phrases = words.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, tok))), s -> s.tok)) AS phrase"
        ),
        F.expr("CAST(count(1) AS BIGINT) AS plen"),
    )
    wstats = words.groupBy("doc_id", "tok").agg(
        F.expr("CAST(count(1) AS BIGINT) AS freq"),
        F.expr("CAST(sum(plen) AS BIGINT) AS deg"),
    )
    scored = (
        words.join(wstats, ["doc_id", "tok"])
        .groupBy("doc_id", "phrase_id")
        .agg(F.expr("sum(CAST(deg AS DOUBLE) / freq) AS score"))
    )
    # rank on the ROUNDED score: phrases sharing a word-score multiset sum
    # to ulp-different doubles across engines, so the raw double is NOT a
    # stable sort key — the r6 grid makes such near-ties exact ties, which
    # the phrase-text tiebreak then resolves identically everywhere
    ranked = (
        phrases.join(scored, ["doc_id", "phrase_id"])
        .selectExpr(
            "doc_id", "phrase", "plen", f"{sql_r6('score')} AS score"
        )
        .selectExpr(
            "doc_id",
            "phrase",
            "plen",
            "score",
            "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score "
            "DESC, phrase) AS BIGINT) AS rnk",
        )
    )
    return ranked.filter(f"rnk <= {_RAKE_TOPK}").selectExpr(
        "doc_id", "rnk", "phrase", "plen", "score"
    )


fmt_doc(text_rake_keywords, k=_RAKE_TOPK)


# --- embedding cluster quality: Davies-Bouldin index -------------------------


@register(
    "emb_davies_bouldin",
    tags=("similarity", "ml", "eval"),
    oracle="""
    WITH x AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    expl AS (
      SELECT vec_id, label,
             generate_subscripts(e, 1) AS dim,
             unnest(e) AS val
      FROM x
    ),
    cell AS (
      SELECT label, dim, AVG(val) AS c
      FROM expl GROUP BY 1, 2
    ),
    mdist AS (
      SELECT ex.vec_id, ex.label,
             sqrt(SUM((ex.val - cl.c) * (ex.val - cl.c))) AS dist
      FROM expl ex JOIN cell cl ON cl.label = ex.label AND cl.dim = ex.dim
      GROUP BY 1, 2
    ),
    scatter AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n, AVG(dist) AS s
      FROM mdist GROUP BY 1
    ),
    cdist AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(SUM((a.c - b.c) * (a.c - b.c))) AS m
      FROM cell a JOIN cell b ON a.dim = b.dim AND a.label <> b.label
      GROUP BY 1, 2
    ),
    terms AS (
      SELECT c.la AS label, MAX((sa.s + sb.s) / c.m) AS db_term
      FROM cdist c
      JOIN scatter sa ON sa.label = c.la
      JOIN scatter sb ON sb.label = c.lb
      GROUP BY 1
    )
    SELECT s.label, s.n,
           FLOOR(s.s * 1e6 + 0.5) / 1e6 AS s_scatter,
           FLOOR(t.db_term * 1e6 + 0.5) / 1e6 AS db_term,
           FLOOR(AVG(t.db_term) OVER () * 1e6 + 0.5) / 1e6 AS db_index
    FROM scatter s JOIN terms t ON t.label = s.label
    """,
)
def emb_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-quality index (Davies & Bouldin 1979) of the
    labeled embedding space: per-cluster scatter S_i = mean Euclidean
    distance to the centroid, inter-centroid separations M_ij, per-cluster
    worst-case similarity term max_j (S_i+S_j)/M_ij, and the global index
    (their mean — lower = tighter, better-separated clusters). The
    internal-validation metric for the k-means / SemDeDup / IVF tiers:
    it grades a clustering with no external labels needed beyond the
    cluster assignment itself. Cross-engine: centroid cells are
    per-(label,dim) averages and distances per-(row,label) sums over 64
    dims — ulp-order fold noise only, no ordering decision anywhere
    (the max is over VALUES, never an argmax id), all outputs on the r6
    grid. Engine shape: one explode scan + two map-side-combinable
    groupBys ((label,dim) cells — k*d rows — then per-member distances
    partitioned by vec_id); centroid frames are k*d = metadata-scale and
    broadcast into the member join; the k^2 separation matrix never
    leaves the driver scale. At 100 TB the member-distance stage is the
    only data-sized pass — one shuffle keyed by vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("e")
    )
    expl = x.select(
        "vec_id",
        "label",
        F.posexplode("e").alias("dim0", "val"),
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "val")
    cell = expl.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    mdist = (
        expl.join(F.broadcast(cell), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))
            ).alias("dist")
        )
    )
    scatter = mdist.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.avg("dist").alias("s")
    )
    ca = cell.select(
        F.col("label").alias("la"), "dim", F.col("c").alias("cva")
    )
    cb = cell.select(
        F.col("label").alias("lb"), "dim", F.col("c").alias("cvb")
    )
    cdist = (
        ca.join(cb, (ca["dim"] == cb["dim"]) & (F.col("la") != F.col("lb")))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("cva") - F.col("cvb"))
                    * (F.col("cva") - F.col("cvb"))
                )
            ).alias("m")
        )
    )
    sa = scatter.select(F.col("label").alias("la"), F.col("s").alias("s_a"))
    sb = scatter.select(F.col("label").alias("lb"), F.col("s").alias("s_b"))
    terms = (
        cdist.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy("la")
        .agg(F.max((F.col("s_a") + F.col("s_b")) / F.col("m")).alias("db_term"))
        .withColumnRenamed("la", "label")
    )
    out = scatter.join(terms, "label")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return out.select(
        "label",
        "n",
        r6(F.col("s")).alias("s_scatter"),
        r6(F.col("db_term")).alias("db_term"),
        r6(F.avg("db_term").over(wall)).alias("db_index"),
    )


# --- graph: degree assortativity --------------------------------------------


@register(
    "events_degree_assortativity",
    tags=("events", "graph", "statistics"),
    oracle=f"""
    {coactivity_cte(TIGHT_BUCKET_S)},
    deg AS (
      SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ne,
             CAST(SUM(ds.d) AS BIGINT) AS sx,
             CAST(SUM(dd.d) AS BIGINT) AS sy,
             CAST(SUM(ds.d * ds.d) AS BIGINT) AS sxx,
             CAST(SUM(dd.d * dd.d) AS BIGINT) AS syy,
             CAST(SUM(ds.d * dd.d) AS BIGINT) AS sxy
      FROM edges e
      JOIN deg ds ON ds.v = e.src
      JOIN deg dd ON dd.v = e.dst
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           ne // 2 AS n_edges,
           CASE WHEN (CAST(ne AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                     (CAST(ne AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0e0
                THEN FLOOR((CAST(ne AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                     / sqrt((CAST(ne AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)
                            * (CAST(ne AS DOUBLE) * syy
                               - CAST(sy AS DOUBLE) * sy)) * 1e6 + 0.5) / 1e6
                ELSE NULL END AS assortativity
    FROM m
    """,
)
def events_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the tight user
    co-activity graph (same event_type within the same 300 s bucket —
    the triangle/k-core tier's graph): the Pearson correlation of
    endpoint degrees over the directed-both-ways edge list. Positive =
    hubs attach to hubs (social-network shape), negative = hub-and-spoke
    (infrastructure shape) — the one-scalar structure probe that tells a
    sampling or partitioning strategy whether degree-based salting will
    be needed. Cross-engine: degrees and all five moments are exact
    BIGINTs (deg <= ~400 at sf0.1, so sum-of-products stays far under
    2^63 past sf1); the correlation assembles once from exact integers
    with an identical op sequence — bit-exact before the r6 grid; a
    degree-regular graph (zero variance) yields NULL. Engine shape: the
    |V|-sized degree vector broadcasts as ONE row and edge endpoints look
    degrees up in-row — the only data-sized stages are the adjacency
    build itself and one global aggregate; no edge-level join at all (vs
    the oracle's two, which exist only for SQL clarity)."""
    full = coactivity_adjacency(spark, sf_dir, bucket_seconds=TIGHT_BUCKET_S)
    adj = full.filter(F.col("deg") > 0)
    # degree vector over ALL indices (the adjacency's i-space), so edge
    # endpoints can look degrees up positionally even after isolated
    # nodes are dropped from the edge side
    darr = full.agg(vertex_array("deg", "degs"))
    e = (
        adj.select("i", "deg", F.explode("nbrs").alias("j"))
        .crossJoin(F.broadcast(darr))
        .select(
            F.col("deg").cast("long").alias("dx"),
            F.element_at(F.col("degs"), F.col("j") + 1).cast("long").alias(
                "dy"
            ),
        )
    )
    nn = adj.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    m = e.agg(
        F.count(F.lit(1)).cast("long").alias("ne"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    ).crossJoin(F.broadcast(nn))
    ned = F.col("ne").cast("double")
    vx = ned * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = ned * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = ned * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return m.select(
        "n_nodes",
        (F.col("ne") / F.lit(2)).cast("long").alias("n_edges"),
        F.when(vx * vy > 0.0, r6(cov / F.sqrt(vx * vy)))
        .otherwise(F.lit(None).cast("double"))
        .alias("assortativity"),
    )


# --- multiple-testing control: Benjamini-Hochberg ----------------------------

_BH_Q = 0.1  # target false-discovery rate

# Abramowitz & Stegun 7.1.26 erfc polynomial — written with the IDENTICAL
# Horner text on both engines so the only cross-engine noise is exp()'s
# last ulp, absorbed by the r6 grid before any decision is made.
_AS_P = "0.3275911"
_AS_COEF = ("0.254829592", "-0.284496736", "1.421413741",
            "-1.453152027", "1.061405429")


def _sql_p_two_sided(z_expr: str) -> str:
    """DuckDB text for the two-sided normal p-value 1 - erf(|z|/sqrt(2))
    via A&S 7.1.26 (Horner form)."""
    a1, a2, a3, a4, a5 = _AS_COEF
    u = f"(abs({z_expr}) / sqrt(2e0))"
    t = f"(1e0 / (1e0 + {_AS_P} * {u}))"
    poly = (f"((((({a5} * {t} + {a4}) * {t} + {a3}) * {t} + {a2}) * {t} "
            f"+ {a1}) * {t})")
    return f"({poly} * exp(-({u} * {u})))"


def _col_p_two_sided(z):
    """Spark twin of :func:`_sql_p_two_sided` — same Horner op sequence."""
    a1, a2, a3, a4, a5 = (float(c) for c in _AS_COEF)
    u = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(float(_AS_P)) * u)
    poly = (
        (((F.lit(a5) * t + F.lit(a4)) * t + F.lit(a3)) * t + F.lit(a2)) * t
        + F.lit(a1)
    ) * t
    return poly * F.exp(-(u * u))


@register(
    "a_benjamini_hochberg",
    tags=("aggregate", "statistics"),
    oracle=f"""
    WITH v AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal * 1e2 + 0.5) AS BIGINT) AS c
      FROM customer
    ),
    g AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM v GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(c) AS BIGINT) AS ss,
             CAST(SUM(c * c) AS BIGINT) AS qq
      FROM v
    ),
    z AS (
      SELECT g.c_nationkey, g.n,
             (CAST(g.s AS DOUBLE) / g.n - CAST(t.ss AS DOUBLE) / t.nn)
               / sqrt(((CAST(t.qq AS DOUBLE)
                        - CAST(t.ss AS DOUBLE) * t.ss / t.nn)
                       / (t.nn - 1)) / g.n) AS zval
      FROM g CROSS JOIN tot t
    ),
    p AS (
      SELECT c_nationkey, n,
             FLOOR(zval * 1e6 + 0.5) / 1e6 AS z_score,
             FLOOR({_sql_p_two_sided("zval")} * 1e6 + 0.5) / 1e6 AS p_value
      FROM z
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_value, c_nationkey)
                     AS BIGINT) AS bh_rank,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    flagged AS (
      SELECT *,
             CASE WHEN p_value <= CAST(bh_rank AS DOUBLE) / m * {_BH_Q}
                  THEN bh_rank ELSE 0 END AS passing
      FROM ranked
    )
    SELECT c_nationkey, n, z_score, p_value, bh_rank,
           FLOOR(CAST(bh_rank AS DOUBLE) / m * {_BH_Q} * 1e6 + 0.5) / 1e6
             AS bh_critical,
           bh_rank <= MAX(passing) OVER () AS discovery
    FROM flagged
    """,
)
def a_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    over a 25-hypothesis family: per-nation z-tests of mean account
    balance against the global mean (global sample variance), p-values
    through the Abramowitz-Stegun 7.1.26 erfc polynomial — the SAME
    Horner text on both engines, so only exp()'s final ulp differs and
    the r6 grid absorbs it BEFORE any decision: ranks, the i/m*q
    critical ladder, and the step-up cutoff (max passing rank, every
    rank at or below it is a discovery) are all computed from the
    rounded p — cross-engine-deterministic by construction. The
    multiple-testing guard every per-segment screening query in the
    test tier (welch/z/chi2) needs before acting on 25 simultaneous
    p-values. Engine shape: one map-side-combinable groupBy to 25 rows
    + a one-row global moment frame cross-joined broadcast; the BH
    windows run over 25 rows — metadata-scale regardless of table
    size."""
    cust = load_table(spark, sf_dir, "customer")
    v = cust.select(
        "c_nationkey", _cents(F.col("c_acctbal")).alias("c")
    )
    g = v.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    tot = v.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("c").cast("long").alias("ss"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("qq"),
    )
    zf = g.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "n",
        (
            (
                F.col("s").cast("double") / F.col("n")
                - F.col("ss").cast("double") / F.col("nn")
            )
            / F.sqrt(
                (
                    (
                        F.col("qq").cast("double")
                        - F.col("ss").cast("double")
                        * F.col("ss")
                        / F.col("nn")
                    )
                    / (F.col("nn") - 1)
                )
                / F.col("n")
            )
        ).alias("zval"),
    )
    p = zf.select(
        "c_nationkey",
        "n",
        r6(F.col("zval")).alias("z_score"),
        r6(_col_p_two_sided(F.col("zval"))).alias("p_value"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = p.select(
        "*",
        F.row_number()
        .over(Window.orderBy("p_value", "c_nationkey"))
        .cast("long")
        .alias("bh_rank"),
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
    )
    crit = F.col("bh_rank").cast("double") / F.col("m") * F.lit(_BH_Q)
    flagged = ranked.withColumn(
        "passing",
        F.when(F.col("p_value") <= crit, F.col("bh_rank")).otherwise(F.lit(0)),
    )
    return flagged.select(
        "c_nationkey",
        "n",
        "z_score",
        "p_value",
        "bh_rank",
        r6(crit).alias("bh_critical"),
        (F.col("bh_rank") <= F.max("passing").over(wall)).alias("discovery"),
    )


# --- lake layout: manifest min/max pruning simulation ------------------------

_PRUNE_FILES = 64
_PRUNE_QUERIES = (
    ("q_week", "1997-03-01", "1997-03-07"),
    ("q_month", "1997-06-01", "1997-06-30"),
    ("q_year", "1997-01-01", "1997-12-31"),
)


@register(
    "s_manifest_prune_stats",
    tags=("source", "lake", "scan"),
    oracle=f"""
    WITH li AS (
      SELECT CAST(l_shipdate AS DATE) AS d, l_orderkey, l_linenumber
      FROM lineitem
    ),
    assigned AS (
      SELECT d,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                   || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT)
               % {_PRUNE_FILES} AS f_rnd,
             NTILE({_PRUNE_FILES}) OVER (ORDER BY d, l_orderkey,
                                         l_linenumber) - 1 AS f_srt
      FROM li
    ),
    files AS (
      SELECT 'random' AS layout, f_rnd AS f, MIN(d) AS lo, MAX(d) AS hi,
             CAST(COUNT(*) AS BIGINT) AS nrows
      FROM assigned GROUP BY 2
      UNION ALL
      SELECT 'sorted', f_srt, MIN(d), MAX(d), CAST(COUNT(*) AS BIGINT)
      FROM assigned GROUP BY 2
    ),
    qs AS (
      SELECT * FROM (VALUES {", ".join(
          f"('{q}', DATE '{lo}', DATE '{hi}')" for q, lo, hi in _PRUNE_QUERIES
      )}) v(q_id, qlo, qhi)
    ),
    matching AS (
      SELECT q.q_id, CAST(COUNT(*) AS BIGINT) AS rows_matching
      FROM li JOIN qs q ON li.d BETWEEN q.qlo AND q.qhi
      GROUP BY 1
    ),
    scan AS (
      SELECT f.layout, q.q_id,
             CAST(COUNT(*) AS BIGINT) AS files_scanned,
             CAST(SUM(f.nrows) AS BIGINT) AS rows_scanned
      FROM files f JOIN qs q ON f.lo <= q.qhi AND f.hi >= q.qlo
      GROUP BY 1, 2
    )
    SELECT s.layout, s.q_id, {_PRUNE_FILES} AS files_total,
           s.files_scanned, s.rows_scanned, m.rows_matching,
           FLOOR(CAST(s.rows_scanned AS DOUBLE) / m.rows_matching
                 * 1e4 + 0.5) / 1e4 AS scan_amplification
    FROM scan s JOIN matching m ON m.q_id = s.q_id
    """,
)
def s_manifest_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest min/max pruning simulation — the quantified argument for
    the lake-layout tier (zorder / compaction): assign every lineitem
    row to one of {nf} synthetic files under two layouts (random =
    md5-hash bucketing, sorted = NTILE over ship-date order, i.e. what
    a sort-on-write produces), compute each file's (min, max, rows)
    manifest entry, then replay three literal date-range queries
    against the manifests the way Iceberg/Delta data-skipping does
    (scan a file iff its range overlaps the predicate). Outputs
    files_scanned / rows_scanned vs rows_matching and the scan
    amplification ratio — on the random layout every file overlaps
    every query (amplification ~= table/selection), on the sorted
    layout the week query touches ~1 file: the measured case for
    sort-before-write at 100 TB, where this exact statistic decides
    petabytes of scan. Cross-engine: file ids (md5 buckets; NTILE over
    a UNIQUE total order — deterministic in both engines), manifests
    and counts are exact integers; only the final ratio is rounded.
    Engine shape: one window sort (the layout simulation itself) + two
    metadata-scale groupBys; the real sort-on-write at scale is a
    repartitionByRange the sinks tier already exercises."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("d"),
        "l_orderkey",
        "l_linenumber",
    )
    f_rnd = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _PRUNE_FILES
    )
    # Distributed NTILE (r14): the direct ntile() window demands a
    # SinglePartition exchange — a one-task global sort of the whole
    # table at ANY scale, exactly the straggler §2 warns about. The
    # total order (d, l_orderkey, l_linenumber) is unique, so the global
    # rank decomposes into a PER-DATE row_number (hash-partitioned by d,
    # parallel) plus a broadcast cumulative per-date offset, and the
    # tile follows from NTILE's bucket-assignment arithmetic (first
    # n % nf tiles get one extra row) — pinned bit-equal to ntile() by
    # tests/test_evaluation.py::test_distributed_ntile_matches_builtin.
    w_d = Window.partitionBy("d").orderBy("l_orderkey", "l_linenumber")
    loc = li.select(
        "d",
        f_rnd.alias("f_rnd"),
        F.row_number().over(w_d).alias("__lrn"),
    )
    dcnt = li.groupBy("d").agg(F.count(F.lit(1)).alias("__c"))
    offs = dcnt.select(
        "d",
        F.coalesce(
            F.sum("__c").over(
                Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    tot = dcnt.agg(F.sum("__c").alias("__n"))
    nf = F.lit(_PRUNE_FILES).cast("long")
    rn = (F.col("__off") + F.col("__lrn")).alias("__rn")
    assigned = (
        loc.join(F.broadcast(offs), "d")
        .crossJoin(F.broadcast(tot))
        .select("d", "f_rnd", rn, "__n")
        .select(
            "d",
            "f_rnd",
            F.expr(
                f"CASE WHEN __n % {_PRUNE_FILES} > 0 "
                f"      AND __rn <= (__n % {_PRUNE_FILES}) * (__n div {_PRUNE_FILES} + 1) "
                f"     THEN (__rn - 1) div (__n div {_PRUNE_FILES} + 1) + 1 "
                f"     ELSE __n % {_PRUNE_FILES} "
                f"          + (__rn - (__n % {_PRUNE_FILES}) * (__n div {_PRUNE_FILES} + 1) - 1) "
                f"            div (__n div {_PRUNE_FILES}) + 1 END - 1"
            ).alias("f_srt"),
        )
    )
    # melt BOTH layouts out of one pass before aggregating: the two
    # per-layout groupBys were union BRANCHES, and Spark does no CSE
    # across branches — the md5 bucketing and the global NTILE sort (the
    # expensive subtree) executed twice (r14 profile). One explode emits
    # (layout, f) pairs and one groupBy builds both manifests; min/max/
    # count are exact, so the result is unchanged.
    files = (
        assigned.select(
            "d",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("random").alias("layout"),
                        F.col("f_rnd").alias("f"),
                    ),
                    F.struct(
                        F.lit("sorted").alias("layout"),
                        F.col("f_srt").alias("f"),
                    ),
                )
            ).alias("lf"),
        )
        .select(F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f"), "d")
        .groupBy("layout", "f")
        .agg(
            F.min("d").alias("lo"),
            F.max("d").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("nrows"),
        )
    )
    qs = spark.createDataFrame(
        [(q, lo, hi) for q, lo, hi in _PRUNE_QUERIES],
        "q_id string, qlo string, qhi string",
    ).select(
        "q_id",
        F.col("qlo").cast("date").alias("qlo"),
        F.col("qhi").cast("date").alias("qhi"),
    )
    matching = (
        li.join(
            F.broadcast(qs),
            (F.col("d") >= F.col("qlo")) & (F.col("d") <= F.col("qhi")),
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("rows_matching"))
    )
    scan = (
        files.join(
            F.broadcast(qs),
            (F.col("lo") <= F.col("qhi")) & (F.col("hi") >= F.col("qlo")),
        )
        .groupBy("layout", "q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("files_scanned"),
            F.sum("nrows").cast("long").alias("rows_scanned"),
        )
    )
    return scan.join(F.broadcast(matching), "q_id").select(
        "layout",
        "q_id",
        F.lit(_PRUNE_FILES).alias("files_total"),
        "files_scanned",
        "rows_scanned",
        "rows_matching",
        r4(
            F.col("rows_scanned").cast("double") / F.col("rows_matching")
        ).alias("scan_amplification"),
    )


fmt_doc(s_manifest_prune_stats, 
    nf=_PRUNE_FILES
)


# --- time series: local-level Kalman filter ----------------------------------

_KAL_Q = 25.0  # process-noise variance (daily-count units^2)
_KAL_R = 400.0  # observation-noise variance


@register(
    "ts_kalman_level",
    tags=("timeseries", "ml"),
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, y, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
      FROM daily
    ),
    kal AS (
      SELECT t, day, y, CAST(y AS DOUBLE) AS x, {_KAL_R}e0 AS p, 1e0 AS k
      FROM idx WHERE t = 1
      UNION ALL
      SELECT i.t, i.day, i.y,
             kal.x + ((kal.p + {_KAL_Q}e0)
                      / (kal.p + {_KAL_Q}e0 + {_KAL_R}e0)) * (i.y - kal.x),
             (1e0 - (kal.p + {_KAL_Q}e0)
                    / (kal.p + {_KAL_Q}e0 + {_KAL_R}e0))
               * (kal.p + {_KAL_Q}e0),
             (kal.p + {_KAL_Q}e0) / (kal.p + {_KAL_Q}e0 + {_KAL_R}e0)
      FROM kal JOIN idx i ON i.t = kal.t + 1
    )
    SELECT day, y,
           FLOOR(x * 1e6 + 0.5) / 1e6 AS level,
           FLOOR(k * 1e6 + 0.5) / 1e6 AS gain
    FROM kal
    """,
)
def ts_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level (random-walk-plus-noise) Kalman filter over the daily
    event-count series: P'=P+q, K=P'/(P'+r), x+=K(y-x), P=(1-K)P' with
    literal q={q}, r={r} — the optimal online smoother this state-space
    family defines, complementing the EWMA tier (whose constant alpha is
    exactly the steady-state K this recursion converges to) with
    uncertainty-aware warm-up gains. The recursion telescopes through a
    single in-plan ``aggregate`` fold over the date-sorted day array —
    the croston/MMR pattern: state is (x, P, out), each step is the
    identical IEEE op sequence the oracle's recursive CTE runs, so
    levels and gains are bit-exact before the r6 grid. Engine shape:
    one groupBy to the bounded daily frame (the only data-sized stage
    at any scale), one single-row fold over <= horizon days; per-series
    filtering at 100 TB partitions the same fold by series key via
    groupBy(series).agg(aggregate(...)) with zero extra shuffles."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("a")
    )
    # An empty slice collects an empty day array: drop the single agg
    # row (oracle yields 0 rows) rather than let element_at(a, 1) throw
    # under ANSI (r12 empty-input sweep); constant-true at any real SF.
    arr = arr.filter(F.size("a") >= 1)
    first = F.element_at(F.col("a"), 1)
    out_t = "array<struct<day:date,y:bigint,x:double,k:double>>"
    init = F.struct(
        first["y"].cast("double").alias("x"),
        F.lit(_KAL_R).alias("p"),
        F.array(
            F.struct(
                first["day"].alias("day"),
                first["y"].alias("y"),
                first["y"].cast("double").alias("x"),
                F.lit(1.0).alias("k"),
            )
        ).cast(out_t).alias("out"),
    )

    def _step(acc, e):
        pp = acc["p"] + F.lit(_KAL_Q)
        k = pp / (pp + F.lit(_KAL_R))
        xn = acc["x"] + k * (e["y"] - acc["x"])
        pn = (F.lit(1.0) - k) * pp
        return F.struct(
            xn.alias("x"),
            pn.alias("p"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["day"].alias("day"),
                        e["y"].alias("y"),
                        xn.alias("x"),
                        k.alias("k"),
                    )
                ),
            ).alias("out"),
        )

    folded = arr.select(
        F.aggregate(
            F.slice(F.col("a"), 2, F.greatest(F.size("a") - 1, F.lit(0))),
            init,
            _step,
            lambda acc: acc["out"],
        ).alias("out")
    )
    return folded.select(F.explode("out").alias("o")).select(
        F.col("o.day").alias("day"),
        F.col("o.y").alias("y"),
        r6(F.col("o.x")).alias("level"),
        r6(F.col("o.k")).alias("gain"),
    )


fmt_doc(ts_kalman_level, q=_KAL_Q, r=_KAL_R)


# --- time series: Mann-Kendall trend test ------------------------------------


@register(
    "ts_mann_kendall",
    tags=("timeseries", "statistics"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pr AS (
      SELECT a.event_type,
             CASE WHEN b.y > a.y THEN 1
                  WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    s AS (
      SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
      FROM pr GROUP BY 1
    ),
    nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1
    ),
    tg AS (
      SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
      FROM daily GROUP BY 1, 2
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM tg GROUP BY 1
    ),
    v AS (
      SELECT s.event_type, s.s_stat, nn.n,
             (CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
              - ties.tie_term) / 18e0 AS var_s
      FROM s JOIN nn ON nn.event_type = s.event_type
      JOIN ties ON ties.event_type = s.event_type
    ),
    z AS (
      SELECT event_type, s_stat, n, var_s,
             CASE WHEN s_stat > 0
                    THEN (CAST(s_stat AS DOUBLE) - 1e0) / sqrt(var_s)
                  WHEN s_stat < 0
                    THEN (CAST(s_stat AS DOUBLE) + 1e0) / sqrt(var_s)
                  ELSE 0e0 END AS zval
      FROM v
    )
    SELECT event_type, n, s_stat,
           FLOOR(var_s * 1e6 + 0.5) / 1e6 AS var_s,
           FLOOR(zval * 1e6 + 0.5) / 1e6 AS z_score,
           FLOOR({_sql_p_two_sided("zval")} * 1e6 + 0.5) / 1e6 AS p_value,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall non-parametric trend test per daily event-type series:
    S = sum over ordered day pairs of sign(y_j - y_i), tie-corrected
    variance (n(n-1)(2n+5) - sum t(t-1)(2t+5))/18, continuity-corrected
    z, and the two-sided normal p through the shared A&S 7.1.26
    polynomial — the distribution-free complement to a_theil_sen_slope
    (which estimates the trend's MAGNITUDE; this tests its EXISTENCE
    without normality or linearity assumptions). Cross-engine: S and
    the tie term are exact integers; var_s is an exact-integer
    expression divided once by 18 — identical doubles — and z/p follow
    the identical op sequence before the r6 grid. Engine shape: one
    groupBy to the bounded daily frame, pair expansion bounded by
    horizon^2 per series (30 days = 435 pairs — the theil-sen fence
    applies verbatim for longer horizons), two metadata-scale
    aggregates. At 100 TB per-key trend screening is the same plan
    with series key in every GROUP BY."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    a = daily.select(
        "event_type", F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        "event_type", F.col("day").alias("db"), F.col("y").alias("yb")
    )
    pr = a.join(b, ["event_type"]).filter(F.col("da") < F.col("db")).select(
        "event_type",
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    s = pr.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s_stat")
    )
    nn = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        daily.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("tie_term")
        )
    )
    v = s.join(nn, "event_type").join(ties, "event_type").select(
        "event_type",
        "s_stat",
        "n",
        (
            (
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                - F.col("tie_term")
            )
            / F.lit(18.0)
        ).alias("var_s"),
    )
    zval = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat").cast("double") - F.lit(1.0))
            / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat").cast("double") + F.lit(1.0))
            / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    z = v.withColumn("zval", zval)
    return z.select(
        "event_type",
        "n",
        "s_stat",
        r6(F.col("var_s")).alias("var_s"),
        r6(F.col("zval")).alias("z_score"),
        r6(_col_p_two_sided(F.col("zval"))).alias("p_value"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


# --- embeddings: Johnson-Lindenstrauss random projection ---------------------

_JL_DIM = 16
_JL_SAMPLE = 20  # distortion audit over vec_id < 20 -> 190 pairs


@register(
    "emb_random_projection",
    tags=("similarity", "ml"),
    oracle=f"""
    WITH x AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id < {_JL_SAMPLE}
    ),
    expl AS (
      SELECT vec_id, generate_subscripts(e, 1) AS i, unnest(e) AS val
      FROM x
    ),
    proj AS (
      SELECT ex.vec_id, j.j,
             SUM(ex.val * (1 - 2 * (CAST(('0x' || substr(md5(
                    CAST(ex.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)
                  ), 1, 8)) AS BIGINT) % 2)))
               * (1e0 / sqrt({_JL_DIM}e0)) AS y
      FROM expl ex
      CROSS JOIN (SELECT unnest(generate_series(0, {_JL_DIM - 1})) AS j) j
      GROUP BY 1, 2
    ),
    d_orig AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             sqrt(SUM((a.val - b.val) * (a.val - b.val))) AS d0
      FROM expl a JOIN expl b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    d_proj AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             sqrt(SUM((a.y - b.y) * (a.y - b.y))) AS dp
      FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT o.va, o.vb,
           FLOOR(o.d0 * 1e6 + 0.5) / 1e6 AS dist_orig,
           FLOOR(p.dp * 1e6 + 0.5) / 1e6 AS dist_proj,
           CASE WHEN o.d0 > 0e0
                THEN FLOOR(p.dp / o.d0 * 1e6 + 0.5) / 1e6
                ELSE NULL END AS distortion
    FROM d_orig o JOIN d_proj p ON p.va = o.va AND p.vb = o.vb
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003 sign
    variant): project 64-dim embeddings to {d} dims with a +-1 sign
    matrix derived deterministically from md5(i_j) parity (scaled
    1/sqrt({d})), then AUDIT the projection by the pairwise Euclidean
    distortion dist_proj/dist_orig over the {s}-vector sample (190
    pairs) — the dimensionality-reduction leg of the embedding stack
    (quantization shrinks bits; this shrinks DIMS with a distance
    guarantee, the standard pre-step before LSH banding at extreme
    scale). The md5-derived matrix needs no stored model: any executor
    regenerates any cell from (i, j) — retry/speculation-safe like the
    curation tier's md5 draws. Cross-engine: sign cells are exact
    integers from identical md5 text; products and 64/16-term sums
    carry ulp-order fold noise only, absorbed by r6 — no ordering
    decision anywhere. Engine shape: the projection is one explode +
    one groupBy per (vec, out-dim) — map-side-combinable, no corpus
    shuffle growth beyond the {d}x row expansion; distances are
    dim-keyed self-joins on the SAMPLE only. At 100 TB the audit stays
    sample-sized while the projection itself is embarrassingly
    parallel (and would fold in-row via transform/aggregate to avoid
    the explode entirely — kept exploded here to mirror the oracle
    join shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.filter(F.col("vec_id") < _JL_SAMPLE).select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    expl = x.select(
        "vec_id", F.posexplode("e").alias("i0", "val")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "val")
    jrange = spark.range(_JL_DIM).select(F.col("id").cast("int").alias("j"))
    sign = 1 - 2 * (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("i").cast("string"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    proj = (
        expl.crossJoin(F.broadcast(jrange))
        .groupBy("vec_id", "j")
        .agg(
            (
                F.sum(F.col("val") * sign)
                * (F.lit(1.0) / F.sqrt(F.lit(float(_JL_DIM))))
            ).alias("y")
        )
    )
    ea = expl.select(F.col("vec_id").alias("va"), "i", F.col("val").alias("xa"))
    eb = expl.select(F.col("vec_id").alias("vb"), "i", F.col("val").alias("xb"))
    d_orig = (
        ea.join(eb, ["i"])
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sqrt(
                F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
            ).alias("d0")
        )
    )
    pa = proj.select(F.col("vec_id").alias("va"), "j", F.col("y").alias("ya"))
    pb = proj.select(F.col("vec_id").alias("vb"), "j", F.col("y").alias("yb"))
    d_proj = (
        pa.join(pb, ["j"])
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sqrt(
                F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
            ).alias("dp")
        )
    )
    return d_orig.join(d_proj, ["va", "vb"]).select(
        "va",
        "vb",
        r6(F.col("d0")).alias("dist_orig"),
        r6(F.col("dp")).alias("dist_proj"),
        F.when(F.col("d0") > 0.0, r6(F.col("dp") / F.col("d0")))
        .otherwise(F.lit(None).cast("double"))
        .alias("distortion"),
    )


fmt_doc(emb_random_projection, 
    d=_JL_DIM, s=_JL_SAMPLE
)


# --- dedup quality: LSH candidate-stage recall/precision audit ---------------

# md5-derived minhash permutations: unlike the production cascade's
# xxhash64 signatures (operators.dedup — faster, but not expressible in
# the oracle engine), these hashes and permutation constants are plain
# SQL in BOTH engines, so the *candidate set itself* can be
# hash-checked. 16 permutations, banded r=2 x b=8: P(candidate | s)
# = 1 - (1 - s^2)^8 (~0.90 at the 0.5 truth threshold, ~1.0 at s>=0.8).
_M31 = 2147483647
import random as _random

_LSH_EVAL_PERMS: tuple[tuple[int, int], ...] = tuple(
    (_r.randrange(1, _M31), _r.randrange(0, _M31))
    for _r in (_random.Random(20250815),)
    for _ in range(16)
)
_LSH_EVAL_BANDS = 8  # r=2 rows per band


def _lsh_eval_sig_sql() -> str:
    mins = ",\n             ".join(
        f"MIN((h * {a} + {b}) % {_M31}) AS s{i}"
        for i, (a, b) in enumerate(_LSH_EVAL_PERMS)
    )
    return f"SELECT doc_id,\n             {mins}\n      FROM hs GROUP BY 1"


def _lsh_eval_bands_sql() -> str:
    return "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, s{2 * b} AS v1, s{2 * b + 1} AS v2 "
        "FROM sig"
        for b in range(_LSH_EVAL_BANDS)
    )


@register(
    "dedup_lsh_candidate_eval",
    bench=True,  # round-7 continuation representative: composite dedup audit
    tags=("dedup", "lsh", "eval"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, len(words) - 2)) AS i) t
    ),
    shf AS (
      SELECT doc_id, sh FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS nc
      FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT da, db FROM common
      JOIN sizes na ON da = na.doc_id
      JOIN sizes nb ON db = nb.doc_id
      WHERE nc / (na.n + nb.n - nc) >= 0.5
    ),
    hs AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) % {_M31} AS h
      FROM sh
    ),
    sig AS (
      {_lsh_eval_sig_sql()}
    ),
    bands AS (
      {_lsh_eval_bands_sql()}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
       AND a.doc_id < b.doc_id
    ),
    counts AS (
      SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM sh)
               AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM cand c JOIN truth t ON t.da = c.da AND t.db = c.db)
               AS n_hits
    )
    SELECT n_docs, n_truth, n_candidates, n_hits,
           CASE WHEN n_truth > 0
                THEN FLOOR(CAST(n_hits AS DOUBLE) / n_truth * 1e6 + 0.5) / 1e6
                ELSE NULL END AS recall,
           CASE WHEN n_candidates > 0
                THEN FLOOR(CAST(n_hits AS DOUBLE) / n_candidates * 1e6 + 0.5)
                     / 1e6
                ELSE NULL END AS precision_,
           FLOOR(CAST(n_candidates AS DOUBLE) / n_docs * 1e4 + 0.5) / 1e4
             AS candidates_per_doc
    FROM counts
    """,
)
def dedup_lsh_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-stage quality audit: generate MinHash-LSH candidate
    pairs from an ORACLE-REPLICABLE signature scheme (md5-derived shingle
    hashes, 16 literal (a*h+b) mod 2^31-1 permutations, banded r=2 x
    b=8) and score them against the exact 3-shingle Jaccard>=0.5 truth
    pairs: recall (what fraction of true near-dups the bands surface —
    banding theory predicts 1-(1-s^2)^8, ~0.90 at the threshold and
    ~1.0 for strong dups), precision (what fraction of the verify
    workload is real), and candidates-per-doc (the scale cost driver).
    This measures the production cascade's DESIGN — same banding
    topology as operators.dedup, different (slower, SQL-expressible)
    hash family — so the verify-stage sizing at 100 TB can be read off
    a small-SF audit instead of guessed; the production xxhash64 path
    stays the hot one. Cross-engine: signatures, buckets, candidate and
    truth sets are all exact integers/strings (identical md5 text);
    metrics are exact rationals. Engine shape: signatures are
    map-side-combinable MIN aggregates (one row per doc out of the
    shingle shuffle); buckets expand pairs IN-ROW from sorted id lists
    (no self-join on the Spark side — the oracle's join is SQL
    clarity); truth reuses jaccard_pairs' capped inverted index; the
    eligible-doc count is a plain token-count scan (>= 3 tokens <=> has
    a 3-shingle), not a shingle-pipeline pass. The corpus-sized maps are
    spread with an explicit doc_id repartition BEFORE the shingle
    explode (the fixture parquet is one partition — unpartitioned, the
    whole explode+md5 chain ran on a single task: measured 4.7 s ->
    1.2 s for the candidate leg at sf0.1). Rejected with numbers:
    materializing sh/sig/postings/candidates via localCheckpoint — every
    combination measured at or above the lazy plan (7.2-8.5 s vs 6.9 s
    same-session; the per-checkpoint fixed cost outweighs the bounded
    double-compute of the two tiny pair frames)."""
    from ..functions.text import sql_shingles_from_tokens, tokens
    from ..operators.dedup import expand_pairs, fanout, jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        fanout(docs, F.col("doc_id"))
        # toks MUST be its own projection: inlining tokens(text) into the
        # shingle lambda re-splits the document once per shingle position
        # (no CSE inside higher-order functions — the shingles_from_tokens
        # contract). Measured at sf0.1: 3.0 s -> 0.72 s for this stage.
        .selectExpr("doc_id", f"{TOKENS_SQL.format(col='text')} AS toks")
        .selectExpr(
            "doc_id",
            "explode_outer(array_distinct("
            f"{sql_shingles_from_tokens('toks', 3)})) AS sh",
        )
        .filter("sh IS NOT NULL")
    )
    hs = sh.selectExpr(
        "doc_id",
        f"CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT) % {_M31} "
        "AS h",
    )
    # expression strings: one gateway roundtrip per aggregate instead of
    # one per Column-builder call (construction cost)
    sig = hs.groupBy("doc_id").agg(
        *[
            F.expr(f"min((h * {a}L + {b}L) % {_M31}L) AS s{i}")
            for i, (a, b) in enumerate(_LSH_EVAL_PERMS)
        ]
    )
    band_structs = ", ".join(
        f"struct({b} AS band, s{2 * b} AS v1, s{2 * b + 1} AS v2)"
        for b in range(_LSH_EVAL_BANDS)
    )
    bands = sig.select(
        "doc_id", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("doc_id", "bb.band", "bb.v1", "bb.v2")
    # two-generator expansion (see operators.dedup.expand_pairs):
    # same pair set, codegen Generates instead of interpreted HOF arrays
    cand = expand_pairs(
        bands.groupBy("band", "v1", "v2")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1),
        a="da",
        b="db",
    ).distinct()
    truth = jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.5, max_df=1000
    ).selectExpr("doc_a AS da", "doc_b AS db")
    n_docs = docs.filter(F.size(tokens(F.col("text"))) >= 3).agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_docs")
    )
    n_truth = truth.agg(F.expr("CAST(count(1) AS BIGINT) AS n_truth"))
    # n_candidates and n_hits in ONE pass over the candidate frame (a
    # left join against truth marks hits; round-9 job-floor shave — the
    # old shape ran a separate aggregate chain per scalar plus an extra
    # crossJoin). Values identical: COUNT(*) of cand, and the number of
    # cand pairs present in truth (truth pairs are distinct, so the left
    # join cannot fan out).
    cand_stats = cand.join(
        truth.withColumn("hit", F.lit(1)), ["da", "db"], "left"
    ).agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_candidates"),
        F.expr("CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_hits"),
    )
    counts = n_docs.crossJoin(n_truth).crossJoin(cand_stats)
    return counts.selectExpr(
        "n_docs",
        "n_truth",
        "n_candidates",
        "n_hits",
        "CASE WHEN n_truth > 0 THEN "
        f"{sql_r6('CAST(n_hits AS DOUBLE) / n_truth')} "
        "ELSE CAST(NULL AS DOUBLE) END AS recall",
        "CASE WHEN n_candidates > 0 THEN "
        f"{sql_r6('CAST(n_hits AS DOUBLE) / n_candidates')} "
        "ELSE CAST(NULL AS DOUBLE) END AS precision_",
        # n_docs = 0 (an empty corpus slice) must yield NULL like the
        # oracle, not an ANSI divide-by-zero (r12 empty-input sweep)
        "CASE WHEN n_docs > 0 THEN "
        f"{sql_r4('CAST(n_candidates AS DOUBLE) / n_docs')} "
        "ELSE CAST(NULL AS DOUBLE) END AS candidates_per_doc",
    )


# --- robust location: Hodges-Lehmann estimator -------------------------------


@register(
    "a_hodges_lehmann",
    tags=("aggregate", "statistics", "timeseries"),
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY y, day)
               AS rn
      FROM daily
    ),
    walsh AS (
      SELECT a.event_type, a.y + b.y AS w2
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.rn <= b.rn
    ),
    ranked AS (
      SELECT event_type, w2,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY w2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM walsh
    )
    SELECT event_type,
           CAST((SELECT COUNT(*) FROM daily d
                 WHERE d.event_type = ranked.event_type) AS BIGINT) AS n,
           CAST(cnt AS BIGINT) AS n_pairs,
           CAST(w2 AS DOUBLE) / 2e0 AS hl_estimate
    FROM ranked WHERE rn = (cnt + 1) // 2
    """,
)
def a_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimator per daily event-type series: the
    LOWER MEDIAN of all n(n+1)/2 Walsh averages (y_i + y_j)/2, i <= j —
    the robust location partner of the rank tests (it is the estimator
    the Wilcoxon signed-rank test inverts; ~96% Gaussian efficiency with
    a 29% breakdown point, vs the plain median's 64%). Exactness trick:
    Walsh averages are kept DOUBLED (y_i + y_j — exact integers) through
    ranking and halved only on output, so selection is pure integer
    ordering and the result is exact on both engines (always .0 or .5).
    Engine shape: one groupBy to the bounded daily frame; pair expansion
    runs IN-ROW over the per-series sorted array (30 days = 465 Walsh
    values — the theil-sen horizon fence applies for longer series); the
    oracle's self-join formulation is SQL clarity. At 100 TB: the daily
    collapse is the only data-sized stage."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    arr = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list("y")).alias("ys"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    walsh = F.flatten(
        F.transform(
            "ys",
            lambda x, i: F.transform(
                F.slice(
                    F.col("ys"),
                    i + F.lit(1),
                    F.greatest(F.size("ys") - i, F.lit(0)),
                ),
                lambda y2: x + y2,
            ),
        )
    )
    w = arr.select(
        "event_type", "n", F.array_sort(walsh).alias("w2s")
    )
    return w.select(
        "event_type",
        "n",
        F.size("w2s").cast("long").alias("n_pairs"),
        (
            F.element_at(
                F.col("w2s"), ((F.size("w2s") + 1) / 2).cast("int")
            ).cast("double")
            / F.lit(2.0)
        ).alias("hl_estimate"),
    )


# --- window family: exact rolling median -------------------------------------

_ROLLMED_DAYS = 7


@register(
    "w_rolling_median",
    tags=("window", "timeseries"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT event_type, day, y,
             list_sort(list(y) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN {_ROLLMED_DAYS - 1} PRECEDING
                            AND CURRENT ROW)) AS w
      FROM daily
    )
    SELECT event_type, day, y,
           CAST(len(w) AS BIGINT) AS n_window,
           CAST(list_extract(w, (len(w) + 1) // 2) AS BIGINT)
             AS rolling_median
    FROM win
    """,
)
def w_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {d}-day rolling LOWER-MEDIAN of daily counts per event-type
    series — the robust rolling-center complement to the moving-average /
    EWMA tier (one outlier day cannot move it). Medians over a frame are
    not decomposable, so no built-in windowed aggregate exists on either
    engine; the portable exact formulation collects the bounded frame
    ({d} values) per row, sorts in-row, and selects the (n+1)//2 order
    statistic — integer in, integer out, bit-exact across engines with
    no rounding grid at all. Engine shape: one groupBy to the daily
    frame, one window per series partition whose per-row state is
    bounded by the literal frame width — at 100 TB with per-key series
    this is a single range-partitioned window over the (tiny) daily
    collapse; frame width growth trades linearly, never with data
    volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(_ROLLMED_DAYS - 1), Window.currentRow
    )
    win = daily.withColumn("w", F.array_sort(F.collect_list("y").over(w)))
    return win.select(
        "event_type",
        "day",
        "y",
        F.size("w").cast("long").alias("n_window"),
        F.element_at(
            F.col("w"), ((F.size("w") + 1) / 2).cast("int")
        ).cast("long").alias("rolling_median"),
    )


fmt_doc(w_rolling_median, d=_ROLLMED_DAYS)


# --- embeddings: sign-bit Hamming top-k --------------------------------------

_HAM_QUERIES = 5
_HAM_K = 5


def _sql_signword(e: str, lo: int, hi: int) -> str:
    """64-dim sign bitmap packed into a BIGINT word covering dims
    [lo, hi] (1-based, inclusive; <= 32 bits so the word stays positive)."""
    return (
        f"list_sum(list_transform(generate_series({lo}, {hi}), "
        f"i -> CASE WHEN {e}[i] > 0e0 "
        f"THEN CAST(pow(2e0, i - {lo}) AS BIGINT) ELSE 0 END))"
    )


def _col_signword(e, lo: int, hi: int):
    """Spark twin of :func:`_sql_signword`."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(lo), F.lit(hi)),
            lambda i: F.when(
                F.element_at(e, i.cast("int")) > 0.0,
                F.pow(F.lit(2.0), (i - F.lit(lo)).cast("double")).cast("long"),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@register(
    "emb_hamming_topk",
    tags=("similarity", "lsh"),
    oracle=f"""
    WITH x AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    w AS (
      SELECT vec_id,
             CAST({_sql_signword("e", 1, 32)} AS BIGINT) AS w_lo,
             CAST({_sql_signword("e", 33, 64)} AS BIGINT) AS w_hi
      FROM x
    ),
    q AS (SELECT * FROM w WHERE vec_id < {_HAM_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             CAST(bit_count(xor(q.w_lo, c.w_lo))
                  + bit_count(xor(q.w_hi, c.w_hi)) AS BIGINT) AS hamming
      FROM q JOIN w c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, hamming,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, cand_id) AS BIGINT)
               AS rnk
      FROM scored
    )
    SELECT query_id, rnk, cand_id, hamming
    FROM ranked WHERE rnk <= {_HAM_K}
    """,
)
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit Hamming top-k: binarize each 64-dim embedding by
    coordinate sign into TWO packed 32-bit BIGINT words (staying under
    the sign bit), then rank candidates per standard query vector by
    Hamming distance popcount(xor(lo)) + popcount(xor(hi)) — the
    1-bit-per-dim compressed similarity search (Charikar 2002 sign
    random projection, identity rotation): 64 dims collapse to 8 BYTES
    per vector and distance costs two XORs and two popcounts, the
    memory-bandwidth regime ANN shortlisting wants at 10^9+ vectors
    (exact re-rank follows on the shortlist — sim_cosine_topk's job).
    Cross-engine: bit packing, XOR, popcount, ranks are ALL exact
    integers — no rounding grid anywhere in this operator. Engine
    shape: packing is one in-row fold at scan speed; the {nq}-row query
    side broadcasts; the corpus never shuffles; per-query ranking is
    TakeOrdered-shaped. At 100 TB the words live as two BIGINT columns
    in parquet (delta-encoded), scanned without touching the float
    arrays at all — the scan-pruning win is the point."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    w = x.select(
        "vec_id",
        _col_signword(F.col("e"), 1, 32).alias("w_lo"),
        _col_signword(F.col("e"), 33, 64).alias("w_hi"),
    )
    q = w.filter(F.col("vec_id") < _HAM_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    scored = w.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        (
            F.bit_count(F.col("q_lo").bitwiseXOR(F.col("w_lo")))
            + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("w_hi")))
        ).cast("long").alias("hamming"),
    )
    ranked = scored.select(
        "query_id",
        "cand_id",
        "hamming",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy("hamming", "cand_id")
        )
        .cast("long")
        .alias("rnk"),
    )
    return ranked.filter(F.col("rnk") <= _HAM_K).select(
        "query_id", "rnk", "cand_id", "hamming"
    )


fmt_doc(emb_hamming_topk, nq=_HAM_QUERIES)


# --- funnel timing: click -> purchase conversion lag -------------------------


@register(
    "events_conversion_lag",
    tags=("events", "aggregate", "funnel"),
    oracle="""
    WITH uc AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_click_us
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    up AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts)) AS first_purchase_us
      FROM events e JOIN uc ON uc.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > uc.first_click_us
      GROUP BY 1
    ),
    lag_t AS (
      SELECT uc.user_id,
             (up.first_purchase_us - uc.first_click_us) // 1000000 AS lag_s
      FROM uc JOIN up ON up.user_id = uc.user_id
    ),
    ranked AS (
      SELECT lag_s,
             ROW_NUMBER() OVER (ORDER BY lag_s, user_id) AS rn,
             COUNT(*) OVER () AS cnt,
             SUM(lag_s) OVER () AS tot
      FROM lag_t
    )
    SELECT CAST(cnt AS BIGINT) AS n_converters,
           CAST(MIN(CASE WHEN rn = (cnt + 1) // 2 THEN lag_s END)
                AS BIGINT) AS median_lag_s,
           CAST(MIN(CASE WHEN rn = CAST(CEIL(0.9e0 * cnt) AS BIGINT)
                         THEN lag_s END) AS BIGINT) AS p90_lag_s,
           FLOOR(CAST(MIN(tot) AS DOUBLE) / cnt * 1e2 + 0.5) / 1e2
             AS mean_lag_s
    FROM ranked GROUP BY cnt
    """,
)
def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase conversion-lag summary: per user, the first click
    and the first purchase STRICTLY AFTER it; the lag distribution is
    reported as exact order statistics (lower median, ceil(0.9n) p90 —
    no interpolation, bit-exact) plus the exact-rational mean — the
    time-to-convert measurement that w_funnel_conversion (which counts
    WHO converts) deliberately omits. Cross-engine: lags are integer
    seconds from integer microsecond minima; order-statistic selection
    ranks integers with user_id tiebreak; the mean is an exact-integer
    sum over an exact count. Engine shape: two map-side-combinable
    per-user MIN aggregates, one user-keyed join, one rank window over
    CONVERTERS only (a small fraction of users) — at 100 TB the p90
    would come from percentile_approx on the same frame; the exact rank
    formulation is the oracle-checkable tier."""
    ev = load_table(spark, sf_dir, "events")
    uc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_click_us"))
    )
    up = (
        ev.filter(F.col("event_type") == "purchase")
        .join(uc, "user_id")
        .filter(F.unix_micros("ts") > F.col("first_click_us"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_purchase_us"))
    )
    lag = uc.join(up, "user_id").select(
        "user_id",
        (
            (F.col("first_purchase_us") - F.col("first_click_us"))
            / F.lit(1_000_000)
        ).cast("long").alias("lag_s"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = lag.select(
        "lag_s",
        F.row_number().over(Window.orderBy("lag_s", "user_id")).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
        F.sum("lag_s").over(wall).alias("tot"),
    )
    return ranked.groupBy("cnt").agg(
        F.min(
            F.when(F.col("rn") == ((F.col("cnt") + 1) / 2).cast("long"), F.col("lag_s"))
        ).cast("long").alias("median_lag_s"),
        F.min(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.9) * F.col("cnt")).cast("long"),
                F.col("lag_s"),
            )
        ).cast("long").alias("p90_lag_s"),
        r2(F.min("tot").cast("double") / F.col("cnt")).alias("mean_lag_s"),
    ).select(
        F.col("cnt").cast("long").alias("n_converters"),
        "median_lag_s",
        "p90_lag_s",
        "mean_lag_s",
    )


# --- A/B experimentation: deterministic permutation test + power -------------

_PERM_B = 199  # permutation draws; p resolution = 1/(B+1) = 0.005


@register(
    "a_permutation_test",
    tags=("aggregate", "statistics"),
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS variant
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    obs AS (
      SELECT abs(SUM(CASE WHEN variant = 1 THEN CAST(s AS DOUBLE) END)
                   / SUM(CASE WHEN variant = 1 THEN c END)
                 - SUM(CASE WHEN variant = 0 THEN CAST(s AS DOUBLE) END)
                   / SUM(CASE WHEN variant = 0 THEN c END)) AS stat
      FROM u
    ),
    perms AS (
      SELECT b.b,
             CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '_'
                   || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS pv,
             u.s, u.c
      FROM u CROSS JOIN
           (SELECT unnest(generate_series(1, {_PERM_B})) AS b) b
    ),
    pstat AS (
      SELECT b,
             abs(SUM(CASE WHEN pv = 1 THEN CAST(s AS DOUBLE) END)
                   / SUM(CASE WHEN pv = 1 THEN c END)
                 - SUM(CASE WHEN pv = 0 THEN CAST(s AS DOUBLE) END)
                   / SUM(CASE WHEN pv = 0 THEN c END)) AS stat
      FROM perms GROUP BY 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_users,
           FLOOR((SELECT stat FROM obs) * 1e6 + 0.5) / 1e6 AS stat_observed,
           CAST({_PERM_B} AS BIGINT) AS n_perms,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pstat, obs
            WHERE pstat.stat >= obs.stat) AS n_extreme,
           FLOOR((1e0 + (SELECT COUNT(*) FROM pstat, obs
                         WHERE pstat.stat >= obs.stat))
                 / (1e0 + {_PERM_B}) * 1e6 + 0.5) / 1e6 AS p_value
    FROM (SELECT 1)
    """,
)
def a_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic permutation test for the A/B mean-purchase-value
    difference: the observed |mean_A - mean_B| (CUPED's md5-parity
    variants) is ranked against {b} RE-RANDOMIZED assignments, each
    derived from md5(user_id '_' b) parity — Fisher's exact-
    randomization logic with ZERO distributional assumptions, and the
    standard add-one p = (1 + #extreme)/(1 + B) (Phipson & Smith 2010).
    Deterministic md5 draws mean any executor, any retry, any engine
    reproduces the identical permutation matrix — the property rand()
    cannot give (same doctrine as the curation tier's md5 sampling).
    Cross-engine: per-user totals are exact integer cents; each
    permutation's group sums are exact integers in a FIXED partition of
    users, so every mean and |difference| is an identical double —
    comparisons against the observed stat are exact, and p is an exact
    rational. Engine shape: ONE pass collapses events to per-user
    totals (the only data-sized stage); the {b}x expansion runs over
    USERS, not events, and one groupBy(b) reduces it — at 100 TB with
    10^8 users this is a 199-way map-side-combinable aggregate, no
    state beyond 2x199 partial sums per task."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(_cents(F.col("value"))).cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
        .select(
            "*",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("variant"),
        )
    )

    def mean_diff(vcol):
        return F.abs(
            F.sum(F.when(vcol == 1, F.col("s").cast("double"))).cast("double")
            / F.sum(F.when(vcol == 1, F.col("c")))
            - F.sum(F.when(vcol == 0, F.col("s").cast("double"))).cast(
                "double"
            )
            / F.sum(F.when(vcol == 0, F.col("c")))
        )

    obs = u.agg(
        mean_diff(F.col("variant")).alias("stat"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    b = spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
    pv = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("user_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    pstat = (
        u.crossJoin(F.broadcast(b))
        .select("b", "s", "c", pv.alias("pv"))
        .groupBy("b")
        .agg(mean_diff(F.col("pv")).alias("stat"))
    )
    extreme = (
        pstat.crossJoin(F.broadcast(obs.select("stat").withColumnRenamed("stat", "stat_obs")))
        .filter(F.col("stat") >= F.col("stat_obs"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_extreme"))
    )
    return obs.crossJoin(F.broadcast(extreme)).select(
        "n_users",
        r6(F.col("stat")).alias("stat_observed"),
        F.lit(_PERM_B).cast("long").alias("n_perms"),
        "n_extreme",
        r6(
            (F.lit(1.0) + F.col("n_extreme"))
            / F.lit(1.0 + _PERM_B)
        ).alias("p_value"),
    )


fmt_doc(a_permutation_test, b=_PERM_B)


@register(
    "events_ab_power",
    tags=("events", "statistics", "aggregate"),
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s,
             CAST(SUM(c * c) AS BIGINT) AS q
      FROM v
    )
    SELECT n,
           FLOOR(CAST(s AS DOUBLE) / n / 1e2 * 1e4 + 0.5) / 1e4 AS mean_value,
           FLOOR(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / (n - 1)) / 1e2 * 1e4 + 0.5) / 1e4 AS sd_value,
           FLOOR(CAST(s AS DOUBLE) / n * 0.05e0 / 1e2 * 1e4 + 0.5) / 1e4
             AS mde_value,
           CAST(CEIL(
             (1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0)
             * 2e0 * ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / (n - 1))
             / ((CAST(s AS DOUBLE) / n * 0.05e0)
                * (CAST(s AS DOUBLE) / n * 0.05e0))
           ) AS BIGINT) AS n_per_arm
    FROM m
    """,
)
def events_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size (power) calculator from observed moments: with the
    purchase-value variance estimated from the data, the two-sample
    n-per-arm for detecting a 5% relative lift at alpha=0.05 two-sided
    (z=1.959964) with 80% power (z=0.841621) is
    (z_a+z_b)^2 * 2 sigma^2 / delta^2 — the experiment-design closed
    form that decides whether the CUPED / permutation / z-test tier can
    even be run at a given traffic level (and the reason CUPED exists:
    its 1-rho^2 variance cut divides straight into this n). Cross-engine:
    moments are exact integer cents; the formula assembles once with an
    identical op sequence; ceil of an identical double is identical.
    Engine shape: one map-side-combinable global aggregate — one row,
    one shuffle, any scale."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.filter(F.col("event_type") == "purchase").select(
        _cents(F.col("value")).alias("c")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    mean_c = F.col("s").cast("double") / F.col("n")
    delta = mean_c * F.lit(0.05)
    zsum = F.lit(1.959964) + F.lit(0.841621)
    return m.select(
        "n",
        r4(mean_c / F.lit(1e2)).alias("mean_value"),
        r4(F.sqrt(var) / F.lit(1e2)).alias("sd_value"),
        r4(delta / F.lit(1e2)).alias("mde_value"),
        F.ceil(zsum * zsum * F.lit(2.0) * var / (delta * delta))
        .cast("long")
        .alias("n_per_arm"),
    )


# --- TextRank keywords -----------------------------------------------------------

_TR_STOPS = ("the", "and", "of", "is", "a")  # same list as RAKE
_TR_VOCAB = 120   # df-capped vocabulary fence (bounded model state)
_TR_ITERS = 8
_TR_TOPK = 15
_TR_DAMP_NUM = "8.5e-1"
_TR_REST_NUM = "1.5e-1"


def _textrank_oracle() -> str:
    parts = [
        f"""
    WITH tok AS (
      SELECT doc_id,
             lower(unnest(string_split_regex(trim(text), '\\s+'))) AS tok,
             generate_subscripts(
               string_split_regex(trim(text), '\\s+'), 1) AS pos
      FROM documents
    ),
    kept AS (
      SELECT doc_id, tok, pos FROM tok WHERE tok NOT IN {_TR_STOPS!r}
    ),
    vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM kept GROUP BY 1
      ORDER BY cnt DESC, tok LIMIT {_TR_VOCAB}
    ),
    adj AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.tok IN (SELECT tok FROM vocab)
        AND b.tok IN (SELECT tok FROM vocab)
        AND a.tok <> b.tok
    ),
    edges AS (
      SELECT w1 AS src, w2 AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM (SELECT w1, w2 FROM adj UNION ALL SELECT w2, w1 FROM adj)
      GROUP BY 1, 2
    ),
    outs AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vocab),
    r0 AS (
      SELECT v.tok AS t,
             CAST(FLOOR(1e9 / nn.n + 0.5) AS BIGINT) AS rq
      FROM vocab v CROSS JOIN nn
    )"""
    ]
    for i in range(1, _TR_ITERS + 1):
        parts.append(
            f""",
    s{i} AS (
      SELECT e.dst AS t,
             CAST(SUM(CAST(FLOOR(CAST(e.w * r.rq AS DOUBLE) / o.outw + 0.5)
                           AS BIGINT)) AS BIGINT) AS sq
      FROM edges e
      JOIN r{i - 1} r ON r.t = e.src
      JOIN outs o ON o.src = e.src
      GROUP BY 1
    ),
    r{i} AS (
      SELECT v.tok AS t,
             CAST(FLOOR({_TR_REST_NUM} * 1e9 / nn.n
                        + {_TR_DAMP_NUM} * COALESCE(s.sq, 0) + 0.5)
                  AS BIGINT) AS rq
      FROM vocab v
      CROSS JOIN nn
      LEFT JOIN s{i} s ON s.t = v.tok
    )"""
        )
    parts.append(
        f"""
    SELECT t AS word, v.cnt AS n_count,
           FLOOR(rq / 1e9 * 1e6 + 0.5) / 1e6 AS rank
    FROM r{_TR_ITERS} r JOIN vocab v ON v.tok = r.t
    ORDER BY rq DESC, t LIMIT {_TR_TOPK}"""
    )
    return "".join(parts)


@register(
    "text_textrank_keywords",
    tags=("text", "retrieval", "iterative"),
    oracle=_textrank_oracle(),
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank corpus keywords (Mihalcea & Tarau 2004): weighted
    PageRank (d=0.85, 8 iterations) over the adjacent-word
    co-occurrence graph restricted to the top-{v} non-stopword
    vocabulary, emitting the top {k} words by rank — the graph-based
    complement to RAKE (degree/freq islands) and TF-IDF (counting).
    Engine shape: tokens explode in-row from the split array (zip of
    the array with its tail — no positional self-join, no shuffle for
    pair extraction), the vocabulary fence caps the graph at {v} nodes,
    and the edge list — bounded model state exactly like the HITS
    matrix — collects once and iterates on the driver with the
    identical quantized op sequence the oracle's generated CTE stack
    walks (per-term FLOOR(w*rq/out + .5) BIGINTs, rest+damp regrid per
    round; dangling-node mass leaks by design, documented PageRank
    simplification). At 100 TB only tokenize + two bounded aggregates
    touch data; the iteration is O(|edges|) driver math under the
    vocab² cap."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("ws")
    )
    toks = docs.select(
        "doc_id",
        F.expr("transform(ws, w -> lower(w))").alias("ws"),
    )
    kept = toks.select(
        F.explode("ws").alias("tok")
    ).filter(~F.col("tok").isin(*_TR_STOPS))
    vocab = (
        kept.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(_TR_VOCAB)
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(ws, 1, size(ws) - 1), "
                "slice(ws, 2, size(ws) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2").filter(F.col("w1") != F.col("w2"))
    v1 = F.broadcast(vocab.select(F.col("tok").alias("w1")))
    v2 = F.broadcast(vocab.select(F.col("tok").alias("w2")))
    adj = pairs.join(v1, "w1").join(v2, "w2")
    edges = (
        adj.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionAll(adj.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    import math

    erows = edges.collect()  # bounded by vocab² fence: model state
    vrows = vocab.collect()
    cnt = {r.tok: r.cnt for r in vrows}
    n = len(vrows)
    outw = {}
    for r in erows:
        outw[r.src] = outw.get(r.src, 0) + r.w
    rq = {t: math.floor(1e9 / n + 0.5) for t in cnt}
    damp, rest = float(_TR_DAMP_NUM), float(_TR_REST_NUM)
    for _ in range(_TR_ITERS):
        sq = {t: 0 for t in cnt}
        for r in erows:
            sq[r.dst] += math.floor(float(r.w * rq[r.src]) / outw[r.src] + 0.5)
        rq = {
            t: math.floor(rest * 1e9 / n + damp * sq[t] + 0.5) for t in cnt
        }
    top = sorted(cnt, key=lambda t: (-rq[t], t))[:_TR_TOPK]
    out_rows = [
        (t, int(cnt[t]), math.floor(rq[t] / 1e9 * 1e6 + 0.5) / 1e6)
        for t in top
    ]
    return spark.createDataFrame(
        out_rows, schema="word string, n_count long, rank double"
    )


fmt_doc(text_textrank_keywords, 
    v=_TR_VOCAB, k=_TR_TOPK
)


# --- conversion-time CDF ------------------------------------------------------------

_CDF_CHECKPOINTS = (5, 30, 60, 360, 1440, 10080)  # minutes


@register(
    "w_conversion_time_cdf",
    tags=("events", "funnel", "aggregate"),
    oracle=f"""
    WITH uc AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_click_us
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    up AS (
      SELECT e.user_id,
             MIN(epoch_us(e.ts)) AS first_purchase_us
      FROM events e JOIN uc ON uc.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > uc.first_click_us
      GROUP BY 1
    ),
    lag_t AS (
      SELECT uc.user_id,
             up.first_purchase_us - uc.first_click_us AS lag_us
      FROM uc LEFT JOIN up ON up.user_id = uc.user_id
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_clickers,
             CAST(COUNT(lag_us) AS BIGINT) AS n_converted
      FROM lag_t
    )
    SELECT CAST(cp.m AS BIGINT) AS checkpoint_minutes,
           b.n_clickers, b.n_converted,
           CAST(SUM(CASE WHEN l.lag_us IS NOT NULL
                         AND l.lag_us <= CAST(cp.m AS BIGINT) * 60000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within,
           FLOOR(CAST(SUM(CASE WHEN l.lag_us IS NOT NULL
                          AND l.lag_us <= CAST(cp.m AS BIGINT) * 60000000 THEN 1 ELSE 0 END)
                      AS DOUBLE) / b.n_converted * 1e6 + 0.5) / 1e6
             AS share_of_conversions,
           FLOOR(CAST(SUM(CASE WHEN l.lag_us IS NOT NULL
                          AND l.lag_us <= CAST(cp.m AS BIGINT) * 60000000 THEN 1 ELSE 0 END)
                      AS DOUBLE) / b.n_clickers * 1e6 + 0.5) / 1e6
             AS share_of_clickers
    FROM lag_t l
    CROSS JOIN (SELECT unnest(ARRAY{list(_CDF_CHECKPOINTS)}) AS m) cp
    CROSS JOIN base b
    GROUP BY 1, 2, 3
    """,
)
def w_conversion_time_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert CDF at fixed checkpoints (5 min .. 7 days): the
    share of first-click->first-purchase conversions completed within
    each horizon, both as a share of conversions (the CDF itself) and
    of all clickers (absolute funnel depth) — the curve behind
    events_conversion_lag's three order statistics, at the grain a
    budget-pacing or attribution-window decision actually reads
    ("a 1-day window captures X% of conversions"). Same first-click /
    first-later-purchase pair definition as the lag tier. All counts
    exact; shares single divisions. Engine shape: two per-user MIN
    aggregates, a 6-way checkpoint fan-out of the per-user lag frame
    (users, not events), one aggregate."""
    ev = load_table(spark, sf_dir, "events")
    uc = ev.filter(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_click_us")
    )
    up = (
        ev.filter(F.col("event_type") == "purchase")
        .join(uc, "user_id")
        .filter(F.unix_micros("ts") > F.col("first_click_us"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_purchase_us"))
    )
    lag_t = uc.join(up, "user_id", "left").select(
        "user_id",
        (F.col("first_purchase_us") - F.col("first_click_us")).alias("lag_us"),
    )
    base = lag_t.agg(
        F.count(F.lit(1)).cast("long").alias("n_clickers"),
        F.count("lag_us").cast("long").alias("n_converted"),
    )
    cp = lag_t.sparkSession.createDataFrame(
        [(m,) for m in _CDF_CHECKPOINTS], "m int"
    )
    within = F.when(
        F.col("lag_us").isNotNull()
        & (F.col("lag_us") <= F.col("m").cast("long") * 60000000),
        1,
    ).otherwise(0)
    return (
        lag_t.crossJoin(F.broadcast(cp))
        .crossJoin(F.broadcast(base))
        .groupBy(
            F.col("m").cast("long").alias("checkpoint_minutes"),
            "n_clickers",
            "n_converted",
        )
        .agg(F.sum(within).cast("long").alias("n_within"))
        .select(
            "checkpoint_minutes",
            "n_clickers",
            "n_converted",
            "n_within",
            (
                F.floor(
                    F.col("n_within").cast("double")
                    / F.col("n_converted")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("share_of_conversions"),
            (
                F.floor(
                    F.col("n_within").cast("double")
                    / F.col("n_clickers")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("share_of_clickers"),
        )
    )
