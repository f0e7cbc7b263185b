"""Experimentation / causal-inference operators (round-7 continuation,
wave 3).

The reference (satya-dataengineer/move-forecast-IND) forecasts demand but
has no experimentation surface; a production analytics engine that serves
forecasts also serves the A/B machinery around them. This module adds the
four standard experiment-health / effect-measurement operators that were
still missing from the statistics tier (Welch t / MWU / KS / chi-square /
CUPED / power / permutation already exist):

- ``events_srm_check``: sample-ratio-mismatch guardrail — the first thing
  a trustworthy experimentation system checks before reading any metric;
- ``events_did_estimator``: difference-in-differences effect estimate with
  a moment-based standard error — the observational fallback when a
  randomized readout isn't available;
- ``a_cohens_d_pairs``: standardized effect sizes (Cohen's d, Hedges' g)
  for every segment pair — the "is it LARGE" complement to the existing
  "is it significant" tests;
- ``ml_cumulative_gains``: score-band gains/lift table for the hashed
  classifier's targeting use-case — deliberately banded (map-side fixed
  thresholds), NOT a global NTILE, so there is no single-task total sort
  anywhere in the plan.

All arithmetic is exact-integer (counts, md5 buckets, value cents) until a
single final cast per output column, with the identical operation sequence
written on both engines and every emitted double snapped through
``functions.rounding``. Arm/treatment assignment uses the registry-standard
md5-hex-prefix bucket idiom (same as corpus_split_assign — reproducible
across engines, partitionings, and reruns; no ``rand()`` anywhere, so
speculative re-execution at 100 TB cannot change membership).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r4, r6, sql_r4, sql_r6
from ..sources import load_table
from .registry import register

# Shared md5 bucket idiom (Spark side). The SQL twin is
#   CAST(('0x' || substr(md5(CAST(<id> AS VARCHAR)), 1, 4)) AS INTEGER) % m


def _md5_bucket(col: F.Column, m: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("int")
        % m
    )


def _sql_md5_bucket(expr: str, m: int) -> str:
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 4)) AS INTEGER) % {m}"


# --- Sample-ratio-mismatch guardrail ----------------------------------------

_SRM_CRIT = 5.991  # chi-square 0.95 quantile, df = 2 (three arms)


@register(
    "events_srm_check",
    tags=("events", "experiment", "statistics"),
    oracle=f"""
    WITH exposed AS (
      SELECT DISTINCT event_type, user_id,
             {_sql_md5_bucket("user_id", 10)} AS b
      FROM events
    ),
    arms AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COUNT(CASE WHEN b < 5 THEN 1 END) AS BIGINT) AS n_control,
             CAST(COUNT(CASE WHEN b >= 5 AND b < 8 THEN 1 END) AS BIGINT) AS n_t1,
             CAST(COUNT(CASE WHEN b >= 8 THEN 1 END) AS BIGINT) AS n_t2
      FROM exposed GROUP BY 1
    )
    SELECT event_type, n_users, n_control, n_t1, n_t2,
           {sql_r6(
               "(n_control - n_users * 5e-1) * (n_control - n_users * 5e-1)"
               " / (n_users * 5e-1)"
               " + (n_t1 - n_users * 3e-1) * (n_t1 - n_users * 3e-1)"
               " / (n_users * 3e-1)"
               " + (n_t2 - n_users * 2e-1) * (n_t2 - n_users * 2e-1)"
               " / (n_users * 2e-1)"
           )} AS chi_square,
           CAST(((n_control - n_users * 5e-1) * (n_control - n_users * 5e-1)
                 / (n_users * 5e-1)
                 + (n_t1 - n_users * 3e-1) * (n_t1 - n_users * 3e-1)
                 / (n_users * 3e-1)
                 + (n_t2 - n_users * 2e-1) * (n_t2 - n_users * 2e-1)
                 / (n_users * 2e-1)) > {_SRM_CRIT} AS BOOLEAN) AS srm_flag
    FROM arms ORDER BY event_type
    """,
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check per experiment (experiment = event_type
    exposure; arms = deterministic md5 user buckets at 50/30/20): observed
    distinct exposed users per arm vs the design ratio, Pearson chi-square
    against the df=2 critical value 5.991. SRM is the canonical
    experiment-health guardrail — a triggered flag means assignment or
    logging is broken and every downstream metric readout is invalid.

    Engine shape: the exposure dedup and the per-arm conditional distinct
    counts fuse into ONE hash-aggregate shuffle keyed by event_type
    (``COUNT(DISTINCT CASE ...)`` — partial aggregation map-side); the
    chi-square is a scalar expression over the resulting k-row frame.
    At 100 TB the only data-sized exchange is that (event_type, user)
    dedup, which AQE handles like every other high-cardinality distinct;
    arm membership is a pure md5 function of the user id, so retries and
    speculation can never flip an assignment (no rand())."""
    ev = load_table(spark, sf_dir, "events")
    b = _md5_bucket(F.col("user_id"), 10)
    exposed = ev.select("event_type", "user_id", b.alias("b")).distinct()
    n = F.count(F.lit(1)).cast("long")
    nc = F.count(F.when(F.col("b") < 5, 1)).cast("long")
    n1 = F.count(F.when((F.col("b") >= 5) & (F.col("b") < 8), 1)).cast("long")
    n2 = F.count(F.when(F.col("b") >= 8, 1)).cast("long")
    arms = exposed.groupBy("event_type").agg(
        n.alias("n_users"), nc.alias("n_control"), n1.alias("n_t1"), n2.alias("n_t2")
    )
    chi = (
        (F.col("n_control") - F.col("n_users") * 0.5)
        * (F.col("n_control") - F.col("n_users") * 0.5)
        / (F.col("n_users") * 0.5)
        + (F.col("n_t1") - F.col("n_users") * 0.3)
        * (F.col("n_t1") - F.col("n_users") * 0.3)
        / (F.col("n_users") * 0.3)
        + (F.col("n_t2") - F.col("n_users") * 0.2)
        * (F.col("n_t2") - F.col("n_users") * 0.2)
        / (F.col("n_users") * 0.2)
    )
    return arms.select(
        "event_type",
        "n_users",
        "n_control",
        "n_t1",
        "n_t2",
        r6(chi).alias("chi_square"),
        (chi > F.lit(_SRM_CRIT)).alias("srm_flag"),
    ).orderBy("event_type")


# --- Difference-in-differences ----------------------------------------------

_DID_PIVOT = "2024-01-16"


@register(
    "events_did_estimator",
    tags=("events", "experiment", "statistics"),
    oracle=f"""
    WITH p AS (
      SELECT CAST({_sql_md5_bucket("user_id", 2)} = 1 AS BOOLEAN) AS treated,
             CAST(ts >= TIMESTAMP '{_DID_PIVOT} 00:00:00' AS BOOLEAN) AS post,
             CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
      SELECT treated, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(SUM(cents * cents) AS BIGINT) AS ss
      FROM p GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN NOT treated AND NOT post THEN n END) AS n_cpre,
        MAX(CASE WHEN NOT treated AND NOT post THEN s END) AS s_cpre,
        MAX(CASE WHEN NOT treated AND NOT post THEN ss END) AS ss_cpre,
        MAX(CASE WHEN NOT treated AND post THEN n END) AS n_cpost,
        MAX(CASE WHEN NOT treated AND post THEN s END) AS s_cpost,
        MAX(CASE WHEN NOT treated AND post THEN ss END) AS ss_cpost,
        MAX(CASE WHEN treated AND NOT post THEN n END) AS n_tpre,
        MAX(CASE WHEN treated AND NOT post THEN s END) AS s_tpre,
        MAX(CASE WHEN treated AND NOT post THEN ss END) AS ss_tpre,
        MAX(CASE WHEN treated AND post THEN n END) AS n_tpost,
        MAX(CASE WHEN treated AND post THEN s END) AS s_tpost,
        MAX(CASE WHEN treated AND post THEN ss END) AS ss_tpost
      FROM cells
    )
    SELECT n_cpre, n_cpost, n_tpre, n_tpost,
           {sql_r4("s_cpre / (n_cpre * 1e2)")} AS mean_control_pre,
           {sql_r4("s_cpost / (n_cpost * 1e2)")} AS mean_control_post,
           {sql_r4("s_tpre / (n_tpre * 1e2)")} AS mean_treat_pre,
           {sql_r4("s_tpost / (n_tpost * 1e2)")} AS mean_treat_post,
           {sql_r4(
               "(s_tpost / (n_tpost * 1e2) - s_tpre / (n_tpre * 1e2))"
               " - (s_cpost / (n_cpost * 1e2) - s_cpre / (n_cpre * 1e2))"
           )} AS did_estimate,
           {sql_r6(
               "sqrt(((ss_tpost - s_tpost / CAST(n_tpost AS DOUBLE) * s_tpost)"
               " / (n_tpost - 1)) / 1e4 / n_tpost"
               " + ((ss_tpre - s_tpre / CAST(n_tpre AS DOUBLE) * s_tpre)"
               " / (n_tpre - 1)) / 1e4 / n_tpre"
               " + ((ss_cpost - s_cpost / CAST(n_cpost AS DOUBLE) * s_cpost)"
               " / (n_cpost - 1)) / 1e4 / n_cpost"
               " + ((ss_cpre - s_cpre / CAST(n_cpre AS DOUBLE) * s_cpre)"
               " / (n_cpre - 1)) / 1e4 / n_cpre)"
           )} AS did_se
    FROM wide
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over purchase value: treated = md5 user
    parity, post = the fixed mid-window pivot, outcome = mean purchase
    value. Estimate = (treat_post - treat_pre) - (control_post -
    control_pre); the SE is the independent-cells delta-method form
    sqrt(sum var_i/n_i) built from exact integer-cent moments (n, sum,
    sum-of-squares per cell), so both engines derive the identical
    doubles before the rounding grid.

    Engine shape: ONE hash-aggregate pass produces the four (treated,
    post) cells (bounded output regardless of data size), a second
    one-row conditional pivot widens them, and all estimator arithmetic
    is scalar. At 100 TB this is a single map-side-combinable aggregate
    over the purchase slice with predicate pushdown on event_type —
    nothing else moves."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    p = ev.select(
        (_md5_bucket(F.col("user_id"), 2) == 1).alias("treated"),
        (F.col("ts") >= F.lit(f"{_DID_PIVOT} 00:00:00").cast("timestamp")).alias(
            "post"
        ),
        F.floor(F.col("value") * F.lit(1e2) + F.lit(0.5)).cast("long").alias("cents"),
    )
    cells = p.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )

    def cell(t: bool, post: bool, c: str):
        cond = (F.col("treated") == t) & (F.col("post") == post)
        return F.max(F.when(cond, F.col(c)))

    wide = cells.groupBy().agg(
        cell(False, False, "n").alias("n_cpre"),
        cell(False, False, "s").alias("s_cpre"),
        cell(False, False, "ss").alias("ss_cpre"),
        cell(False, True, "n").alias("n_cpost"),
        cell(False, True, "s").alias("s_cpost"),
        cell(False, True, "ss").alias("ss_cpost"),
        cell(True, False, "n").alias("n_tpre"),
        cell(True, False, "s").alias("s_tpre"),
        cell(True, False, "ss").alias("ss_tpre"),
        cell(True, True, "n").alias("n_tpost"),
        cell(True, True, "s").alias("s_tpost"),
        cell(True, True, "ss").alias("ss_tpost"),
    )

    def mean(s: str, n: str) -> F.Column:
        return F.col(s) / (F.col(n) * F.lit(1e2))

    def varterm(ss: str, s: str, n: str) -> F.Column:
        return (
            (F.col(ss) - F.col(s) / F.col(n).cast("double") * F.col(s))
            / (F.col(n) - 1)
        ) / F.lit(1e4) / F.col(n)

    did = (mean("s_tpost", "n_tpost") - mean("s_tpre", "n_tpre")) - (
        mean("s_cpost", "n_cpost") - mean("s_cpre", "n_cpre")
    )
    se = F.sqrt(
        varterm("ss_tpost", "s_tpost", "n_tpost")
        + varterm("ss_tpre", "s_tpre", "n_tpre")
        + varterm("ss_cpost", "s_cpost", "n_cpost")
        + varterm("ss_cpre", "s_cpre", "n_cpre")
    )
    return wide.select(
        "n_cpre",
        "n_cpost",
        "n_tpre",
        "n_tpost",
        r4(mean("s_cpre", "n_cpre")).alias("mean_control_pre"),
        r4(mean("s_cpost", "n_cpost")).alias("mean_control_post"),
        r4(mean("s_tpre", "n_tpre")).alias("mean_treat_pre"),
        r4(mean("s_tpost", "n_tpost")).alias("mean_treat_post"),
        r4(did).alias("did_estimate"),
        r6(se).alias("did_se"),
    )


# --- Standardized effect sizes ----------------------------------------------


@register(
    "a_cohens_d_pairs",
    tags=("aggregate", "experiment", "statistics"),
    oracle=f"""
    WITH m AS (
      SELECT c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(c_acctbal * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(FLOOR(c_acctbal * 1e2 + 0.5) AS BIGINT)
                      * CAST(FLOOR(c_acctbal * 1e2 + 0.5) AS BIGINT)) AS BIGINT) AS ss
      FROM customer GROUP BY 1
    )
    SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b,
           {sql_r4("a.s / (a.n * 1e2) - b.s / (b.n * 1e2)")} AS mean_diff,
           {sql_r6(
               "(a.s / (a.n * 1e2) - b.s / (b.n * 1e2))"
               " / sqrt((((a.ss - a.s / CAST(a.n AS DOUBLE) * a.s) / 1e4)"
               " + ((b.ss - b.s / CAST(b.n AS DOUBLE) * b.s) / 1e4))"
               " / (a.n + b.n - 2))"
           )} AS cohens_d,
           {sql_r6(
               "(a.s / (a.n * 1e2) - b.s / (b.n * 1e2))"
               " / sqrt((((a.ss - a.s / CAST(a.n AS DOUBLE) * a.s) / 1e4)"
               " + ((b.ss - b.s / CAST(b.n AS DOUBLE) * b.s) / 1e4))"
               " / (a.n + b.n - 2))"
               " * (1e0 - 3e0 / (4e0 * (a.n + b.n) - 9e0))"
           )} AS hedges_g
    FROM m a JOIN m b ON a.seg < b.seg
    ORDER BY seg_a, seg_b
    """,
)
def a_cohens_d_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g for every market-segment pair on account
    balance — standardized effect sizes (difference in means over pooled
    SD; g applies the small-sample bias correction 1 - 3/(4N-9)). The
    magnitude-focused complement to the existing significance tier: a
    segment gap can be p < 0.001 and still d = 0.02.

    Engine shape: one k-row moment aggregate (exact integer cents: n,
    sum, sum-of-squares), then a broadcast self-join on seg_a < seg_b —
    k(k-1)/2 rows of pure scalar arithmetic with the identical op
    sequence on both engines. At 100 TB only the moment aggregate sees
    data; the pair frame is k²-bounded and broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * F.lit(1e2) + F.lit(0.5)).cast("long")
    m = cust.select(F.col("c_mktsegment").alias("seg"), cents.alias("c")).groupBy(
        "seg"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    a = m.select(
        F.col("seg").alias("seg_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = m.select(
        F.col("seg").alias("seg_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))
    mean_diff = F.col("s_a") / (F.col("n_a") * F.lit(1e2)) - F.col("s_b") / (
        F.col("n_b") * F.lit(1e2)
    )
    pooled_sd = F.sqrt(
        (
            (F.col("ss_a") - F.col("s_a") / F.col("n_a").cast("double") * F.col("s_a"))
            / F.lit(1e4)
            + (
                F.col("ss_b")
                - F.col("s_b") / F.col("n_b").cast("double") * F.col("s_b")
            )
            / F.lit(1e4)
        )
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    d = mean_diff / pooled_sd
    g = d * (
        F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (F.col("n_a") + F.col("n_b")) - F.lit(9.0))
    )
    return pairs.select(
        "seg_a",
        "seg_b",
        "n_a",
        "n_b",
        r4(mean_diff).alias("mean_diff"),
        r6(d).alias("cohens_d"),
        r6(g).alias("hedges_g"),
    ).orderBy("seg_a", "seg_b")


# --- Score-band cumulative gains / lift --------------------------------------


@register(
    "ml_cumulative_gains",
    tags=("ml", "evaluation"),
    oracle=f"""
    WITH scored AS (
      SELECT CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS INTEGER) AS label,
             FLOOR((CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS INTEGER) * 5e-1
                    + ({_sql_md5_bucket("o_orderkey", 10000)}) / 2e4) * 1e1) AS band
      FROM orders
    ),
    bands AS (
      SELECT CAST(band AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(pos) AS BIGINT) AS tp FROM bands
    ),
    cum AS (
      SELECT band, n, pos,
             CAST(SUM(n) OVER (ORDER BY band DESC) AS BIGINT) AS cum_n,
             CAST(SUM(pos) OVER (ORDER BY band DESC) AS BIGINT) AS cum_pos
      FROM bands
    )
    SELECT band, n, pos, cum_n, cum_pos,
           {sql_r6("cum_pos / CAST(tp AS DOUBLE)")} AS capture_rate,
           {sql_r6("(cum_pos / CAST(cum_n AS DOUBLE)) / (tp / CAST(tn AS DOUBLE))")}
             AS cum_lift
    FROM cum CROSS JOIN tot
    ORDER BY band DESC
    """,
)
def ml_cumulative_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table for an urgency-targeting score over
    orders: label = priority in (URGENT, HIGH); score = 0.5·label +
    0.5·md5-frac (a deterministic, separably-informative score — the same
    no-rand doctrine as every sampler here); bands = fixed 0.1-wide score
    bins. Reading the table top-down answers "if I contact the top X% by
    score, what fraction of urgent orders do I capture, and at what lift
    over random?" — the standard targeting readout next to the AUC
    scalar.

    Deliberately BANDED, not NTILE'd: fixed thresholds make the binning a
    map-side expression, so the plan is one hash aggregate to ≤10 band
    rows plus a 10-row cumulative window and a one-row total broadcast —
    no global total-order sort (a global NTILE collapses the whole
    dataset into one window task; at 100 TB that is the difference
    between a scan and an impossibility)."""
    orders = load_table(spark, sf_dir, "orders")
    label = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    frac = _md5_bucket(F.col("o_orderkey"), 10000) / F.lit(2e4)
    band = F.floor((label * F.lit(0.5) + frac) * F.lit(1e1))
    bands = (
        orders.select(label.alias("label"), band.alias("band"))
        .groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
        )
    )
    tot = bands.groupBy().agg(
        F.sum("n").cast("long").alias("tn"), F.sum("pos").cast("long").alias("tp")
    )
    w = Window.orderBy(F.col("band").desc())
    cum = bands.select(
        "band",
        "n",
        "pos",
        F.sum("n").over(w).cast("long").alias("cum_n"),
        F.sum("pos").over(w).cast("long").alias("cum_pos"),
    )
    return (
        cum.join(F.broadcast(tot))
        .select(
            "band",
            "n",
            "pos",
            "cum_n",
            "cum_pos",
            r6(F.col("cum_pos") / F.col("tp").cast("double")).alias("capture_rate"),
            r6(
                (F.col("cum_pos") / F.col("cum_n").cast("double"))
                / (F.col("tp") / F.col("tn").cast("double"))
            ).alias("cum_lift"),
        )
        .orderBy(F.col("band").desc())
    )


# --- Cohort lifetime value ----------------------------------------------------


@register(
    "events_cohort_ltv",
    bench=True,  # round-7 continuation representative: join+window cohort economics
    tags=("events", "experiment", "cohort"),
    oracle=f"""
    WITH signups AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cd
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    sizes AS (
      SELECT cd, CAST(COUNT(*) AS BIGINT) AS n_users FROM signups GROUP BY 1
    ),
    buys AS (
      SELECT s.cd, CAST(CAST(e.ts AS DATE) - s.cd AS BIGINT) AS age,
             CAST(FLOOR(e.value * 1e2 + 0.5) AS BIGINT) AS cents
      FROM events e JOIN signups s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= s.cd
    ),
    daily AS (
      SELECT cd, age, CAST(SUM(cents) AS BIGINT) AS rev_cents,
             CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM buys GROUP BY 1, 2
    ),
    cum AS (
      SELECT cd, age, n_purchases, rev_cents,
             CAST(SUM(rev_cents) OVER (PARTITION BY cd ORDER BY age)
                  AS BIGINT) AS cum_cents
      FROM daily
    )
    SELECT cum.cd AS cohort_day, cum.age, cum.n_purchases, sizes.n_users,
           {sql_r4("cum.cum_cents / (sizes.n_users * 1e2)")} AS ltv_per_user
    FROM cum JOIN sizes ON sizes.cd = cum.cd
    ORDER BY cohort_day, age
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users cohorted by first-signup day;
    for each (cohort, age-in-days) with purchase activity, the running
    cumulative purchase revenue per cohort member — the unit-economics
    readout (how many days until a cohort pays back its acquisition
    cost) that events_retention_cohorts' activity view doesn't price.

    Revenue accumulates in exact integer cents under a per-cohort
    running-sum window; the only doubles are the final per-user
    divisions. Shape: one signup min-aggregate, one broadcast-joined
    purchase slice (pushdown on event_type), one (cohort, age)
    aggregate, a window over the bounded (cohorts × ages) frame, and a
    broadcast cohort-size join. At 100 TB the user→cohort map is the
    big side of one shuffle join keyed by user — the same shape as every
    per-user enrichment here — and the windowed frame stays
    calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    # expr strings (construction-cost doctrine — lloyd_assign); identical
    # trees, oracle-checked at sf0.001/0.01 after the rewrite.
    signups = (
        ev.where("event_type = 'signup'")
        .groupBy("user_id")
        .agg(F.expr("min(CAST(ts AS DATE)) AS cd"))
    )
    sizes = signups.groupBy("cd").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n_users")
    )
    buys = (
        ev.where("event_type = 'purchase'")
        .selectExpr(
            "user_id",
            "CAST(ts AS DATE) AS bd",
            "CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS cents",
        )
        .join(signups, "user_id")
        .where("bd >= cd")
        .selectExpr("cd", "CAST(datediff(bd, cd) AS BIGINT) AS age", "cents")
    )
    daily = buys.groupBy("cd", "age").agg(
        F.expr("CAST(sum(cents) AS BIGINT) AS rev_cents"),
        F.expr("CAST(count(1) AS BIGINT) AS n_purchases"),
    )
    cum = daily.selectExpr(
        "cd",
        "age",
        "n_purchases",
        "CAST(sum(rev_cents) OVER (PARTITION BY cd ORDER BY age) AS BIGINT)"
        " AS cum_cents",
    )
    return (
        cum.join(F.broadcast(sizes), "cd")
        .selectExpr(
            "cd AS cohort_day",
            "age",
            "n_purchases",
            "n_users",
            f"{sql_r4('cum_cents / (n_users * 1e2)')} AS ltv_per_user",
        )
        .orderBy("cohort_day", "age")
    )


# --- inverse-propensity weighting (observational ATE) --------------------------


@register(
    "ml_propensity_ipw",
    tags=("ml", "experiment", "causal"),
    oracle=f"""
    WITH lab AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS t,
             o_orderstatus AS x,
             CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    prop AS (
      SELECT x,
             CAST(SUM(t) AS DOUBLE) / COUNT(*) AS e,
             CAST(SUM(t) AS BIGINT) AS nt,
             CAST(COUNT(*) AS BIGINT) AS nx
      FROM lab GROUP BY 1
    ),
    w AS (
      SELECT l.t, l.cents, p.e
      FROM lab l JOIN prop p ON p.x = l.x
      WHERE p.nt > 0 AND p.nt < p.nx
    ),
    terms AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(t) AS BIGINT) AS n_treated,
        CAST(SUM(t * cents) AS BIGINT) AS y1,
        CAST(SUM((1 - t) * cents) AS BIGINT) AS y0,
        CAST(SUM(CASE WHEN t = 1
             THEN CAST(FLOOR(cents / e * 1e2 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN t = 0
             THEN CAST(FLOOR(cents / (1e0 - e) * 1e2 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS s0,
        CAST(SUM(CASE WHEN t = 1
             THEN CAST(FLOOR(1e0 / e * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS w1,
        CAST(SUM(CASE WHEN t = 0
             THEN CAST(FLOOR(1e0 / (1e0 - e) * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS w0
      FROM w
    )
    SELECT n, n_treated,
           {sql_r4("(CAST(y1 AS DOUBLE) / n_treated"
                   " - CAST(y0 AS DOUBLE) / (n - n_treated)) / 1e2")}
             AS naive_diff,
           {sql_r4("(CAST(s1 AS DOUBLE) / n - CAST(s0 AS DOUBLE) / n)"
                   " / 1e2 / 1e2")} AS ate_ipw,
           {sql_r4("(CAST(s1 AS DOUBLE) / 1e2 / (CAST(w1 AS DOUBLE) / 1e6)"
                   " - CAST(s0 AS DOUBLE) / 1e2 / (CAST(w0 AS DOUBLE) / 1e6))"
                   " / 1e2")} AS ate_hajek
    FROM terms
    """,
)
def ml_propensity_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational average-treatment-effect of order priority
    (URGENT/HIGH = treated) on order value, adjusted for order-status
    strata by inverse-propensity weighting: stratum propensity
    e(x) = P(T=1|x) as an exact ratio, then both the Horvitz-Thompson
    IPW estimator and the ratio-normalized Hájek estimator next to the
    naive (confounded) difference — the observational-causal pillar
    beside events_did_estimator (parallel trends) and
    events_cuped_adjustment (variance reduction). Strata where
    propensity is 0 or 1 are excluded (positivity violation — standard
    practice, identically on both engines). Exactness: outcomes are
    BIGINT cents; every weighted term is one IEEE expression of (cents,
    exact-ratio e) quantized to a fixed grid and summed as BIGINT, so
    the three estimates compare exact integers until the final scaled
    divisions. Engine shape: one stratum aggregate (broadcast), one
    map-side weighted pass, one global row — scan-rate at any volume."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("t"),
        F.col("o_orderstatus").alias("x"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    prop = lab.groupBy("x").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("e"),
        F.sum("t").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("nx"),
    )
    w = lab.join(F.broadcast(prop), "x").filter(
        (F.col("nt") > 0) & (F.col("nt") < F.col("nx"))
    )
    qi = lambda c: F.floor(c + F.lit(0.5)).cast("long")  # noqa: E731
    t1 = F.col("t") == 1
    terms = w.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("n_treated"),
        F.sum(F.col("t") * F.col("cents")).cast("long").alias("y1"),
        F.sum((1 - F.col("t")) * F.col("cents")).cast("long").alias("y0"),
        F.sum(
            F.when(t1, qi(F.col("cents") / F.col("e") * 1e2)).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("s1"),
        F.sum(
            F.when(
                ~t1, qi(F.col("cents") / (F.lit(1e0) - F.col("e")) * 1e2)
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("s0"),
        F.sum(
            F.when(t1, qi(F.lit(1e0) / F.col("e") * 1e6)).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("w1"),
        F.sum(
            F.when(
                ~t1, qi(F.lit(1e0) / (F.lit(1e0) - F.col("e")) * 1e6)
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("w0"),
    )
    return terms.select(
        "n",
        "n_treated",
        r4(
            (
                F.col("y1").cast("double") / F.col("n_treated")
                - F.col("y0").cast("double") / (F.col("n") - F.col("n_treated"))
            )
            / 1e2
        ).alias("naive_diff"),
        r4(
            (
                F.col("s1").cast("double") / F.col("n")
                - F.col("s0").cast("double") / F.col("n")
            )
            / 1e2
            / 1e2
        ).alias("ate_ipw"),
        r4(
            (
                F.col("s1").cast("double") / 1e2 / (F.col("w1").cast("double") / 1e6)
                - F.col("s0").cast("double") / 1e2 / (F.col("w0").cast("double") / 1e6)
            )
            / 1e2
        ).alias("ate_hajek"),
    )


# --- Wilson score intervals -------------------------------------------------------

_WILSON_Z = "1.959963984540054e0"  # z_{0.975}, shared exact literal
_WILSON_RAD = f"sqrt(p * (1e0 - p) / nu + zz_n / (4e0 * nu))"
_WILSON_LO = (
    f"(p + zz_n / 2 - {_WILSON_Z} * {_WILSON_RAD}) / (1e0 + zz_n)"
)
_WILSON_HI = (
    f"(p + zz_n / 2 + {_WILSON_Z} * {_WILSON_RAD}) / (1e0 + zz_n)"
)


@register(
    "events_wilson_ci",
    tags=("events", "experiment", "statistics"),
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
               FROM events),
    k AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ku
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT k.event_type, k.ku, n.nu,
             CAST(k.ku AS DOUBLE) / n.nu AS p,
             {_WILSON_Z} * {_WILSON_Z} / n.nu AS zz_n
      FROM k CROSS JOIN n
    )
    SELECT event_type, ku AS n_engaged, nu AS n_users,
           {sql_r6("p")} AS rate,
           {sql_r6(_WILSON_LO)} AS wilson_lo,
           {sql_r6(_WILSON_HI)} AS wilson_hi
    FROM w
    """,
)
def events_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for each event type's user
    engagement rate (distinct engaged users / all users) — the
    binomial-proportion interval with correct coverage at extreme rates
    and small n where the Wald interval collapses (Wilson 1927; Brown,
    Cai & DasGupta 2001 recommend it outright). Exactness: k and n are
    exact distinct counts, z is a shared exact literal, the whole
    interval is one IEEE expression of those — no accumulation anywhere.
    Engine shape: one distinct-count aggregate per type + one global,
    k rows out; the distinct counts are the only shuffle-bearing terms
    (HLL tier swaps in when approximate suffices at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    n = ev.agg(F.count_distinct("user_id").cast("long").alias("nu"))
    k = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("ku")
    )
    z = float(_WILSON_Z)
    w = k.crossJoin(F.broadcast(n)).select(
        "event_type",
        "ku",
        "nu",
        (F.col("ku").cast("double") / F.col("nu")).alias("p"),
        (F.lit(z) * F.lit(z) / F.col("nu")).alias("zz_n"),
    )
    rad = F.sqrt(
        F.col("p") * (F.lit(1e0) - F.col("p")) / F.col("nu")
        + F.col("zz_n") / (F.lit(4e0) * F.col("nu"))
    )
    return w.select(
        "event_type",
        F.col("ku").alias("n_engaged"),
        F.col("nu").alias("n_users"),
        r6(F.col("p")).alias("rate"),
        r6(
            (F.col("p") + F.col("zz_n") / 2 - F.lit(z) * rad)
            / (F.lit(1e0) + F.col("zz_n"))
        ).alias("wilson_lo"),
        r6(
            (F.col("p") + F.col("zz_n") / 2 + F.lit(z) * rad)
            / (F.lit(1e0) + F.col("zz_n"))
        ).alias("wilson_hi"),
    )


# --- TOST equivalence test ----------------------------------------------------------

_TOST_Z = "1.6448536269514722e0"   # z_{0.95}: one-sided 5%
_TOST_MARGIN_FRAC = "2e-2"          # equivalence margin: 2% of pooled mean


@register(
    "a_tost_equivalence",
    tags=("aggregate", "experiment", "statistics"),
    oracle=f"""
    WITH lab AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))
                  AS INTEGER) % 2 AS arm,
             CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    mo AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(SUM(cents * cents) AS HUGEINT) AS ss
      FROM lab GROUP BY 1
    ),
    w AS (
      SELECT a.n AS na, b.n AS nb,
             CAST(a.s AS DOUBLE) / a.n AS ma,
             CAST(b.s AS DOUBLE) / b.n AS mb,
             (CAST(a.ss AS DOUBLE) - CAST(a.s AS DOUBLE) * a.s / a.n)
               / (a.n - 1) AS va,
             (CAST(b.ss AS DOUBLE) - CAST(b.s AS DOUBLE) * b.s / b.n)
               / (b.n - 1) AS vb,
             (CAST(a.s AS DOUBLE) + b.s) / (a.n + b.n)
               * {_TOST_MARGIN_FRAC} AS margin
      FROM (SELECT * FROM mo WHERE arm = 0) a
      CROSS JOIN (SELECT * FROM mo WHERE arm = 1) b
    ),
    t AS (
      SELECT na, nb, ma, mb, margin,
             mb - ma AS diff,
             sqrt(va / na + vb / nb) AS se
      FROM w
    )
    SELECT na AS n_a, nb AS n_b,
           {sql_r4("ma / 1e2")} AS mean_a,
           {sql_r4("mb / 1e2")} AS mean_b,
           {sql_r4("diff / 1e2")} AS diff,
           {sql_r4("margin / 1e2")} AS margin,
           {sql_r4("(diff + margin) / se")} AS t_lower,
           {sql_r4("(margin - diff) / se")} AS t_upper,
           CAST((diff + margin) / se > {_TOST_Z}
                AND (margin - diff) / se > {_TOST_Z} AS BOOLEAN)
             AS equivalent
    FROM t
    """,
)
def a_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987) between two md5-split
    order-value arms: both one-sided z-statistics against a ±2%-of-
    pooled-mean margin must clear z_0.95 to declare equivalence — the
    inferential complement to a_welch_ttest (which can only FAIL to
    find a difference; TOST affirmatively bounds it). The standard
    non-inferiority gate for infra A/B tests where "no change" is the
    success criterion. Exactness: arm moments are exact integer sums
    (squares in HUGEINT on the oracle, decimal(38,0) on Spark — both
    exact, so both engines round the same value once), every emitted
    statistic a single IEEE expression of them. One aggregate, one
    row."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("int")
            % 2
        ).alias("arm"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    # Squares accumulate EXACTLY in decimal(38,0) — the Spark analogue of
    # the oracle's HUGEINT sum. A double accumulator is partition-order
    # dependent and can flip the last quantized digit of the variance at
    # larger SFs even when the tested SFs agree (round-7 advice); the
    # exact integer moment makes both engines round the SAME value once.
    mo = lab.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("ssd"),
    )
    a = mo.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ssd").alias("ssa")
    )
    b = mo.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ssd").alias("ssb")
    )
    w = a.crossJoin(F.broadcast(b)).select(
        "na",
        "nb",
        (F.col("sa").cast("double") / F.col("na")).alias("ma"),
        (F.col("sb").cast("double") / F.col("nb")).alias("mb"),
        (
            (
                F.col("ssa").cast("double")
                - F.col("sa").cast("double") * F.col("sa") / F.col("na")
            )
            / (F.col("na") - 1)
        ).alias("va"),
        (
            (
                F.col("ssb").cast("double")
                - F.col("sb").cast("double") * F.col("sb") / F.col("nb")
            )
            / (F.col("nb") - 1)
        ).alias("vb"),
        (
            (F.col("sa").cast("double") + F.col("sb"))
            / (F.col("na") + F.col("nb"))
            * float(_TOST_MARGIN_FRAC)
        ).alias("margin"),
    )
    t = w.select(
        "na",
        "nb",
        "ma",
        "mb",
        "margin",
        (F.col("mb") - F.col("ma")).alias("diff"),
        F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb")).alias(
            "se"
        ),
    )
    z = float(_TOST_Z)
    return t.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        r4(F.col("ma") / 1e2).alias("mean_a"),
        r4(F.col("mb") / 1e2).alias("mean_b"),
        r4(F.col("diff") / 1e2).alias("diff"),
        r4(F.col("margin") / 1e2).alias("margin"),
        r4((F.col("diff") + F.col("margin")) / F.col("se")).alias("t_lower"),
        r4((F.col("margin") - F.col("diff")) / F.col("se")).alias("t_upper"),
        (
            ((F.col("diff") + F.col("margin")) / F.col("se") > z)
            & ((F.col("margin") - F.col("diff")) / F.col("se") > z)
        ).alias("equivalent"),
    )


# --- delta-method ratio-metric CI ---------------------------------------------------

_RM_Z = "1.959963984540054e0"


@register(
    "a_ratio_metric_ci",
    tags=("aggregate", "experiment", "statistics"),
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS ycents,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ycents) AS BIGINT) AS sy,
             CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(ycents * ycents) AS HUGEINT) AS syy,
             CAST(SUM(m * m) AS BIGINT) AS smm,
             CAST(SUM(ycents * m) AS BIGINT) AS sym
      FROM per_user
    ),
    st AS (
      SELECT n, sy, sm,
             CAST(sy AS DOUBLE) / sm AS r,
             CAST(sm AS DOUBLE) / n AS mbar,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
               AS vy,
             (CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n) / (n - 1)
               AS vm,
             (CAST(sym AS DOUBLE) - CAST(sy AS DOUBLE) * sm / n) / (n - 1)
               AS cym
      FROM mom
    ),
    se AS (
      SELECT n, r, mbar,
             sqrt((vy - 2e0 * r * cym + r * r * vm) / n) / mbar AS se_r
      FROM st
    )
    SELECT n AS n_users,
           FLOOR(r / 1e2 * 1e6 + 0.5) / 1e6 AS ratio,
           FLOOR(se_r / 1e2 * 1e6 + 0.5) / 1e6 AS se,
           FLOOR((r - {_RM_Z} * se_r) / 1e2 * 1e6 + 0.5) / 1e6 AS ci_lo,
           FLOOR((r + {_RM_Z} * se_r) / 1e2 * 1e6 + 0.5) / 1e6 AS ci_hi
    FROM se
    """,
)
def a_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric — purchase
    revenue per event, R = sum(Y_u)/sum(M_u) over per-user pairs — the
    estimator every experimentation platform needs because both
    numerator and denominator are user-level random variables (Deng,
    Knoblich & Lu 2018): Var(R) = (vy - 2R*cov + R²vm) / (n*mbar²).
    A naive per-event mean would understate the variance by ignoring
    user clustering. Exactness: per-user aggregates are BIGINT cents /
    counts; the five moments are exact integer sums (squares HUGEINT on
    the oracle, decimal(38,0) on Spark — both exact); R, SE, and the CI
    are single
    IEEE expressions. One user aggregate + one global reduce."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1e2 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("ycents"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ycents").cast("long").alias("sy"),
        F.sum("m").cast("long").alias("sm"),
        F.sum(
            F.col("ycents").cast("decimal(19,0)")
            * F.col("ycents").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm"),
        F.sum(F.col("ycents") * F.col("m")).cast("long").alias("sym"),
    )
    r = F.col("sy").cast("double") / F.col("sm")
    mbar = F.col("sm").cast("double") / F.col("n")
    vy = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    ) / (F.col("n") - 1)
    vm = (
        F.col("smm").cast("double")
        - F.col("sm").cast("double") * F.col("sm") / F.col("n")
    ) / (F.col("n") - 1)
    cym = (
        F.col("sym").cast("double")
        - F.col("sy").cast("double") * F.col("sm") / F.col("n")
    ) / (F.col("n") - 1)
    st = mom.select(
        "n",
        r.alias("r"),
        mbar.alias("mbar"),
        vy.alias("vy"),
        vm.alias("vm"),
        cym.alias("cym"),
    )
    se_r = (
        F.sqrt(
            (
                F.col("vy")
                - F.lit(2e0) * F.col("r") * F.col("cym")
                + F.col("r") * F.col("r") * F.col("vm")
            )
            / F.col("n")
        )
        / F.col("mbar")
    )
    z = float(_RM_Z)
    o6 = lambda c: F.floor(c / 1e2 * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    se = st.select("n", "r", se_r.alias("se_r"))
    return se.select(
        F.col("n").alias("n_users"),
        o6(F.col("r")).alias("ratio"),
        o6(F.col("se_r")).alias("se"),
        o6(F.col("r") - F.lit(z) * F.col("se_r")).alias("ci_lo"),
        o6(F.col("r") + F.lit(z) * F.col("se_r")).alias("ci_hi"),
    )


# --- off-policy evaluation (IPS / SNIPS) --------------------------------------------


@register(
    "ml_offpolicy_ips",
    tags=("ml", "experiment", "causal"),
    oracle=f"""
    WITH lg AS (
      SELECT {_sql_md5_bucket("o_orderkey", 2)} AS a,
             CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS pi_a,
             CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS r
      FROM orders
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = pi_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
             CAST(SUM(CASE WHEN a = pi_a THEN r * 2 ELSE 0 END) AS BIGINT)
               AS ips_cents,
             CAST(SUM(r) AS BIGINT) AS r_cents
      FROM lg
    )
    SELECT n, n_matched,
           FLOOR(CAST(n_matched AS DOUBLE) / n * 1e6 + 0.5) / 1e6
             AS match_rate,
           FLOOR(CAST(r_cents AS DOUBLE) / n / 1e2 * 1e4 + 0.5) / 1e4
             AS value_logging,
           FLOOR(CAST(ips_cents AS DOUBLE) / n / 1e2 * 1e4 + 0.5) / 1e4
             AS value_ips,
           FLOOR(CAST(ips_cents AS DOUBLE) / 2 / n_matched / 1e2 * 1e4 + 0.5)
             / 1e4 AS value_snips
    FROM t
    """,
)
def ml_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy (treat
    open orders) against uniformly-logged actions (md5 arm, known
    propensity 1/2): the inverse-propensity-scored value estimate
    V_IPS = mean(1[a=pi(x)]/0.5 * r) and its self-normalized SNIPS
    variant (weights sum replaces n — lower variance, small bias), next
    to the logging policy's raw value — the counterfactual "what would
    this targeting rule have earned" readout (Horvitz-Thompson;
    Swaminathan & Joachims 2015 for SNIPS), the bandit-world sibling of
    ml_propensity_ipw. Known propensities make every weight the exact
    integer 2, so ALL three estimates are exact BIGINT cent sums with
    single final divisions — no quantization needed anywhere. One
    map-side aggregate."""
    o = load_table(spark, sf_dir, "orders")
    lg = o.select(
        _md5_bucket(F.col("o_orderkey"), 2).alias("a"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("pi_a"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("r"),
    )
    m = F.col("a") == F.col("pi_a")
    t = lg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(m, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.sum(F.when(m, F.col("r") * 2).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("ips_cents"),
        F.sum("r").cast("long").alias("r_cents"),
    )
    f4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return t.select(
        "n",
        "n_matched",
        (
            F.floor(
                F.col("n_matched").cast("double") / F.col("n") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("match_rate"),
        f4(F.col("r_cents").cast("double") / F.col("n") / 1e2).alias(
            "value_logging"
        ),
        f4(F.col("ips_cents").cast("double") / F.col("n") / 1e2).alias(
            "value_ips"
        ),
        f4(
            F.col("ips_cents").cast("double")
            / 2
            / F.col("n_matched")
            / 1e2
        ).alias("value_snips"),
    )


# --- empirical-Bayes rate shrinkage ---------------------------------------------------


@register(
    "a_eb_rate_shrinkage",
    tags=("aggregate", "statistics"),
    oracle="""
    WITH g AS (
      SELECT n.n_name AS nation,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(FLOOR(CAST(k AS DOUBLE) / n * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS spq,
             CAST(SUM(CAST(FLOOR((CAST(k AS DOUBLE) / n)
                                 * (CAST(k AS DOUBLE) / n) * 1e9 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sppq,
             CAST(SUM(n) AS BIGINT) AS ntot
      FROM g
    ),
    prior AS (
      SELECT ng, ntot,
             spq / 1e9 / ng AS mu,
             GREATEST((sppq / 1e9 - (spq / 1e9) * (spq / 1e9) / ng)
                      / (ng - 1), 1e-9) AS v
      FROM mom
    ),
    ab AS (
      SELECT mu, v,
             GREATEST(mu * (1e0 - mu) / v - 1e0, 1e-2) AS strength
      FROM prior
    )
    SELECT g.nation, g.n, g.k,
           FLOOR(CAST(g.k AS DOUBLE) / g.n * 1e6 + 0.5) / 1e6 AS raw_rate,
           FLOOR((g.k + ab.mu * ab.strength) / (g.n + ab.strength)
                 * 1e6 + 0.5) / 1e6 AS shrunk_rate,
           FLOOR(ab.mu * 1e6 + 0.5) / 1e6 AS prior_mean,
           FLOOR(ab.strength * 1e4 + 0.5) / 1e4 AS prior_strength
    FROM g CROSS JOIN ab
    """,
)
def a_eb_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation BUILDING-segment rates
    toward a method-of-moments Beta prior: prior strength
    s = mu(1-mu)/var - 1 from the across-group rate moments, posterior
    rate = (k + mu*s)/(n + s) — the James-Stein-flavored smoothing every
    small-n dashboard cell needs (Robinson's "empirical Bayes on
    baseball" construction), and the standalone sibling of the
    smoothing inside ml_target_encoding. Exactness: group rates and
    their squares quantize at 1e9 per GROUP row and sum as BIGINT (the
    across-group moments are over ~25 rows but the rule is uniform);
    prior and posteriors are single IEEE expressions, variance floored
    at 1e-9 and strength at 1e-2 identically both engines. One group
    aggregate + one broadcast prior row."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    g = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    p = F.col("k").cast("double") / F.col("n")
    mom = g.agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(F.floor(p * 1e9 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("spq"),
        F.sum(F.floor(p * p * 1e9 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sppq"),
    )
    mu = F.col("spq") / 1e9 / F.col("ng")
    v = F.greatest(
        (
            F.col("sppq") / 1e9
            - (F.col("spq") / 1e9) * (F.col("spq") / 1e9) / F.col("ng")
        )
        / (F.col("ng") - 1),
        F.lit(1e-9),
    )
    ab = mom.select(
        mu.alias("mu"),
        F.greatest(
            mu * (F.lit(1e0) - mu) / v - F.lit(1e0), F.lit(1e-2)
        ).alias("strength"),
    )
    return g.crossJoin(F.broadcast(ab)).select(
        "nation",
        "n",
        "k",
        (F.floor(p * 1e6 + F.lit(0.5)) / 1e6).alias("raw_rate"),
        (
            F.floor(
                (F.col("k") + F.col("mu") * F.col("strength"))
                / (F.col("n") + F.col("strength"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("shrunk_rate"),
        (F.floor(F.col("mu") * 1e6 + F.lit(0.5)) / 1e6).alias("prior_mean"),
        (F.floor(F.col("strength") * 1e4 + F.lit(0.5)) / 1e4).alias(
            "prior_strength"
        ),
    )


# --- sequential probability ratio monitor --------------------------------------------

# H0: purchase share p = 0.18 vs H1: p = 0.22; alpha = beta = 0.05.
# The log-LR increments and boundaries are shared exact literals, so the
# walk is k*C1 + (n-k)*C2 on exact integers — no libm at query time.
_SPRT_C1 = "2.0067069546215124e-1"    # ln(0.22/0.18)
_SPRT_C2 = "-5.0010420900357204e-2"   # ln(0.78/0.82)
_SPRT_A = "2.9444389791664403e0"      # ln((1-beta)/alpha) = ln 19
_SPRT_B = "-2.9444389791664403e0"     # ln(beta/(1-alpha))


@register(
    "events_sprt_monitor",
    tags=("events", "experiment", "statistics"),
    oracle=f"""
    WITH t AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
      WHERE {_sql_md5_bucket("user_id", 2)} = 1
    ),
    daily AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS k
      FROM t GROUP BY 1
    ),
    walk AS (
      SELECT day,
             CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS n_cum,
             CAST(SUM(k) OVER (ORDER BY day) AS BIGINT) AS k_cum
      FROM daily
    ),
    llr AS (
      SELECT day, n_cum, k_cum,
             k_cum * {_SPRT_C1} + (n_cum - k_cum) * {_SPRT_C2} AS l
      FROM walk
    )
    SELECT day, n_cum, k_cum,
           FLOOR(l * 1e6 + 0.5) / 1e6 AS llr,
           CASE WHEN l >= {_SPRT_A} THEN 'accept_h1'
                WHEN l <= {_SPRT_B} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test monitor (Wald 1945) over the
    treatment arm's purchase share: the daily cumulative log-likelihood
    ratio walk for H1 p=0.22 vs H0 p=0.18 with alpha=beta=0.05
    boundaries — the peeking-SAFE sequential readout that a fixed-n
    test (a_two_proportion_ztest) forbids: look every day, stop the
    moment a boundary is crossed, error rates still hold. Exactness:
    cumulative n/k are BIGINT window sums; the LLR is k*C1 + (n-k)*C2
    with the log increments as shared exact literals (no runtime libm),
    so both engines walk identical doubles; boundaries are literal
    comparisons. Engine shape: one daily aggregate, one cumulative
    window over |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(_md5_bucket(F.col("user_id"), 2) == 1).select(
        F.col("ts").cast("date").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    daily = t.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("k"),
    )
    w = Window.orderBy("day")
    walk = daily.select(
        "day",
        F.sum("n").over(w).cast("long").alias("n_cum"),
        F.sum("k").over(w).cast("long").alias("k_cum"),
    )
    l = F.col("k_cum") * float(_SPRT_C1) + (
        F.col("n_cum") - F.col("k_cum")
    ) * float(_SPRT_C2)
    return walk.select(
        "day",
        "n_cum",
        "k_cum",
        (F.floor(l * 1e6 + F.lit(0.5)) / 1e6).alias("llr"),
        F.when(l >= float(_SPRT_A), F.lit("accept_h1"))
        .when(l <= float(_SPRT_B), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )
