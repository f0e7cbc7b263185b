"""Serving-layer feature / BI operators (round 7, wave 4).

Three operators a production analytics stack layers between the lake and
the application, absent from both the reference and the registry so far:

- ``events_decayed_engagement``: exponential time-decay engagement score
  per user (7-day half-life) — THE feature-store staple (recency-weighted
  activity beats raw counts in nearly every churn/propensity model).
- ``sql_ratio_to_parent``: ROLLUP ratio-to-parent report over customer
  balances (segment share of nation, nation share of grand total) — the
  OLAP drill-down normalization every BI layer renders next to rollup
  totals.
- ``events_absorbing_markov``: K-step expected-steps-to-purchase per
  journey state via the absorbing-chain fixed point t' = 1 + Q t,
  unrolled as K identical pivoted expression layers on both engines
  (the bit-exactness doctrine the PCA power-iteration oracle proved:
  same op sequence, same doubles) — the "how far is each state from
  conversion" readout on top of events_markov_transitions' raw matrix.

Exactness: cents and transition counts are BIGINT; Q entries are single
exact divisions; the fixed-point layers use identical literal expression
sequences on both engines (no cross-row double accumulation anywhere —
the per-state sums are unrolled left-associated 4-term expressions);
decayed-engagement terms follow the documented r4 sum-order contract
(attribution-family precedent: per-term agreement to ~1e-10 against a
1e-4 grid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r4, r6, sql_r4, sql_r6
from ..sources import load_table
from .registry import register

# --- exponential time-decay engagement score ----------------------------------

_DECAY_LN2_OVER_HL = "9.902102579427789e-2"  # ln(2)/7: 7-day half-life
_US_PER_DAY = "8.64e10"


@register(
    "events_decayed_engagement",
    bench=True,  # r7f representative: scan-bound libm data path
    tags=("events", "feature", "aggregate"),
    oracle=f"""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS t_now FROM events),
    sc AS (
      SELECT e.user_id,
             e.value * exp(-{_DECAY_LN2_OVER_HL}
                           * ((mx.t_now - epoch_us(e.ts)) / {_US_PER_DAY}))
               AS term,
             (mx.t_now - epoch_us(e.ts)) AS age_us
      FROM events e CROSS JOIN mx
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_r4("SUM(term)")} AS decayed_score,
           {sql_r4(f"MIN(age_us) / {_US_PER_DAY}")} AS days_since_last
    FROM sc GROUP BY 1
    """,
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential time-decay engagement: each event contributes
    value * 2^(-age/7d) (7-day half-life), summed per user, next to the
    recency (days since last event) — the canonical recency-weighted
    feature pair (half-life features: e.g. Chamberlain et al. 2017,
    customer-lifetime embeddings). One groupBy(user_id) with map-side
    combine; the "now" anchor is a one-row broadcast MAX. Cross-engine:
    each term is one identical IEEE/libm expression of exact integer
    microsecond ages; the engine-ordered per-user SUM sits ~1e-10 inside
    the r4 grid (the attribution-family sum-order contract). At 100 TB
    the plan is a scan + one aggregate — nothing scales beyond the user
    cardinality, and incremental refresh folds in as
    score_new = score_old * decay(dt) + score_delta (documented, not
    materialized here)."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("t_now"))
    lam = float(_DECAY_LN2_OVER_HL)
    usd = float(_US_PER_DAY)
    age = (F.col("t_now") - F.unix_micros("ts")).alias("age_us")
    sc = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (
            F.col("value")
            * F.exp(
                -F.lit(lam) * ((F.col("t_now") - F.unix_micros("ts")) / usd)
            )
        ).alias("term"),
        age,
    )
    return sc.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        r4(F.sum("term")).alias("decayed_score"),
        r4(F.min("age_us") / usd).alias("days_since_last"),
    )


# --- ROLLUP ratio-to-parent ------------------------------------------------------


@register(
    "sql_ratio_to_parent",
    tags=("aggregate", "olap", "sql"),
    oracle=f"""
    WITH c AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             CAST(FLOOR(c.c_acctbal * 1e2 + 0.5) AS BIGINT) AS cents
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    rolled AS (
      SELECT nation, segment,
             CAST(GROUPING(nation) * 2 + GROUPING(segment) AS INT) AS lvl,
             CAST(SUM(cents) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM c GROUP BY ROLLUP (nation, segment)
    ),
    nat AS (
      SELECT nation, cents AS parent_cents FROM rolled
      WHERE lvl = 1
    ),
    grand AS (SELECT cents AS grand_cents FROM rolled WHERE lvl = 3)
    SELECT r.nation, r.segment, r.lvl, r.cents, r.n_customers,
           CASE
             WHEN r.lvl = 0 THEN {sql_r6("CAST(r.cents AS DOUBLE) / nat.parent_cents")}
             WHEN r.lvl = 1 THEN {sql_r6("CAST(r.cents AS DOUBLE) / g.grand_cents")}
             ELSE CAST(NULL AS DOUBLE)
           END AS share_of_parent
    FROM rolled r
    LEFT JOIN nat ON nat.nation = r.nation AND r.lvl = 0
    CROSS JOIN grand g
    """,
)
def sql_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP ratio-to-parent report over customer balances: leaf rows
    (nation, segment) carry their share of the nation subtotal, nation
    rows their share of the grand total — the drill-down normalization
    every OLAP front-end computes next to rollup aggregates
    (MDX RATIO_TO_REPORT / Oracle RATIO_TO_REPORT analog, here made
    explicit with GROUPING-level joins instead of a window so the parent
    linkage is visible in the plan). Balances aggregate as exact BIGINT
    cents; shares are single exact divisions snapped at r6. Engine
    shape: one rollup aggregate (Spark expands grouping sets in a single
    shuffle), then broadcast joins of the two tiny parent slices back
    onto it — at 100 TB the rollup output is |nations| x |segments| +
    |nations| + 1 rows regardless of input volume."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )
    c = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "nation",
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") * 1e2 + F.lit(0.5)).cast("long").alias("cents"),
    )
    rolled = c.rollup("nation", "segment").agg(
        F.sum("cents").cast("long").alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.grouping("nation") * 2 + F.grouping("segment"))
        .cast("int")
        .alias("lvl"),
    )
    natp = rolled.filter(F.col("lvl") == 1).select(
        F.col("nation").alias("p_nation"), F.col("cents").alias("parent_cents")
    )
    grand = rolled.filter(F.col("lvl") == 3).select(
        F.col("cents").alias("grand_cents")
    )
    out = (
        rolled.join(
            F.broadcast(natp),
            (F.col("nation") == F.col("p_nation")) & (F.col("lvl") == 0),
            "left",
        )
        .crossJoin(F.broadcast(grand))
        .select(
            "nation",
            "segment",
            "lvl",
            "cents",
            "n_customers",
            F.when(
                F.col("lvl") == 0,
                r6(F.col("cents").cast("double") / F.col("parent_cents")),
            )
            .when(
                F.col("lvl") == 1,
                r6(F.col("cents").cast("double") / F.col("grand_cents")),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("share_of_parent"),
        )
    )
    return out


# --- absorbing Markov chain: expected steps to conversion -----------------------

_AM_STATES = ("click", "error", "signup", "view")  # transient, sorted
_AM_ABSORB = "purchase"
_AM_K = 12  # fixed-point layers (documented truncation horizon)


def _am_oracle() -> str:
    """K unrolled fixed-point layers over a pivoted one-row t vector —
    the identical expression sequence the Spark side runs (PCA-oracle
    bit-exactness doctrine)."""
    sts = _AM_STATES
    q_cols = ", ".join(
        f"""CAST(SUM(CASE WHEN f = '{f}' AND t = '{t}' THEN 1 ELSE 0 END)
             AS DOUBLE)
           / GREATEST(SUM(CASE WHEN f = '{f}' THEN 1 ELSE 0 END), 1)
             AS q_{f}_{t}"""
        for f in sts
        for t in sts
    )
    n_cols = ", ".join(
        f"CAST(SUM(CASE WHEN f = '{f}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{f}"
        for f in sts
    )
    a_cols = ", ".join(
        f"""CAST(SUM(CASE WHEN f = '{f}' AND t = '{_AM_ABSORB}'
                     THEN 1 ELSE 0 END) AS DOUBLE)
           / GREATEST(SUM(CASE WHEN f = '{f}' THEN 1 ELSE 0 END), 1)
             AS a_{f}"""
        for f in sts
    )
    layers = []
    prev = "t0"
    init = ", ".join(f"0e0 AS t_{s}" for s in sts)
    layers.append(f"t0 AS (SELECT {init})")
    for k in range(1, _AM_K + 1):
        exprs = ", ".join(
            "1e0 + "
            + " + ".join(f"qm.q_{f}_{t} * {prev}.t_{t}" for t in sts)
            + f" AS t_{f}"
            for f in sts
        )
        layers.append(f"t{k} AS (SELECT {exprs} FROM {prev} CROSS JOIN qm)")
        prev = f"t{k}"
    selects = " UNION ALL ".join(
        f"""SELECT '{f}' AS state, qm.n_{f} AS n_transitions,
            {sql_r6(f"qm.a_{f}")} AS p_convert_1step,
            {sql_r6(f"{prev}.t_{f}")} AS expected_steps
        FROM qm CROSS JOIN {prev}"""
        for f in sts
    )
    return f"""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    tr AS (
      SELECT a.event_type AS f, b.event_type AS t
      FROM e a JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      WHERE a.event_type <> '{_AM_ABSORB}'
    ),
    qm AS (SELECT {q_cols}, {a_cols}, {n_cols} FROM tr),
    {", ".join(layers)}
    {selects}
    """


@register(
    "events_absorbing_markov",
    tags=("events", "graph", "iterative"),
    oracle=_am_oracle(),
)
def events_absorbing_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected steps to conversion per journey state, from the absorbing
    Markov chain over per-user event transitions (purchase = absorbing):
    t = 1 + Q t truncated at K=12 layers — t_K is the expected number of
    steps spent within the 12-step horizon, converging to (I-Q)^-1 1 as
    the horizon grows (Kemeny & Snell, absorbing-chain fundamental
    matrix). Built on the same (ts, event_id)-ordered consecutive-pair
    transitions as events_markov_transitions. Exactness: the transition
    matrix collapses to ONE pivoted row of exact count ratios, and both
    engines evaluate the SAME K unrolled 4-term left-associated
    expression layers on it — bit-identical doubles, no quantization
    needed until the final r6 snap. Engine shape: one window for rn, one
    self-join on (user, rn+1), one global pivot aggregate to a single
    broadcast row; the K layers are driver-free column expressions over
    that row. At 100 TB only the transition extraction touches data —
    the chain math is constant-size regardless of volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    b = e.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("t"),
        F.col("rn").alias("b_rn"),
    )
    tr = (
        e.filter(F.col("event_type") != _AM_ABSORB)
        .join(
            b,
            (F.col("b_user") == F.col("user_id"))
            & (F.col("b_rn") == F.col("rn") + 1),
        )
        .select(F.col("event_type").alias("f"), "t")
    )
    sts = _AM_STATES
    aggs = []
    for f in sts:
        denom = F.greatest(
            F.sum(F.when(F.col("f") == f, 1).otherwise(0)), F.lit(1)
        )
        for t in sts:
            aggs.append(
                (
                    F.sum(
                        F.when((F.col("f") == f) & (F.col("t") == t), 1).otherwise(0)
                    ).cast("double")
                    / denom
                ).alias(f"q_{f}_{t}")
            )
        aggs.append(
            (
                F.sum(
                    F.when(
                        (F.col("f") == f) & (F.col("t") == _AM_ABSORB), 1
                    ).otherwise(0)
                ).cast("double")
                / denom
            ).alias(f"a_{f}")
        )
        aggs.append(
            F.sum(F.when(F.col("f") == f, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{f}")
        )
    qm = tr.agg(*aggs)
    # K fixed-point layers as ONE sequence-fold over a packed t vector —
    # NOT K chained selects, which CollapseProject would inline into a
    # ~4^K expression tree (the measured MMR chained-withColumn trap,
    # CHANGES_r07). Association matches the oracle exactly: the inner
    # aggregate starts at 1.0 and folds the j-ordered products left to
    # right, i.e. (((1 + q1*t1) + q2*t2) + q3*t3) + q4*t4.
    qmat = F.array(
        *[
            F.array(*[F.col(f"q_{f}_{t}") for t in sts])
            for f in sts
        ]
    )
    tvec = F.aggregate(
        F.sequence(F.lit(1), F.lit(_AM_K)),
        F.array(*[F.lit(0e0) for _ in sts]),
        lambda acc, _k: F.transform(
            F.sequence(F.lit(0), F.lit(len(sts) - 1)),
            lambda i: F.aggregate(
                F.zip_with(
                    F.element_at(qmat, i + 1), acc, lambda a, b: a * b
                ),
                F.lit(1e0),
                lambda s, x: s + x,
            ),
        ),
    )
    cur = qm.select("*", tvec.alias("tv"))
    parts = [
        cur.select(
            F.lit(f).alias("state"),
            F.col(f"n_{f}").alias("n_transitions"),
            r6(F.col(f"a_{f}")).alias("p_convert_1step"),
            # zero-row transition table (empty slice): n_f aggregates to
            # NULL and the fold's 1+Q·t layers must report NULL expected
            # steps like the oracle, not the fold's 0-seed (r12
            # empty-input sweep); with any rows present n_f is 0+ and
            # the guard passes through
            F.when(
                F.col(f"n_{f}").isNotNull(),
                r6(F.element_at(F.col("tv"), i + 1)),
            ).alias("expected_steps"),
        )
        for i, f in enumerate(sts)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --- iterative proportional fitting (survey raking) ----------------------------

_IPF_ROUNDS = 3


def _ipf_oracle() -> str:
    """3 IPF rounds, each a row-scale then a column-scale step, weights
    requantized to a 1e6 BIGINT grid after every step so both engines'
    margin sums are exact integer sums (no accumulation-order exposure)."""
    layers = []
    prev = "w0"
    for k in range(1, _IPF_ROUNDS + 1):
        layers.append(
            f"""r{k} AS (
      SELECT segment, nation, n_raw,
             CAST(FLOOR((wq / 1e6)
               * (t.row_target
                  / (SUM(wq) OVER (PARTITION BY segment) / 1e6))
               * 1e6 + 0.5) AS BIGINT) AS wq
      FROM {prev} CROSS JOIN targets t
    ),
    w{k} AS (
      SELECT segment, nation, n_raw,
             CAST(FLOOR((wq / 1e6)
               * (t.col_target
                  / (SUM(wq) OVER (PARTITION BY nation) / 1e6))
               * 1e6 + 0.5) AS BIGINT) AS wq
      FROM r{k} CROSS JOIN targets t
    )"""
        )
        prev = f"w{k}"
    return f"""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, n.n_name AS nation,
             CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    targets AS (
      SELECT CAST(SUM(n_raw) AS DOUBLE)
               / COUNT(DISTINCT segment) AS row_target,
             CAST(SUM(n_raw) AS DOUBLE)
               / COUNT(DISTINCT nation) AS col_target
      FROM cells
    ),
    w0 AS (
      SELECT segment, nation, n_raw,
             CAST(n_raw * 1000000 AS BIGINT) AS wq
      FROM cells
    ),
    {", ".join(layers)}
    SELECT segment, nation, n_raw, wq / 1e6 AS weight,
           FLOOR(wq / 1e6 / n_raw * 1e6 + 0.5) / 1e6 AS rake_factor
    FROM {prev}
    """


@register(
    "a_ipf_raking",
    bench=True,  # r7f representative: window-pass fixed-point tier
    tags=("aggregate", "statistics", "iterative"),
    oracle=_ipf_oracle(),
)
def a_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking (iterative proportional fitting, Deming & Stephan
    1940): the (segment x nation) customer count table is raked in 3
    rounds toward uniform row and column margins — per round, every
    cell scales by row_target/row_sum then col_target/col_sum. The
    post-stratification weighting every survey/experimentation stack
    applies when a sample's margins drift from the population's. Emits
    per cell the raked weight and the rake factor (weight/raw — the
    design-effect driver). Exactness: weights requantize to a 1e6
    BIGINT grid after EVERY scale step, so margin sums are exact
    integer sums and the scale factors single IEEE divisions — the
    fixed-point doctrine of the k-means/PCA tier without any driver
    round-trip. Engine shape: one aggregate to the |segments| x
    |nations| cell frame packed into a single row, then ALL six scale
    layers as ONE in-row sequence-fold (the absorbing-markov idiom)
    rather than a 6-WindowExec chain over the coalesced cell frame: the
    same exact integer-grid arithmetic (margin sums are BIGINT adds,
    order-free) in a 6-operator-shorter plan, on a query that is job
    floor. The in-row fold is over the bounded ~125-element cell array
    — safe at any data volume; only the margins' CARDINALITY, never the
    data size, reaches this row."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    cells = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "nation")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    )
    packed = cells.agg(
        F.collect_list(F.struct("segment", "nation", "n_raw")).alias("cs")
    )
    # 6 alternating scale steps (k odd = row/segment, k even = col/nation)
    # folded over the packed cell vector. Margin sums are exact BIGINT
    # aggregates over the array; the per-step requantization matches the
    # oracle's floor(x * 1e6 + 0.5) grid exactly.
    fold = f"""
    aggregate(
      sequence(1, {2 * _IPF_ROUNDS}),
      transform(cs, c -> struct(c.segment AS segment, c.nation AS nation,
                                c.n_raw AS n_raw,
                                CAST(c.n_raw * 1000000 AS BIGINT) AS wq)),
      (acc, k) -> transform(acc, c -> struct(
        c.segment AS segment, c.nation AS nation, c.n_raw AS n_raw,
        CAST(floor((c.wq / 1e6)
          * ((CASE WHEN k % 2 = 1
                THEN CAST(aggregate(cs, 0L, (s, x) -> s + x.n_raw) AS DOUBLE)
                     / size(array_distinct(transform(cs, x -> x.segment)))
                ELSE CAST(aggregate(cs, 0L, (s, x) -> s + x.n_raw) AS DOUBLE)
                     / size(array_distinct(transform(cs, x -> x.nation))) END)
             / (aggregate(filter(acc, x -> CASE WHEN k % 2 = 1
                                             THEN x.segment = c.segment
                                             ELSE x.nation = c.nation END),
                          0L, (s, x) -> s + x.wq) / 1e6))
          * 1e6 + 0.5E0) AS BIGINT) AS wq))
    ) AS cells2
    """
    return (
        packed.select(F.expr(fold))
        .select(F.explode("cells2").alias("c"))
        .select(
            F.col("c.segment").alias("segment"),
            F.col("c.nation").alias("nation"),
            F.col("c.n_raw").alias("n_raw"),
            (F.col("c.wq") / 1e6).alias("weight"),
            (
                F.floor(
                    F.col("c.wq") / 1e6 / F.col("c.n_raw") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("rake_factor"),
        )
    )


# --- ergodic Markov stationary distribution --------------------------------------

_MS_STATES = ("click", "error", "purchase", "signup", "view")
_MS_K = 15


def _ms_oracle() -> str:
    sts = _MS_STATES
    q_cols = ", ".join(
        f"""CAST(SUM(CASE WHEN f = '{f}' AND t = '{t}' THEN 1 ELSE 0 END)
             AS DOUBLE)
           / GREATEST(SUM(CASE WHEN f = '{f}' THEN 1 ELSE 0 END), 1)
             AS p_{f}_{t}"""
        for f in sts
        for t in sts
    )
    n_cols = ", ".join(
        f"CAST(SUM(CASE WHEN f = '{f}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{f}"
        for f in sts
    )
    layers = [
        "p0 AS (SELECT "
        + ", ".join(
            f"CAST(FLOOR(1e9 / {len(sts)} + 0.5) AS BIGINT) AS pi_{s}"
            for s in sts
        )
        + ")"
    ]
    prev = "p0"
    for k in range(1, _MS_K + 1):
        exprs = ", ".join(
            "CAST(FLOOR("
            + " + ".join(
                f"{prev}.pi_{f} * qm.p_{f}_{t}" for f in sts
            )
            + " + 0.5) AS BIGINT)"
            + f" AS pi_{t}"
            for t in sts
        )
        layers.append(f"p{k} AS (SELECT {exprs} FROM {prev} CROSS JOIN qm)")
        prev = f"p{k}"
    selects = " UNION ALL ".join(
        f"""SELECT '{s}' AS state, qm.n_{s} AS n_out,
            FLOOR({prev}.pi_{s} / 1e9 * 1e6 + 0.5) / 1e6 AS pi
        FROM qm CROSS JOIN {prev}"""
        for s in sts
    )
    return f"""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    tr AS (
      SELECT a.event_type AS f, b.event_type AS t
      FROM e a JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    ),
    qm AS (SELECT {q_cols}, {n_cols} FROM tr),
    {", ".join(layers)}
    {selects}
    """


@register(
    "events_markov_stationary",
    tags=("events", "graph", "iterative"),
    oracle=_ms_oracle(),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the FULL user-journey Markov chain
    (all five states, purchase included — the ergodic complement to
    events_absorbing_markov): pi' = pi P iterated 15 rounds from
    uniform on a 1e9 integer grid, over the same (ts, event_id)-ordered
    transition counts. pi answers "where does a long session spend its
    time" — the steady-state engagement mix. Exactness: P entries are
    exact count ratios in ONE pivoted row; each round's five dot
    products unroll left-associated identically on both engines (the
    absorbing-Markov doctrine) and requantize to BIGINT, so there is
    never a cross-row double sum. Engine shape: transition extraction
    touches data once; the 15 rounds are constant-size column math on
    one row (single sequence-fold — no 5^K projection blowup)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    b = e.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("t"),
        F.col("rn").alias("b_rn"),
    )
    tr = e.join(
        b,
        (F.col("b_user") == F.col("user_id"))
        & (F.col("b_rn") == F.col("rn") + 1),
    ).select(F.col("event_type").alias("f"), "t")
    sts = _MS_STATES
    aggs = []
    for f in sts:
        denom = F.greatest(
            F.sum(F.when(F.col("f") == f, 1).otherwise(0)), F.lit(1)
        )
        for t in sts:
            aggs.append(
                (
                    F.sum(
                        F.when(
                            (F.col("f") == f) & (F.col("t") == t), 1
                        ).otherwise(0)
                    ).cast("double")
                    / denom
                ).alias(f"p_{f}_{t}")
            )
        aggs.append(
            F.sum(F.when(F.col("f") == f, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{f}")
        )
    qm = tr.agg(*aggs)
    pmat = F.array(
        *[F.array(*[F.col(f"p_{f}_{t}") for t in sts]) for f in sts]
    )
    k = len(sts)
    init = F.array(
        *[
            F.floor(F.lit(1e9) / k + F.lit(0.5)).cast("double")
            for _ in sts
        ]
    )
    # pi'_t = FLOOR(sum_f pi_f * P[f][t] + .5): fold over rounds; the
    # inner sum folds f-ordered with init 0 then +0.5 regrid — matching
    # the oracle's left-associated "a + b + c + d + e" exactly requires
    # init = first term: emulate by folding from 0 where the SQL also
    # starts the chain at the first product: (p1+p2)+... vs (0+p1)+p2...
    # differ; use explicit first-element seed below.
    tvec = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MS_K)),
        init,
        lambda acc, _k: F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda t: F.floor(
                F.aggregate(
                    F.sequence(F.lit(1), F.lit(k - 1)),
                    F.element_at(acc, 1)
                    * F.element_at(F.element_at(pmat, 1), t + 1),
                    lambda s, f: s
                    + F.element_at(acc, f + 1)
                    * F.element_at(F.element_at(pmat, f + 1), t + 1),
                )
                + F.lit(0.5)
            ).cast("double"),
        ),
    )
    cur = qm.select("*", tvec.alias("tv"))
    parts = [
        cur.select(
            F.lit(s).alias("state"),
            F.col(f"n_{s}").alias("n_out"),
            (
                F.floor(
                    F.element_at(F.col("tv"), i + 1) / 1e9 * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("pi"),
        )
        for i, s in enumerate(sts)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
