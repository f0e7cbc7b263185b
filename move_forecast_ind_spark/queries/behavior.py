"""Behavioral analytics operators (round 7, wave 2): item co-occurrence
collaborative filtering, community modularity, and U-shaped position
attribution.

The reference forecasts aggregate demand; a behavioral engine over the
same event stream needs the standard "who does what together" trio:

- ``events_item_cooccurrence``: item-item collaborative-filtering
  statistics over event types — co-engagement counts, cosine, lift, and
  Jaccard per unordered type pair (Deshpande & Karypis 2004, item-based
  top-N). The item dimension is schema-small (event types), so the pair
  frame is k*(k-1)/2 rows regardless of data volume; the user self-join
  fans out at most (types/user choose 2) rows per user.
- ``events_modularity``: Newman modularity Q of the partition induced by
  each user's dominant event type, over the TIGHT co-activity graph
  (same 300 s bucket + type as events_triangle_count — the same edge CTE
  verbatim, so the two queries' graphs can never drift apart). Q tells
  whether "what a user mostly does" actually predicts "who they act
  with" — the cluster-quality number for any community assignment.
- ``events_attribution_position``: U-shaped (40/20/40) position-based
  multi-touch attribution — first and last touch get 40% each, the
  middle splits the remaining 20% — completing the attribution family
  next to last-touch (single-touch) and linear (equal-weight).

Exactness: counts and degrees are BIGINT end-to-end; every emitted
double is a single identical IEEE expression of those integers (or, for
the global Q, a sum of 1e9-quantized per-community contributions), then
snapped through the rounding grid. Attribution shares reuse the
documented r4/r2 sum-order contract from events_attribution_linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r2, r4, r6, sql_r2, sql_r4, sql_r6
from ..operators.graph import TIGHT_BUCKET_S, coactivity_cte
from ..sources import load_table
from .registry import fmt_doc, register

# --- item-item collaborative filtering ---------------------------------------


@register(
    "events_item_cooccurrence",
    tags=("events", "similarity", "reco"),
    oracle=f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nu FROM ut GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nn FROM events),
    pair AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b,
             CAST(COUNT(*) AS BIGINT) AS cooc
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.cooc, ta.nu AS n_a, tb.nu AS n_b,
           {sql_r6("p.cooc / sqrt(CAST(ta.nu AS DOUBLE) * tb.nu)")} AS cosine,
           {sql_r6("CAST(p.cooc * n.nn AS DOUBLE) / (ta.nu * tb.nu)")} AS lift,
           {sql_r6("CAST(p.cooc AS DOUBLE) / (ta.nu + tb.nu - p.cooc)")}
             AS jaccard
    FROM pair p
    JOIN tot ta ON ta.event_type = p.item_a
    JOIN tot tb ON tb.event_type = p.item_b
    CROSS JOIN n
    """,
)
def events_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering statistics per unordered event-type
    pair: users engaging with both, cosine (cooc/sqrt(na*nb)), lift
    (cooc*N/(na*nb), >1 = positive association), and Jaccard. The
    item-based CF primitive (Deshpande & Karypis 2004): at 100 TB the
    user->items frame self-joins on user_id with fan-out bounded by
    items-per-user (<= k*(k-1)/2 pairs per user, k = |types|), the pair
    aggregate map-side combines to k*(k-1)/2 rows, and totals broadcast.
    A web-scale item catalog would add the standard min-hash/df-cap fence
    from jaccard_pairs; with a schema-bounded item set no fence is
    needed."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    tot = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nu")
    )
    nn = ev.select(
        F.count_distinct("user_id").cast("long").alias("nn")
    )
    a = ut.withColumnsRenamed({"event_type": "item_a"})
    b = ut.withColumnsRenamed({"event_type": "item_b"})
    pair = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
    )
    return (
        pair.join(
            F.broadcast(tot.withColumnsRenamed({"event_type": "item_a", "nu": "n_a"})),
            "item_a",
        )
        .join(
            F.broadcast(tot.withColumnsRenamed({"event_type": "item_b", "nu": "n_b"})),
            "item_b",
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "item_a",
            "item_b",
            "cooc",
            "n_a",
            "n_b",
            r6(
                F.col("cooc")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("cosine"),
            r6(
                (F.col("cooc") * F.col("nn")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
            r6(
                F.col("cooc").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("cooc"))
            ).alias("jaccard"),
        )
    )


# --- community modularity ------------------------------------------------------

@register(
    "events_modularity",
    tags=("events", "graph"),
    oracle=f"""
    {coactivity_cte(TIGHT_BUCKET_S)},
    tc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    comm AS (
      SELECT user_id, event_type AS community
      FROM (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, event_type) AS rn
            FROM tc)
      WHERE rn = 1
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS mm FROM edges),
    within AS (
      SELECT cs.community, CAST(COUNT(*) AS BIGINT) AS in_edges
      FROM edges e
      JOIN comm cs ON cs.user_id = e.src
      JOIN comm cd ON cd.user_id = e.dst
      WHERE cs.community = cd.community
      GROUP BY 1
    ),
    degs AS (
      SELECT c.community, CAST(COUNT(*) AS BIGINT) AS deg_sum
      FROM edges e JOIN comm c ON c.user_id = e.src
      GROUP BY 1
    ),
    members AS (
      SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM comm GROUP BY 1
    ),
    contrib AS (
      SELECT mb.community, mb.n_nodes,
             COALESCE(w.in_edges, 0) AS in_edges,
             COALESCE(d.deg_sum, 0) AS deg_sum,
             CAST(FLOOR((CAST(COALESCE(w.in_edges, 0) AS DOUBLE) / m.mm
                   - (CAST(COALESCE(d.deg_sum, 0) AS DOUBLE) / m.mm)
                     * (CAST(COALESCE(d.deg_sum, 0) AS DOUBLE) / m.mm))
                  * 1e9 + 0.5) AS BIGINT) AS q_q
      FROM members mb
      LEFT JOIN within w ON w.community = mb.community
      LEFT JOIN degs d ON d.community = mb.community
      CROSS JOIN m
    )
    SELECT community, n_nodes, in_edges, deg_sum,
           q_q / 1e9 AS q_contrib,
           CAST(SUM(q_q) OVER () AS BIGINT) / 1e9 AS q_total
    FROM contrib
    """,
)
def events_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the dominant-event-type partition over the
    tight user co-activity graph (identical edge definition to
    events_triangle_count: same event_type within the same 300 s
    bucket). Per community c (directed-symmetric edge counts M = 2|E|):
    Q_c = in_c/M - (d_c/M)^2; Q = sum Q_c, positive when behavior type
    predicts co-activity better than the degree-preserving random graph
    (Newman & Girvan 2004). Exactness: edges/degrees/members all BIGINT;
    each Q_c is one IEEE expression quantized at 1e9 and the global Q is
    the exact BIGINT sum of those. 100 TB posture: the edge list is the
    bucketed co-activity expansion (hot-bucket fence argument as the
    triangle tier); everything after it is two groupBys on community —
    k rows — plus broadcast-sized reductions."""
    ev = load_table(spark, sf_dir, "events")
    evd = ev.select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts") / TIGHT_BUCKET_S)
        .cast("long")
        .alias("h"),
    ).distinct()
    e2 = evd.withColumnsRenamed({"user_id": "dst"})
    edges = (
        evd.withColumnsRenamed({"user_id": "src"})
        .join(e2, ["event_type", "h"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    comm = (
        tc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("c").desc(), "event_type"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("community"))
    )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("mm"))
    cs = F.broadcast(comm.withColumnsRenamed({"user_id": "src", "community": "c_src"}))
    cd = F.broadcast(comm.withColumnsRenamed({"user_id": "dst", "community": "c_dst"}))
    within = (
        edges.join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("in_edges"))
    )
    degs = (
        edges.join(cs, "src")
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg_sum"))
    )
    members = comm.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    ine = F.coalesce("in_edges", F.lit(0).cast("long"))
    dg = F.coalesce("deg_sum", F.lit(0).cast("long"))
    contrib = (
        members.join(within, "community", "left")
        .join(degs, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            ine.alias("in_edges"),
            dg.alias("deg_sum"),
            F.floor(
                (
                    ine.cast("double") / F.col("mm")
                    - (dg.cast("double") / F.col("mm"))
                    * (dg.cast("double") / F.col("mm"))
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("q_q"),
        )
    )
    return contrib.select(
        "community",
        "n_nodes",
        "in_edges",
        "deg_sum",
        (F.col("q_q") / 1e9).alias("q_contrib"),
        (
            F.sum("q_q").over(Window.partitionBy()).cast("long") / 1e9
        ).alias("q_total"),
    )


# --- U-shaped position attribution ---------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # shared with the linear tier


@register(
    "events_attribution_position",
    tags=("events", "join", "analytics"),
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS us, value
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT event_id AS mid, user_id, epoch_us(ts) AS us,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    tj AS (
      SELECT p.pid, p.value, m.channel, m.us, m.mid
      FROM p LEFT JOIN m
        ON m.user_id = p.user_id
       AND m.us >= p.us - {_ATTR_WINDOW_US}
       AND m.us < p.us
    ),
    pos AS (
      SELECT pid, value, COALESCE(channel, 'direct') AS channel,
             CASE WHEN channel IS NULL THEN CAST(NULL AS BIGINT)
                  ELSE ROW_NUMBER() OVER (PARTITION BY pid
                                          ORDER BY us, channel, mid)
             END AS rk,
             COUNT(channel) OVER (PARTITION BY pid) AS k
      FROM tj
    ),
    sh AS (
      SELECT pid, value, channel,
             CASE WHEN rk IS NULL THEN 1e0
                  WHEN k = 1 THEN 1e0
                  WHEN k = 2 THEN 5e-1
                  WHEN rk = 1 OR rk = k THEN 4e-1
                  ELSE 2e-1 / (k - 2)
             END AS share
      FROM pos
    )
    SELECT channel,
           {sql_r4("SUM(share)")} AS credited_conversions,
           {sql_r2("SUM(value * share)")} AS credited_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM sh GROUP BY 1
    """,
)
def events_attribution_position(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """U-shaped (position-based, 40/20/40) multi-touch attribution: the
    first and last marketing touch in each purchase's 7-day lookback get
    40% of the credit each, the interior touches split the remaining 20%
    equally; single-touch paths get 100%, two-touch paths 50/50,
    untouched purchases credit 'direct'. Completes the attribution
    family (last-touch = single-touch, linear = equal-weight) with the
    position-weighted member every marketing stack ships. Same
    time-banded join skeleton and r4/r2 sum-order contract as
    events_attribution_linear; the extra position rank is one more
    window over the purchase key with a total (us, channel, mid)
    ordering so tie timestamps cannot flip ranks across engines (and a
    within-channel tie cannot change the per-channel sum regardless).
    At 100 TB: two shuffles — user_id join, pid window."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
        "value",
    )
    m = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("event_id").alias("mid"),
        F.col("user_id").alias("m_user"),
        F.unix_micros("ts").alias("m_us"),
        F.col("event_type").alias("channel"),
    )
    tj = p.join(
        m,
        (F.col("m_user") == F.col("p_user"))
        & (F.col("m_us") >= F.col("p_us") - _ATTR_WINDOW_US)
        & (F.col("m_us") < F.col("p_us")),
        "left",
    )
    wp = Window.partitionBy("pid")
    wrk = Window.partitionBy("pid").orderBy("m_us", "channel", "mid")
    pos = tj.select(
        "pid",
        "value",
        F.coalesce(F.col("channel"), F.lit("direct")).alias("ch"),
        F.when(
            F.col("channel").isNull(), F.lit(None).cast("long")
        )
        .otherwise(F.row_number().over(wrk).cast("long"))
        .alias("rk"),
        F.count("channel").over(wp).cast("long").alias("k"),
    )
    sh = pos.select(
        "pid",
        "value",
        F.col("ch").alias("channel"),
        F.when(F.col("rk").isNull(), F.lit(1.0))
        .when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when((F.col("rk") == 1) | (F.col("rk") == F.col("k")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
        .alias("share"),
    )
    return sh.groupBy("channel").agg(
        r4(F.sum("share")).alias("credited_conversions"),
        r2(F.sum(F.col("value") * F.col("share"))).alias("credited_revenue"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


# --- journey dwell time -----------------------------------------------------------


@register(
    "events_state_dwell_time",
    tags=("events", "timeseries", "aggregate"),
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    g AS (
      SELECT a.event_type AS state,
             epoch_us(b.ts) - epoch_us(a.ts) AS gap_us,
             a.event_id AS eid
      FROM e a JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
    ),
    rk AS (
      SELECT state, gap_us,
             ROW_NUMBER() OVER (PARTITION BY state
                                ORDER BY gap_us, eid) AS r,
             COUNT(*) OVER (PARTITION BY state) AS n,
             SUM(gap_us) OVER (PARTITION BY state) AS s
      FROM g
    )
    SELECT state, CAST(MAX(n) AS BIGINT) AS n_transitions,
           FLOOR(CAST(MAX(s) AS DOUBLE) / MAX(n) / 6e7 * 1e4 + 0.5) / 1e4
             AS mean_minutes,
           FLOOR(MAX(CASE WHEN r = CAST(CEIL(n * 0.5) AS BIGINT)
                          THEN gap_us END) / 6e7 * 1e4 + 0.5) / 1e4
             AS median_minutes,
           FLOOR(MAX(CASE WHEN r = CAST(CEIL(n * 0.9) AS BIGINT)
                          THEN gap_us END) / 6e7 * 1e4 + 0.5) / 1e4
             AS p90_minutes
    FROM rk GROUP BY 1
    """,
)
def events_state_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per journey state: for every consecutive per-user event
    pair (the same (ts, event_id)-ordered transitions the Markov tier
    uses), the gap attributed to the FROM state — per state the count,
    exact-rational mean, and rank-picked exact median/p90 in minutes.
    The timing complement to events_absorbing_markov's step counts
    (steps x dwell = journey duration). Exactness: gaps are exact
    microsecond BIGINTs; the mean is one division of exact sums; median
    and p90 are order statistics under a total (gap, event_id) order —
    no double accumulation. Engine shape: one rn window, one (user,
    rn+1) self-join, one per-state window + aggregate over the ~5-row
    key space. At 100 TB the self-join is user-partitioned (lead()
    within the same window pass is the production variant; the join
    form is kept so the oracle is line-for-line comparable)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn"),
    )
    b = e.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("rn").alias("b_rn"),
    )
    g = e.join(
        b,
        (F.col("b_user") == F.col("user_id"))
        & (F.col("b_rn") == F.col("rn") + 1),
    ).select(
        F.col("event_type").alias("state"),
        (F.unix_micros("b_ts") - F.unix_micros("ts")).alias("gap_us"),
        F.col("event_id").alias("eid"),
    )
    wr = Window.partitionBy("state").orderBy("gap_us", "eid")
    wn = Window.partitionBy("state")
    rk = g.select(
        "state",
        "gap_us",
        F.row_number().over(wr).cast("long").alias("r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
        F.sum("gap_us").over(wn).cast("long").alias("s"),
    )
    m4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return rk.groupBy("state").agg(
        F.max("n").cast("long").alias("n_transitions"),
        m4(F.max("s").cast("double") / F.max("n") / 6e7).alias("mean_minutes"),
        m4(
            F.max(
                F.when(
                    F.col("r") == F.ceil(F.col("n") * 0.5).cast("long"),
                    F.col("gap_us"),
                )
            )
            / 6e7
        ).alias("median_minutes"),
        m4(
            F.max(
                F.when(
                    F.col("r") == F.ceil(F.col("n") * 0.9).cast("long"),
                    F.col("gap_us"),
                )
            )
            / 6e7
        ).alias("p90_minutes"),
    )


# --- Cramér's V association ---------------------------------------------------------


@register(
    "a_cramers_v",
    tags=("aggregate", "statistics"),
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    margins AS (
      SELECT a, b, o,
             CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
             CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells
    ),
    terms AS (
      SELECT n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
             CAST(SUM(CAST(FLOOR(
               (o - CAST(ra AS DOUBLE) * cb / n)
               * (o - CAST(ra AS DOUBLE) * cb / n)
               / (CAST(ra AS DOUBLE) * cb / n) * 1e6 + 0.5) AS BIGINT))
               AS BIGINT) AS chi_q
      FROM margins GROUP BY 1
    )
    SELECT n, r, c,
           {sql_r4("chi_q / 1e6")} AS chi_square,
           {sql_r6("sqrt(chi_q / 1e6 / (n * (LEAST(r, c) - 1)))")}
             AS cramers_v
    FROM terms
    """,
)
def a_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between order priority and order status —
    the normalized [0,1] effect size the raw chi-square
    (a_chi_square_independence) lacks: V = sqrt(chi2 / (n (min(r,c)-1)))
    (Cramér 1946). Per-cell chi-square terms are identical IEEE
    expressions of exact BIGINT margins, quantized at 1e6 and summed as
    BIGINT over the <= r*c cells, so both the statistic and V are
    accumulation-order-proof. Engine shape: ONE cell aggregate (map-side
    combinable to r*c rows), margins as window passes over those cells,
    one final row. The grouped-contingency pattern scales to any volume
    because everything after the first aggregate is schema-sized."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wn = Window.partitionBy()
    m = cells.select(
        "a",
        "b",
        "o",
        F.sum("o").over(wa).cast("long").alias("ra"),
        F.sum("o").over(wb).cast("long").alias("cb"),
        F.sum("o").over(wn).cast("long").alias("n"),
    )
    exp = F.col("ra").cast("double") * F.col("cb") / F.col("n")
    terms = m.groupBy("n").agg(
        F.count_distinct("a").cast("long").alias("r"),
        F.count_distinct("b").cast("long").alias("c"),
        F.sum(
            F.floor(
                (F.col("o") - exp) * (F.col("o") - exp) / exp * 1e6
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("chi_q"),
    )
    return terms.select(
        "n",
        "r",
        "c",
        r4(F.col("chi_q") / 1e6).alias("chi_square"),
        r6(
            F.sqrt(
                F.col("chi_q")
                / 1e6
                / (F.col("n") * (F.least(F.col("r"), F.col("c")) - 1))
            )
        ).alias("cramers_v"),
    )


# --- behavioral entropy profile -------------------------------------------------


@register(
    "events_session_entropy",
    tags=("events", "feature", "statistics"),
    oracle="""
    WITH tc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM tc GROUP BY 1
    ),
    ent AS (
      SELECT t.user_id,
             CAST(SUM(CAST(FLOOR(
               -(CAST(c.c AS DOUBLE) / t.total)
               * ln(CAST(c.c AS DOUBLE) / t.total) * 1e9 + 0.5) AS BIGINT))
               AS BIGINT) AS hq
      FROM tot t JOIN tc c ON c.user_id = t.user_id
      GROUP BY 1
    )
    SELECT t.user_id, t.total AS n_events, t.n_types,
           FLOOR(e.hq / 1e9 * 1e6 + 0.5) / 1e6 AS entropy_nats,
           CASE WHEN t.n_types > 1
                THEN FLOOR(e.hq / 1e9 / ln(CAST(t.n_types AS DOUBLE))
                           * 1e6 + 0.5) / 1e6
                ELSE CAST(NULL AS DOUBLE) END AS entropy_normalized
    FROM tot t JOIN ent e ON e.user_id = t.user_id
    """,
)
def events_session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral entropy per user: Shannon entropy of the user's
    event-type distribution (nats) plus the [0,1] normalization by
    ln(n_types) — the diversity feature that separates single-purpose
    users (H~0) from explorers (H~ln k), the standard profile signal
    next to RFM and decayed engagement. Single-type users emit NULL
    normalized entropy (0/0 by convention, identical both engines).
    Exactness: the (user, type) counts are BIGINT, each -p ln p term is
    one IEEE/libm expression quantized at 1e9 and summed as BIGINT per
    user. Engine shape: one (user, type) aggregate, one user rollup,
    one user-keyed join of schema-sized frames — map-side combine does
    all data-sized work."""
    ev = load_table(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = tc.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("total")
    ent = (
        tot.join(tc, "user_id")
        .select(
            "user_id",
            F.floor(-p * F.log(p) * 1e9 + F.lit(0.5)).cast("long").alias("hterm"),
        )
        .groupBy("user_id")
        .agg(F.sum("hterm").cast("long").alias("hq"))
    )
    return tot.join(ent, "user_id").select(
        "user_id",
        F.col("total").alias("n_events"),
        "n_types",
        (F.floor(F.col("hq") / 1e9 * 1e6 + F.lit(0.5)) / 1e6).alias(
            "entropy_nats"
        ),
        F.when(
            F.col("n_types") > 1,
            F.floor(
                F.col("hq") / 1e9 / F.log(F.col("n_types").cast("double")) * 1e6
                + F.lit(0.5)
            )
            / 1e6,
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("entropy_normalized"),
    )


# --- Lorenz curve -----------------------------------------------------------------


@register(
    "events_lorenz_curve",
    tags=("aggregate", "statistics", "olap"),
    oracle="""
    WITH v AS (
      SELECT CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    rk AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS r,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS tot
      FROM v
    ),
    dec AS (
      SELECT CAST(CEIL(r * 10.0 / n) AS INT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS cents,
             MAX(n) AS n, MAX(tot) AS tot
      FROM rk GROUP BY 1
    )
    SELECT decile, n_orders,
           FLOOR(CAST(SUM(n_orders) OVER (ORDER BY decile) AS DOUBLE)
                 / n * 1e6 + 0.5) / 1e6 AS cum_pop_share,
           FLOOR(CAST(SUM(cents) OVER (ORDER BY decile) AS DOUBLE)
                 / tot * 1e6 + 0.5) / 1e6 AS cum_value_share
    FROM dec
    """,
)
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of order-value concentration in deciles: orders
    ranked ascending by exact cents (total (cents, orderkey) order),
    split into 10 population deciles, cumulative population vs
    cumulative value share — the curve behind a_gini_concentration's
    scalar (the Gini is twice the area between this curve and the
    diagonal), the standard whale-analysis readout. Exactness: ranks,
    decile sums, and cumulative sums are BIGINT; the two shares are
    single exact divisions. Engine shape: one global rank window (the
    oracle formulation) — at scale the rank is a range-partitioned sort
    and the 10-row decile frame aggregates map-side; a pre-bucketed
    histogram variant (value buckets -> interpolated deciles) removes
    the sort entirely when approximate deciles suffice."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "o_orderkey",
    )
    wr = Window.orderBy("cents", "o_orderkey")
    wall = Window.partitionBy()
    rk = v.select(
        "cents",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("cents").over(wall).alias("tot"),
    )
    dec = rk.groupBy(
        F.ceil(F.col("r") * 10.0 / F.col("n")).cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
        F.max("n").alias("n"),
        F.max("tot").alias("tot"),
    )
    wc = Window.orderBy("decile")
    return dec.select(
        "decile",
        "n_orders",
        (
            F.floor(
                F.sum("n_orders").over(wc).cast("double") / F.col("n") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("cum_pop_share"),
        (
            F.floor(
                F.sum("cents").over(wc).cast("double") / F.col("tot") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("cum_value_share"),
    )


# --- growth accounting ---------------------------------------------------------


@register(
    "events_growth_accounting",
    tags=("events", "analytics", "cohort"),
    oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    uw AS (
      SELECT DISTINCT e.user_id,
             CAST(FLOOR(CAST(CAST(e.ts AS DATE) - b.d0 AS BIGINT) / 7)
                  AS INT) AS wk
      FROM events e CROSS JOIN b
    ),
    per_user AS (
      SELECT user_id, list_sort(list(wk)) AS wks, MIN(wk) AS first_wk
      FROM uw GROUP BY 1
    ),
    mx AS (SELECT MAX(wk) AS maxwk FROM uw),
    staged AS (
      SELECT u.user_id, w.wk,
             CASE
               WHEN list_contains(u.wks, w.wk) AND u.first_wk = w.wk
                 THEN 'new'
               WHEN list_contains(u.wks, w.wk)
                    AND list_contains(u.wks, w.wk - 1) THEN 'retained'
               WHEN list_contains(u.wks, w.wk) THEN 'resurrected'
               WHEN list_contains(u.wks, w.wk - 1) THEN 'churned'
             END AS stage
      FROM per_user u
      CROSS JOIN (SELECT unnest(generate_series(0, (SELECT maxwk FROM mx)))
                  AS wk) w
      WHERE w.wk >= u.first_wk
    )
    SELECT CAST(wk AS INT) AS week, stage,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM staged WHERE stage IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every user classified per week as new
    (first active week), retained (active this week and last),
    resurrected (active, dormant last week, seen before), or churned
    (active last week, absent now) — the MAU decomposition
    new + retained + resurrected - churned every growth team reports.
    Engine shape: one distinct (user, week) aggregate, each user's
    active-week set collected IN-ROW (<= #weeks, a schema constant),
    then a bounded week fan-out evaluates membership per week — no
    per-week self-joins, no shuffle after the per-user collect. All
    counts exact integers; no rounding anywhere. At 100 TB the state
    per user is one small int array — the same bounded-collect doctrine
    as the co-activity tier."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    uw = (
        ev.crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7
            )
            .cast("int")
            .alias("wk"),
        )
        .distinct()
    )
    per_user = uw.groupBy("user_id").agg(
        F.array_sort(F.collect_list("wk")).alias("wks"),
        F.min("wk").alias("first_wk"),
    )
    mx = uw.agg(F.max("wk").alias("maxwk"))
    staged = (
        per_user.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "wks",
            "first_wk",
            F.explode(F.sequence(F.lit(0), F.col("maxwk"))).alias("wk"),
        )
        .filter(F.col("wk") >= F.col("first_wk"))
        .select(
            "wk",
            F.when(
                F.array_contains("wks", F.col("wk"))
                & (F.col("first_wk") == F.col("wk")),
                F.lit("new"),
            )
            .when(
                F.array_contains("wks", F.col("wk"))
                & F.array_contains("wks", F.col("wk") - 1),
                F.lit("retained"),
            )
            .when(F.array_contains("wks", F.col("wk")), F.lit("resurrected"))
            .when(
                F.array_contains("wks", F.col("wk") - 1), F.lit("churned")
            )
            .alias("stage"),
        )
        .filter(F.col("stage").isNotNull())
    )
    return staged.groupBy(
        F.col("wk").cast("int").alias("week"), "stage"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# --- weekly segment migration ---------------------------------------------------


@register(
    "events_segment_migration",
    tags=("events", "analytics", "cohort"),
    oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    uw AS (
      SELECT e.user_id,
             CAST(FLOOR(CAST(CAST(e.ts AS DATE) - b.d0 AS BIGINT) / 7)
                  AS INT) AS wk,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events e CROSS JOIN b
      GROUP BY 1, 2
    ),
    users AS (SELECT DISTINCT user_id FROM uw),
    weeks AS (SELECT unnest(generate_series(0, (SELECT MAX(wk) FROM uw)))
              AS wk),
    spine AS (
      SELECT u.user_id, w.wk, COALESCE(x.c, 0) AS c
      FROM users u CROSS JOIN weeks w
      LEFT JOIN uw x ON x.user_id = u.user_id AND x.wk = w.wk
    ),
    lv AS (
      SELECT user_id, wk,
             CASE WHEN c = 0 THEN 'none'
                  WHEN c <= 2 THEN 'light' ELSE 'heavy' END AS lvl
      FROM spine
    ),
    tr AS (
      SELECT wk, lvl,
             LAG(lvl) OVER (PARTITION BY user_id ORDER BY wk) AS plvl
      FROM lv
    )
    SELECT CAST(wk AS INT) AS week, plvl AS from_level, lvl AS to_level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM tr WHERE plvl IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def events_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement-segment migration matrix: every user classified
    per week as none (0 events), light (1-2), or heavy (3+) on a
    zero-filled user x week spine, then week-over-week transition counts
    — the Sankey/alluvial segment-migration readout growth teams pair
    with growth accounting (which tracks presence; this tracks
    INTENSITY movement). Thresholds are integer constants, the spine is
    users x weeks (weeks is a schema constant), and every count is
    exact — no rounding anywhere. Engine shape: one (user, week)
    aggregate, a bounded week fan-out to zero-fill, one lag window, one
    (week, from, to) aggregate of <= weeks x 9 rows."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    uw = (
        ev.crossJoin(F.broadcast(b))
        .groupBy(
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7
            )
            .cast("int")
            .alias("wk"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    users = uw.select("user_id").distinct()
    weeks = uw.agg(F.max("wk").alias("mx")).select(
        F.explode(F.sequence(F.lit(0), F.col("mx"))).alias("wk")
    )
    spine = users.crossJoin(F.broadcast(weeks)).join(
        uw, ["user_id", "wk"], "left"
    ).select(
        "user_id", "wk", F.coalesce("c", F.lit(0).cast("long")).alias("c")
    )
    lvl = (
        F.when(F.col("c") == 0, F.lit("none"))
        .when(F.col("c") <= 2, F.lit("light"))
        .otherwise(F.lit("heavy"))
    )
    lv = spine.select("user_id", "wk", lvl.alias("lvl"))
    w = Window.partitionBy("user_id").orderBy("wk")
    tr = lv.select(
        "wk", "lvl", F.lag("lvl").over(w).alias("plvl")
    ).filter(F.col("plvl").isNotNull())
    return tr.groupBy(
        F.col("wk").cast("int").alias("week"),
        F.col("plvl").alias("from_level"),
        F.col("lvl").alias("to_level"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


# --- journey entropy rate --------------------------------------------------------


@register(
    "events_journey_entropy_rate",
    tags=("events", "statistics", "graph"),
    oracle="""
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
    cells AS (
      SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2
    ),
    rows_ AS (
      SELECT f, CAST(SUM(c) AS BIGINT) AS nf FROM cells GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(nf) AS BIGINT) AS n FROM rows_),
    hrow AS (
      SELECT c.f, r.nf,
             CAST(SUM(CAST(FLOOR(
               -(CAST(c.c AS DOUBLE) / r.nf)
               * ln(CAST(c.c AS DOUBLE) / r.nf) * 1e9 + 0.5) AS BIGINT))
               AS BIGINT) AS hq
      FROM cells c JOIN rows_ r ON r.f = c.f
      GROUP BY 1, 2
    )
    SELECT h.f AS state, h.nf AS n_out,
           FLOOR(h.hq / 1e9 * 1e6 + 0.5) / 1e6 AS row_entropy_nats,
           FLOOR(CAST(SUM(CAST(FLOOR(CAST(h2.nf AS DOUBLE) / t.n
                                     * (h2.hq / 1e9) * 1e9 + 0.5) AS BIGINT))
                      OVER () AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
             AS entropy_rate_nats
    FROM hrow h
    JOIN hrow h2 ON h2.f = h.f
    CROSS JOIN tot t
    """,
)
def events_journey_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey chain: per from-state the
    conditional next-step entropy H(next|state) = -sum p ln p, and the
    chain's entropy rate sum_f w_f H_f weighted by the empirical
    from-state frequencies — how PREDICTABLE the next action is
    (0 = deterministic journeys, ln(5) = uniform chaos), the
    information-theoretic capstone on the Markov family (Shannon;
    Cover & Thomas ch. 4). Exactness: counts BIGINT; each -p ln p term
    and each w_f * H_f contribution is one IEEE expression quantized at
    1e9 and summed as BIGINT. Same transition extraction as the Markov
    tier; everything after is k-row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    bb = e.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("t"),
        F.col("rn").alias("b_rn"),
    )
    tr = e.join(
        bb,
        (F.col("b_user") == F.col("user_id"))
        & (F.col("b_rn") == F.col("rn") + 1),
    ).select(F.col("event_type").alias("f"), "t")
    cells = tr.groupBy("f", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows_ = cells.groupBy("f").agg(F.sum("c").cast("long").alias("nf"))
    tot = rows_.agg(F.sum("nf").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("nf")
    hrow = (
        cells.join(F.broadcast(rows_), "f")
        .select(
            "f",
            "nf",
            F.floor(-p * F.log(p) * 1e9 + F.lit(0.5)).cast("long").alias("hterm"),
        )
        .groupBy("f", "nf")
        .agg(F.sum("hterm").cast("long").alias("hq"))
    )
    wall = Window.partitionBy()
    contrib = F.floor(
        F.col("nf").cast("double") / F.col("n") * (F.col("hq") / 1e9) * 1e9
        + F.lit(0.5)
    ).cast("long")
    return hrow.crossJoin(F.broadcast(tot)).select(
        F.col("f").alias("state"),
        F.col("nf").alias("n_out"),
        (F.floor(F.col("hq") / 1e9 * 1e6 + F.lit(0.5)) / 1e6).alias(
            "row_entropy_nats"
        ),
        (
            F.floor(
                F.sum(contrib).over(wall).cast("double") / 1e9 * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("entropy_rate_nats"),
    )


# --- retention half-life fit ------------------------------------------------------

_RH_MAX_AGE = 14


@register(
    "events_retention_halflife",
    tags=("events", "cohort", "ml"),
    oracle=f"""
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY 1
    ),
    mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
    act AS (
      SELECT DISTINCT e.user_id,
             CAST(CAST(e.ts AS DATE) - f.cohort_day AS INT) AS age
      FROM events e JOIN fs f ON f.user_id = e.user_id
    ),
    ages AS (SELECT unnest(generate_series(1, {_RH_MAX_AGE})) AS age),
    risk AS (
      SELECT a.age,
             CAST(COUNT(*) AS BIGINT) AS n_at_risk
      FROM ages a
      JOIN fs f ON TRUE
      CROSS JOIN mx
      WHERE f.cohort_day + CAST(a.age AS INT) <= mx.max_day
      GROUP BY 1
    ),
    hits AS (
      SELECT c.age, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM act c WHERE c.age BETWEEN 1 AND {_RH_MAX_AGE}
      GROUP BY 1
    ),
    curve AS (
      SELECT r.age, r.n_at_risk, COALESCE(h.n_active, 0) AS n_active,
             CAST(FLOOR(ln(CAST(COALESCE(h.n_active, 0) AS DOUBLE)
                           / r.n_at_risk) * 1e9 + 0.5) AS BIGINT) AS lnrq
      FROM risk r LEFT JOIN hits h ON h.age = r.age
      WHERE COALESCE(h.n_active, 0) > 0
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(age) AS BIGINT) AS sa,
             CAST(SUM(CAST(age AS BIGINT) * age) AS BIGINT) AS saa,
             CAST(SUM(lnrq) AS BIGINT) AS sl,
             CAST(SUM(age * lnrq) AS BIGINT) AS sal
      FROM curve
    ),
    fit AS (
      SELECT CAST(k * sal - sa * sl AS DOUBLE)
               / CAST(k * saa - sa * sa AS DOUBLE) / 1e9 AS slope
      FROM mom
    )
    SELECT c.age, c.n_at_risk, c.n_active,
           FLOOR(CAST(c.n_active AS DOUBLE) / c.n_at_risk * 1e6 + 0.5) / 1e6
             AS retention_rate,
           FLOOR(f.slope * 1e6 + 0.5) / 1e6 AS fit_slope,
           CASE WHEN f.slope < 0
                THEN FLOOR(-6.931471805599453e-1 / f.slope * 1e4 + 0.5) / 1e4
           END AS halflife_days
    FROM curve c CROSS JOIN fit f
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled retention curve with an exponential-decay fit: per age
    1-{ma} days, the share of at-risk users (cohorts old enough to be
    observed at that age) still active, plus the log-linear OLS slope
    and the implied half-life -ln2/slope — the single-parameter summary
    a retention curve feeds into LTV and payback math (the parametric
    capstone on events_retention_cohorts' raw triangle). Exactness:
    at-risk/active counts are exact; each ln(rate) is one IEEE/libm
    expression quantized at 1e9 per AGE row; the OLS moments are exact
    BIGINT sums of those, one double division for the slope. Engine
    shape: two per-user aggregates, a bounded age fan-out against the
    cohort frame, one 14-row fit reduce. A positive slope (retention
    improving with age — possible on synthetic data) yields NULL
    half-life identically on both engines."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    act = (
        ev.join(fs, "user_id")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
            .cast("int")
            .alias("age"),
        )
        .distinct()
    )
    ages = fs.sparkSession.range(1, _RH_MAX_AGE + 1).select(
        F.col("id").cast("int").alias("age")
    )
    risk = (
        fs.crossJoin(F.broadcast(ages))
        .crossJoin(F.broadcast(mx))
        .filter(
            F.date_add(F.col("cohort_day"), F.col("age")) <= F.col("max_day")
        )
        .groupBy("age")
        .agg(F.count(F.lit(1)).cast("long").alias("n_at_risk"))
    )
    hits = (
        act.filter(F.col("age").between(1, _RH_MAX_AGE))
        .groupBy("age")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    curve = (
        risk.join(hits, "age", "left")
        .select(
            "age",
            "n_at_risk",
            F.coalesce("n_active", F.lit(0).cast("long")).alias("n_active"),
        )
        .filter(F.col("n_active") > 0)
        .withColumn(
            "lnrq",
            F.floor(
                F.log(
                    F.col("n_active").cast("double") / F.col("n_at_risk")
                )
                * 1e9
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    mom = curve.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("age").cast("long").alias("sa"),
        F.sum(F.col("age").cast("long") * F.col("age")).cast("long").alias("saa"),
        F.sum("lnrq").cast("long").alias("sl"),
        F.sum(F.col("age") * F.col("lnrq")).cast("long").alias("sal"),
    )
    fit = mom.select(
        (
            (F.col("k") * F.col("sal") - F.col("sa") * F.col("sl")).cast("double")
            / (F.col("k") * F.col("saa") - F.col("sa") * F.col("sa")).cast(
                "double"
            )
            / 1e9
        ).alias("slope")
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        "age",
        "n_at_risk",
        "n_active",
        (
            F.floor(
                F.col("n_active").cast("double") / F.col("n_at_risk") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("retention_rate"),
        (F.floor(F.col("slope") * 1e6 + F.lit(0.5)) / 1e6).alias("fit_slope"),
        F.when(
            F.col("slope") < 0,
            F.floor(
                F.lit(-6.931471805599453e-1) / F.col("slope") * 1e4
                + F.lit(0.5)
            )
            / 1e4,
        ).alias("halflife_days"),
    )


fmt_doc(events_retention_halflife, ma=_RH_MAX_AGE)


# --- user activity streaks --------------------------------------------------------


@register(
    "events_user_streaks",
    tags=("events", "feature", "window"),
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
    isl AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INT) AS grp
      FROM ud
    ),
    runs AS (
      SELECT user_id, grp,
             CAST(COUNT(*) AS BIGINT) AS len,
             MAX(day) AS run_end
      FROM isl GROUP BY 1, 2
    )
    SELECT r.user_id,
           CAST(SUM(r.len) AS BIGINT) AS n_active_days,
           CAST(MAX(r.len) AS BIGINT) AS longest_streak,
           CAST(COALESCE(MAX(CASE WHEN r.run_end = mx.max_day
                                  THEN r.len END), 0) AS BIGINT)
             AS current_streak
    FROM runs r CROSS JOIN mx
    GROUP BY 1
    """,
)
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-activity streaks via the gaps-and-islands trick
    (day minus its per-user rank is constant within a consecutive run):
    total active days, longest streak, and the CURRENT streak (the run
    ending on the corpus's last day, else 0) — the engagement metric
    every habit-loop product surfaces, at the user grain where
    w_gaps_islands works per series. All integers; one distinct
    (user, day) aggregate, one rank window, two user-keyed reductions —
    every stage is user-partitioned and map-side combinable at any
    scale."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    mx = ev.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ud.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.max("day").alias("run_end"),
    )
    return (
        runs.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.max("len").cast("long").alias("longest_streak"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("run_end") == F.col("max_day"), F.col("len")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("current_streak"),
        )
    )
