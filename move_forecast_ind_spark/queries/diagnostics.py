"""Robust-diagnostics operators: Hampel outlier filter, source freshness,
script/character profiling, blocklist moderation (round-7 continuation,
wave 3).

Four production-pipeline guardrails the engine was still missing:

- ``ts_hampel_outliers``: the rolling-median/MAD (Hampel) filter — the
  robust outlier detector that, unlike ``events_anomaly_zscore``'s
  mean/sigma, is not itself corrupted by the outliers it hunts;
- ``dq_freshness_lag``: per-stream ingestion freshness vs the global
  watermark — the ops check run before trusting any downstream metric;
- ``text_script_profile``: per-document character-class composition
  (letters / digits / whitespace / other + non-ASCII) and a script
  verdict — the cheap first pass of corpus language triage ahead of the
  n-gram ``text_langid``;
- ``corpus_blocklist_ratio``: per-source blocklist-token exposure with
  integer cross-multiplied doc flags — the moderation summary a training
  corpus is gated on.

Exactness doctrine: window memberships, medians, and MADs are derived
from sorted INTEGER arrays (a median of integers is exactly representable
as a double: .0 or .5), freshness lags are exact microsecond BIGINTs, and
the moderation flag compares ``50·hits > tokens`` in integer arithmetic
rather than dividing — no cross-row double accumulation exists anywhere
in this module, so engine aggregation order cannot move any value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r4, r6, sql_r4, sql_r6
from ..sources import load_table
from .registry import fmt_doc, register

# --- Hampel rolling-median/MAD outliers --------------------------------------

_HAMPEL_K = "1.4826e0"  # MAD -> sigma consistency constant, shared literal


@register(
    "ts_hampel_outliers",
    bench=True,  # round-7 continuation representative: bounded-band window tier
    tags=("timeseries", "statistics"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    contrib AS (
      SELECT daily.event_type, daily.d + CAST(o.off AS INTEGER) AS center,
             daily.d, daily.n
      FROM daily CROSS JOIN (SELECT unnest(range(-3, 4)) AS off) o
    ),
    win AS (
      SELECT c.event_type, c.center AS d,
             MAX(CASE WHEN c.d = c.center THEN c.n END) AS n,
             list_sort(list(c.n)) AS vals
      FROM contrib c
      JOIN daily x ON x.event_type = c.event_type AND x.d = c.center
      GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, d, n, vals, len(vals) AS m,
             CASE WHEN len(vals) % 2 = 1
                  THEN CAST(vals[(len(vals) + 1) // 2] AS DOUBLE)
                  ELSE (vals[len(vals) // 2] + vals[len(vals) // 2 + 1]) / 2e0
             END AS med
      FROM win
    ),
    mad AS (
      SELECT event_type, d, n, med,
             list_sort(list_transform(vals, x -> abs(x - med))) AS dv, m
      FROM med
    ),
    stat AS (
      SELECT event_type, d, n, med,
             CASE WHEN m % 2 = 1 THEN dv[(m + 1) // 2]
                  ELSE (dv[m // 2] + dv[m // 2 + 1]) / 2e0
             END AS mad
      FROM mad
    )
    SELECT event_type, d, n,
           {sql_r4("med")} AS rolling_median,
           {sql_r4("mad")} AS rolling_mad,
           CAST(abs(n - med) > 3e0 * {_HAMPEL_K} * mad AS BOOLEAN) AS is_outlier
    FROM stat ORDER BY event_type, d
    """,
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over per-type daily event counts: for each day, the
    centered ±3-day window's median and MAD (median absolute deviation),
    flagging days where |n - median| > 3·1.4826·MAD. The robust
    complement to events_anomaly_zscore — a level shift or spike inflates
    the mean AND the sigma (masking itself), but moves a 7-point median
    not at all.

    Median/MAD are computed from sorted integer arrays (collect the ≤7
    window values per center, sort, index) — exact arithmetic end to end,
    since a median of integers is always representable (.0/.5) and the
    deviations are exact doubles. Engine shape: one daily hash aggregate,
    a 7× bounded explode (offset sequence — a map-side expression, not a
    join), one (type, center) aggregate. Window size is a CONSTANT, so at
    100 TB the expansion factor stays 7 regardless of data volume — the
    same bounded-band doctrine as j_value_band_join; no sliding window
    ever materializes more than the 7-day neighborhood, and the frame
    partitions by (event_type, day) like every other daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    # Whole post-aggregate body as expr strings (construction-cost
    # doctrine — lloyd_assign): identical parsed trees to the old Column
    # algebra (verified bit-exact against the oracle at 3 SFs), one
    # gateway roundtrip per select instead of per Column node. The
    # arithmetic is literal-for-literal the same: `/` is double division
    # in both APIs, CAST AS INT truncates, 2E0/3E0 parse as DOUBLE.
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.expr("CAST(count(1) AS BIGINT) AS n"))
    contrib = daily.selectExpr(
        "event_type", "d", "n", "explode(sequence(-3, 3)) AS off"
    ).selectExpr("event_type", "date_add(d, off) AS center", "d", "n")
    centers = daily.selectExpr("event_type", "d AS center")
    win = (
        contrib.join(centers, ["event_type", "center"])
        .groupBy("event_type", F.col("center").alias("d"))
        .agg(
            F.expr("max(CASE WHEN d = center THEN n END) AS n"),
            F.expr("array_sort(collect_list(n)) AS vals"),
        )
    )
    _MED = (
        "CASE WHEN size({v}) % 2 = 1 THEN CAST(element_at({v}, "
        "CAST((size({v}) + 1) / 2 AS INT)) AS DOUBLE) "
        "ELSE (element_at({v}, CAST(size({v}) / 2 AS INT)) "
        "+ element_at({v}, CAST(size({v}) / 2 + 1 AS INT))) / 2E0 END"
    )
    stat = win.selectExpr(
        "event_type", "d", "n", "vals", f"{_MED.format(v='vals')} AS med"
    ).selectExpr(
        "event_type",
        "d",
        "n",
        "med",
        "array_sort(transform(vals, x -> abs(x - med))) AS dv",
    ).selectExpr(
        "event_type", "d", "n", "med", f"{_MED.format(v='dv')} AS mad"
    )
    return stat.selectExpr(
        "event_type",
        "d",
        "n",
        f"{sql_r4('med')} AS rolling_median",
        f"{sql_r4('mad')} AS rolling_mad",
        f"(abs(n - med) > 3E0 * {_HAMPEL_K} * mad) AS is_outlier",
    ).orderBy("event_type", "d")


# --- Ingestion freshness ------------------------------------------------------


@register(
    "dq_freshness_lag",
    tags=("dq",),
    oracle="""
    WITH per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS max_us
      FROM events GROUP BY 1
    ),
    g AS (SELECT MAX(max_us) AS gmax FROM per)
    SELECT event_type, n_events,
           CAST(FLOOR((g.gmax - per.max_us) / 6e7) AS BIGINT) AS lag_minutes,
           CAST(FLOOR((g.gmax - per.max_us) / 6e7) >= 60 AS BOOLEAN) AS is_stale
    FROM per CROSS JOIN g
    ORDER BY event_type
    """,
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream ingestion freshness: each event type's newest timestamp
    lag, in whole minutes, behind the global high-watermark, with a
    ≥60-minute staleness flag — the data-quality gate an orchestrator
    checks before releasing downstream aggregates (a silently-stalled
    producer shows up here first, not in the metric that quietly stops
    moving).

    Lags are exact microsecond BIGINT differences floored to minutes
    (identical in both engines — second-granularity epoch functions
    differ in fractional handling, microsecond ones don't). Shape: one
    map-side-combinable (type → max, count) aggregate plus a one-row
    global max broadcast; at 100 TB nothing but the k-row summary ever
    moves."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.unix_micros(F.max("ts")).cast("long").alias("max_us"),
    )
    g = per.groupBy().agg(F.max("max_us").alias("gmax"))
    lag = F.floor((F.col("gmax") - F.col("max_us")) / F.lit(6e7)).cast("long")
    return (
        per.join(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            lag.alias("lag_minutes"),
            (lag >= 60).alias("is_stale"),
        )
        .orderBy("event_type")
    )


# --- Character-class / script profile ----------------------------------------


@register(
    "text_script_profile",
    tags=("text",),
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                  AS BIGINT) AS letters,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS digits,
             CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g'))
                  AS BIGINT) AS spaces,
             CAST(length(regexp_replace(text, '[\\x20-\\x7e\\t\\n\\r]', '', 'g'))
                  AS BIGINT) AS non_ascii
      FROM documents
    )
    SELECT doc_id, n, letters, digits, spaces,
           n - letters - digits - spaces AS other_chars, non_ascii,
           {sql_r4("letters / CAST(n AS DOUBLE)")} AS letter_ratio,
           {sql_r4("spaces / CAST(n AS DOUBLE)")} AS space_ratio,
           CASE WHEN letters * 2 > n THEN 'latin'
                WHEN digits * 3 > n THEN 'numeric'
                ELSE 'mixed' END AS script_class
    FROM c WHERE n > 0 ORDER BY doc_id
    """,
)
def text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-class composition — letter / digit /
    whitespace / other counts, non-ASCII residue, and a coarse script
    verdict (majority-letters → latin, digit-heavy → numeric) by INTEGER
    cross-multiplication (``letters·2 > n``, no ratio compare). The
    zero-cost first triage pass of corpus language handling: documents
    whose script verdict disagrees with the n-gram ``text_langid`` are
    the mislabeled-language suspects.

    Counts come from length-after-class-removal (``regexp_replace`` with
    a character class — one vectorized JVM regex pass per class, no
    tokenization, no explode); everything is map-side per-document
    expression work with zero shuffles beyond the output sort, so at
    100 TB this is a pure scan-rate operator with the text column the
    only bytes read."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("long")
    letters = (F.length("text") - F.length(F.regexp_replace("text", "[A-Za-z]", ""))).cast("long")
    digits = (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("long")
    spaces = (F.length("text") - F.length(F.regexp_replace("text", r"\s", ""))).cast("long")
    non_ascii = F.length(F.regexp_replace("text", r"[\x20-\x7e\t\n\r]", "")).cast("long")
    c = docs.select(
        "doc_id",
        n.alias("n"),
        letters.alias("letters"),
        digits.alias("digits"),
        spaces.alias("spaces"),
        non_ascii.alias("non_ascii"),
    ).where(F.col("n") > 0)
    return c.select(
        "doc_id",
        "n",
        "letters",
        "digits",
        "spaces",
        (F.col("n") - F.col("letters") - F.col("digits") - F.col("spaces")).alias(
            "other_chars"
        ),
        "non_ascii",
        r4(F.col("letters") / F.col("n").cast("double")).alias("letter_ratio"),
        r4(F.col("spaces") / F.col("n").cast("double")).alias("space_ratio"),
        F.when(F.col("letters") * 2 > F.col("n"), "latin")
        .when(F.col("digits") * 3 > F.col("n"), "numeric")
        .otherwise("mixed")
        .alias("script_class"),
    ).orderBy("doc_id")


# --- Blocklist moderation summary --------------------------------------------

_BLOCKLIST = ("slow", "dup", "big")


@register(
    "corpus_blocklist_ratio",
    tags=("corpus", "moderation"),
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> len(t) > 0) AS ts
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(len(ts) AS BIGINT) AS ntok,
             CAST(len(list_filter(ts, t -> t IN ('slow', 'dup', 'big')))
                  AS BIGINT) AS hits
      FROM toks
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(hits) AS BIGINT) AS blocked_tokens,
           CAST(SUM(CASE WHEN hits * 20 > ntok THEN 1 ELSE 0 END) AS BIGINT)
             AS flagged_docs,
           {sql_r6("SUM(hits) / CAST(SUM(ntok) AS DOUBLE)")} AS corpus_ratio
    FROM per_doc GROUP BY 1 ORDER BY source
    """,
)
def corpus_blocklist_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-exposure moderation summary per source: token counts,
    blocklisted-token counts, documents flagged where blocked tokens
    exceed 5% of the document (integer cross-multiplication
    ``hits·20 > ntok`` — no per-document ratio double ever exists), and
    the corpus-level exposure ratio from exact integer sums. The
    go/no-go moderation gate a training mix is screened through; the
    term list here is a stand-in for a real deny-list and enters the
    plan as a literal IN-set (at production scale, a broadcast set).

    Shape: tokenize (one regex split per document, in-row filter — no
    explode, so token arrays never shuffle), two integer counters per
    document map-side, one per-source aggregate. Scan-rate at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    in_set = ", ".join(f"'{t}'" for t in _BLOCKLIST)
    toks = docs.select(
        "doc_id",
        "source",
        F.expr("filter(split(lower(text), '[^a-z]+'), t -> length(t) > 0)").alias(
            "ts"
        ),
    )
    per_doc = toks.select(
        "source",
        F.size("ts").cast("long").alias("ntok"),
        F.size(F.expr(f"filter(ts, t -> t IN ({in_set}))")).cast("long").alias(
            "hits"
        ),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.sum("hits").cast("long").alias("blocked_tokens"),
            F.sum(F.when(F.col("hits") * 20 > F.col("ntok"), 1).otherwise(0))
            .cast("long")
            .alias("flagged_docs"),
            # a source whose every doc is empty/whitespace has zero
            # tokens: NULL ratio like the oracle's x/0, not an ANSI
            # divide-by-zero (r12 degenerate-document sweep)
            r6(
                F.when(
                    F.sum("ntok") > 0,
                    F.sum("hits") / F.sum("ntok").cast("double"),
                )
            ).alias("corpus_ratio"),
        )
        .orderBy("source")
    )


# --- Winsorized mean ----------------------------------------------------------


@register(
    "a_winsorized_mean",
    tags=("aggregate", "statistics", "robust"),
    oracle=f"""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST(FLOOR(c_acctbal * 1e2 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    th AS (
      SELECT seg, quantile_cont(cents, 5e-2) AS lo,
                  quantile_cont(cents, 95e-2) AS hi
      FROM c GROUP BY 1
    ),
    w AS (
      SELECT c.seg,
             CAST(FLOOR(LEAST(GREATEST(CAST(c.cents AS DOUBLE), th.lo), th.hi)
                        * 1e4 + 0.5) AS BIGINT) AS wq,
             CAST(c.cents < th.lo AS INTEGER) AS cl,
             CAST(c.cents > th.hi AS INTEGER) AS ch
      FROM c JOIN th ON th.seg = c.seg
    )
    SELECT seg AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cl) AS BIGINT) AS n_clipped_low,
           CAST(SUM(ch) AS BIGINT) AS n_clipped_high,
           {sql_r4("SUM(wq) / (COUNT(*) * 1e6)")} AS winsorized_mean
    FROM w GROUP BY 1 ORDER BY c_mktsegment
    """,
)
def a_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95% winsorized mean of account balance per market segment — the
    robust-location member that CLAMPS tails instead of deleting them
    (a_trimmed_mean) or ranking them away (a_mad_robust / weighted
    median): outliers keep one vote at the fence value, the standard
    treatment for revenue-like metrics where dropping whales biases low.

    Fences are exact interpolated percentiles over integer cents (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, the a_percentiles
    equivalence; at p = 0.05 the interpolation weights are multiples of
    0.05, so fences sit ≥ 0.05 cents from any data point and the clamp
    comparisons cannot flip across engines). Clamped values quantize to
    1e-4-cent BIGINTs so the mean is an exact integer sum — no cross-row
    double accumulation. Shape: one percentile aggregate to a k-row
    fence frame, broadcast back over the data, one moment aggregate.
    At 100 TB swap the exact percentile for percentile_approx exactly as
    a_percentiles documents; everything else is unchanged."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * F.lit(1e2) + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )
    th = c.groupBy("seg").agg(
        F.expr("percentile(cents, 0.05D)").alias("lo"),
        F.expr("percentile(cents, 0.95D)").alias("hi"),
    )
    w = c.join(F.broadcast(th), "seg").select(
        "seg",
        F.floor(
            F.least(
                F.greatest(F.col("cents").cast("double"), F.col("lo")), F.col("hi")
            )
            * F.lit(1e4)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("wq"),
        (F.col("cents") < F.col("lo")).cast("int").alias("cl"),
        (F.col("cents") > F.col("hi")).cast("int").alias("ch"),
    )
    return (
        w.groupBy(F.col("seg").alias("c_mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cl").cast("long").alias("n_clipped_low"),
            F.sum("ch").cast("long").alias("n_clipped_high"),
            r4(F.sum("wq") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
                "winsorized_mean"
            ),
        )
        .orderBy("c_mktsegment")
    )


# --- Rolling cross-series correlation ----------------------------------------


@register(
    "ts_rolling_corr",
    tags=("timeseries", "statistics"),
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS x,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, x, y,
             CAST(COUNT(*) OVER win AS BIGINT) AS n,
             CAST(SUM(x) OVER win AS BIGINT) AS sx,
             CAST(SUM(y) OVER win AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER win AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER win AS BIGINT) AS syy,
             CAST(SUM(x * y) OVER win AS BIGINT) AS sxy
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, x, y, n,
           CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                     * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy) > 0e0
                THEN {sql_r6(
                    "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)"
                    " / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)"
                    "        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))"
                )}
                ELSE NULL END AS rolling_r
    FROM w ORDER BY day
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing Pearson correlation between the daily click and
    purchase count series — the co-movement monitor that catches a
    decoupling funnel (clicks up, purchases flat) days before either
    univariate anomaly tier fires. All six window statistics (n, Σx, Σy,
    Σx², Σy², Σxy) are BIGINT sums over a ROWS frame — exact and
    aggregation-order-free; r is formed once per day from the moments
    with the identical double op sequence on both engines (the
    a_spearman_rank moment-correlation doctrine applied to a window),
    NULL where a window has zero variance.

    Shape: one conditional-count aggregate to the daily frame, then a
    7-row bounded window — at fixture scale the frame is 30 rows; at
    100 TB the daily rollup stays calendar-bounded (365 rows/year/series)
    and the window partitions by series key, so the unpartitioned sort
    here never sees raw data."""
    from pyspark.sql.window import Window as _W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).cast("long").alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("y"),
    )
    win = _W.orderBy("day").rowsBetween(-6, 0)
    w = daily.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("x").over(win).cast("long").alias("sx"),
        F.sum("y").over(win).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("long").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    )
    vy = F.col("n") * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    )
    cov = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    return w.select(
        "day",
        "x",
        "y",
        "n",
        F.when(vx * vy > F.lit(0e0), r6(cov / F.sqrt(vx * vy)))
        .otherwise(F.lit(None))
        .alias("rolling_r"),
    ).orderBy("day")


# --- Mutual information: day-of-week × event-type ----------------------------


@register(
    "a_mutual_information",
    tags=("aggregate", "statistics", "information"),
    oracle=f"""
    WITH cells AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    rows_m AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
    cols_m AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
    miq AS (
      SELECT CAST(SUM(CAST(FLOOR(
               (CAST(cells.n AS DOUBLE) / tot.nn)
               * ln((CAST(cells.n AS DOUBLE) * tot.nn)
                    / (CAST(rows_m.r AS DOUBLE) * cols_m.c)) * 1e9 + 0.5)
             AS BIGINT)) AS BIGINT) AS mi_q
      FROM cells
      JOIN rows_m ON rows_m.dow = cells.dow
      JOIN cols_m ON cols_m.event_type = cells.event_type
      CROSS JOIN tot
    ),
    hr AS (
      SELECT CAST(SUM(CAST(FLOOR(
               -(CAST(r AS DOUBLE) / tot.nn) * ln(CAST(r AS DOUBLE) / tot.nn)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h_q
      FROM rows_m CROSS JOIN tot
    ),
    hc AS (
      SELECT CAST(SUM(CAST(FLOOR(
               -(CAST(c AS DOUBLE) / tot.nn) * ln(CAST(c AS DOUBLE) / tot.nn)
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS h_q
      FROM cols_m CROSS JOIN tot
    )
    SELECT tot.nn AS n_events,
           {sql_r6("miq.mi_q / 1e9")} AS mi_nats,
           {sql_r6("hr.h_q / 1e9")} AS h_dow,
           {sql_r6("hc.h_q / 1e9")} AS h_type,
           {sql_r6("miq.mi_q / 1e9 / sqrt((hr.h_q / 1e9) * (hc.h_q / 1e9))")}
             AS nmi
    FROM tot CROSS JOIN miq CROSS JOIN hr CROSS JOIN hc
    """,
)
def a_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between day-of-week and event type, with
    marginal entropies and the sqrt-normalized NMI — the
    dependence-strength complement to a_chi_square_independence's
    significance test (chi-square says IF the factors are associated;
    MI says HOW MUCH information one carries about the other).

    Doctrine for information sums: each cell's p·ln(p/(pq)) contribution
    is ONE double expression over exact integer counts (bit-identical
    per cell across engines up to a ln() ulp), quantized to a 1e-9-nat
    BIGINT and SUMMED EXACTLY — the cross-row float accumulation that
    would otherwise be engine-order-dependent never happens. Shape: one
    (dow, type) hash aggregate — bounded 7×k cells — then scalar joins;
    at 100 TB only the first aggregate sees data."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cells.groupBy().agg(F.sum("n").cast("long").alias("nn"))
    rows_m = cells.groupBy("dow").agg(F.sum("n").cast("long").alias("r"))
    cols_m = cells.groupBy("event_type").agg(F.sum("n").cast("long").alias("c"))

    def q9(expr):
        return F.floor(expr * F.lit(1e9) + F.lit(0.5)).cast("long")

    mi_q = (
        cells.join(F.broadcast(rows_m), "dow")
        .join(F.broadcast(cols_m), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            q9(
                (F.col("n").cast("double") / F.col("nn"))
                * F.log(
                    (F.col("n").cast("double") * F.col("nn"))
                    / (F.col("r").cast("double") * F.col("c"))
                )
            ).alias("t")
        )
        .groupBy()
        .agg(F.sum("t").cast("long").alias("mi_q"))
    )
    hr = (
        rows_m.crossJoin(F.broadcast(tot))
        .select(
            q9(
                -(F.col("r").cast("double") / F.col("nn"))
                * F.log(F.col("r").cast("double") / F.col("nn"))
            ).alias("t")
        )
        .groupBy()
        .agg(F.sum("t").cast("long").alias("h_q"))
    )
    hc = (
        cols_m.crossJoin(F.broadcast(tot))
        .select(
            q9(
                -(F.col("c").cast("double") / F.col("nn"))
                * F.log(F.col("c").cast("double") / F.col("nn"))
            ).alias("t")
        )
        .groupBy()
        .agg(F.sum("t").cast("long").alias("h_q"))
    )
    return (
        tot.crossJoin(F.broadcast(mi_q))
        .crossJoin(F.broadcast(hr.withColumnRenamed("h_q", "hr_q")))
        .crossJoin(F.broadcast(hc.withColumnRenamed("h_q", "hc_q")))
        .select(
            F.col("nn").alias("n_events"),
            r6(F.col("mi_q") / F.lit(1e9)).alias("mi_nats"),
            r6(F.col("hr_q") / F.lit(1e9)).alias("h_dow"),
            r6(F.col("hc_q") / F.lit(1e9)).alias("h_type"),
            r6(
                F.col("mi_q")
                / F.lit(1e9)
                / F.sqrt((F.col("hr_q") / F.lit(1e9)) * (F.col("hc_q") / F.lit(1e9)))
            ).alias("nmi"),
        )
    )


# --- Jensen-Shannon divergence between source unigram distributions ----------

_JS_SOURCES = ("src0", "src1", "src2", "src3", "src4")


@register(
    "text_js_divergence_sources",
    tags=("text", "corpus", "drift"),
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest(list_filter(
               string_split_regex(lower(text), '[^a-z]+'), t -> len(t) > 0))
             AS tok
      FROM documents WHERE source IN ('src0','src1','src2','src3','src4')
    ),
    cnt AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM tk GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tn FROM cnt GROUP BY 1),
    shared AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(SUM(a.n) AS BIGINT) AS shared_a,
             CAST(SUM(b.n) AS BIGINT) AS shared_b,
             CAST(SUM(CAST(FLOOR(
               (5e-1 * (CAST(a.n AS DOUBLE) / ta.tn)
                * ln((CAST(a.n AS DOUBLE) / ta.tn)
                     / ((CAST(a.n AS DOUBLE) / ta.tn
                         + CAST(b.n AS DOUBLE) / tb.tn) / 2e0))
                + 5e-1 * (CAST(b.n AS DOUBLE) / tb.tn)
                  * ln((CAST(b.n AS DOUBLE) / tb.tn)
                       / ((CAST(a.n AS DOUBLE) / ta.tn
                           + CAST(b.n AS DOUBLE) / tb.tn) / 2e0)))
               * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS js_shared_q
      FROM cnt a
      JOIN cnt b ON b.tok = a.tok AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY 1, 2
    )
    SELECT sa AS source_a, sb AS source_b,
           {sql_r6(
               "js_shared_q / 1e9"
               " + 5e-1 * ln(2e0) * ((ta.tn - shared_a) / CAST(ta.tn AS DOUBLE)"
               "                     + (tb.tn - shared_b) / CAST(tb.tn AS DOUBLE))"
           )} AS js_nats
    FROM shared
    JOIN tot ta ON ta.source = shared.sa
    JOIN tot tb ON tb.source = shared.sb
    ORDER BY source_a, source_b
    """,
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between source unigram
    distributions over a fixed 5-source slice — the symmetric, bounded
    (≤ ln 2) drift measure that complements dq_drift_psi's binned PSI
    with a proper information metric on the full vocabulary. Tokens
    exclusive to one source contribute exactly ½·ln2·(exclusive mass),
    so the shared-token join plus per-source totals reconstructs the
    COMPLETE divergence without any outer join: JS = Σ_shared terms +
    ½ln2·(excl_a + excl_b), with excl mass derived from totals minus
    shared sums.

    Per-token JS contributions are single double expressions over exact
    counts, quantized to 1e-9-nat BIGINTs and summed exactly (the
    a_mutual_information doctrine). Shape: one (source, tok) aggregate,
    one token-keyed self-join whose fan-out is bounded by the source
    count (pairs, not corpus size), k-row total joins. At 100 TB the
    token join shuffles the vocabulary, not the corpus; the source-pair
    fence (here a literal 5-source slice) is the operator's documented
    scale knob."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin(*_JS_SOURCES)
    )
    tk = docs.select(
        "source",
        F.explode(
            F.expr("filter(split(lower(text), '[^a-z]+'), t -> length(t) > 0)")
        ).alias("tok"),
    )
    cnt = tk.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").cast("long").alias("tn"))
    a = cnt.select(
        F.col("source").alias("sa"), "tok", F.col("n").alias("na")
    )
    b = cnt.select(F.col("source").alias("sb"), "tok", F.col("n").alias("nb"))
    ta = tot.select(F.col("source").alias("sa"), F.col("tn").alias("tna"))
    tb = tot.select(F.col("source").alias("sb"), F.col("tn").alias("tnb"))
    j = (
        a.join(b, "tok")
        .where(F.col("sa") < F.col("sb"))
        .join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
    )
    p = F.col("na").cast("double") / F.col("tna")
    q = F.col("nb").cast("double") / F.col("tnb")
    m = (p + q) / F.lit(2e0)
    term = F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)
    shared = j.select(
        "sa",
        "sb",
        "na",
        "nb",
        F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long").alias("tq"),
    ).groupBy("sa", "sb").agg(
        F.sum("na").cast("long").alias("shared_a"),
        F.sum("nb").cast("long").alias("shared_b"),
        F.sum("tq").cast("long").alias("js_shared_q"),
    )
    out = (
        shared.join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            r6(
                F.col("js_shared_q") / F.lit(1e9)
                + F.lit(0.5)
                * F.log(F.lit(2e0))
                * (
                    (F.col("tna") - F.col("shared_a")) / F.col("tna").cast("double")
                    + (F.col("tnb") - F.col("shared_b")) / F.col("tnb").cast("double")
                )
            ).alias("js_nats"),
        )
        .orderBy("source_a", "source_b")
    )
    return out


# --- spectral entropy: forecastability score ---------------------------------

_SE_MIN_P, _SE_MAX_P = 2, 14        # same candidate grid as ts_periodogram
_SE_TAU = "6.283185307179586"       # 2*pi, shared exact literal
_SE_NP = _SE_MAX_P - _SE_MIN_P + 1  # 13 candidate periods


@register(
    "ts_spectral_entropy",
    tags=("timeseries", "statistics"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS t,
             AVG(y) OVER (PARTITION BY event_type) AS ybar,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    terms AS (
      SELECT i.event_type, p.p, i.n,
             SUM((i.y - i.ybar) * cos({_SE_TAU} * i.t / p.p)) AS a,
             SUM((i.y - i.ybar) * sin({_SE_TAU} * i.t / p.p)) AS b
      FROM idx i CROSS JOIN (
        SELECT unnest(generate_series({_SE_MIN_P}, {_SE_MAX_P})) AS p
      ) p
      GROUP BY 1, 2, 3
    ),
    pw AS (
      SELECT event_type, p,
             CAST(FLOOR((a * a + b * b) / n * 1e2 + 0.5) AS BIGINT) AS pq
      FROM terms
    ),
    tot AS (
      SELECT event_type, CAST(SUM(pq) AS BIGINT) AS tq,
             CAST(COUNT(*) AS BIGINT) AS np
      FROM pw GROUP BY 1
    ),
    ent AS (
      SELECT w.event_type,
             CAST(SUM(CASE WHEN w.pq > 0 THEN
               CAST(FLOOR(-(CAST(w.pq AS DOUBLE) / t.tq)
                          * ln(CAST(w.pq AS DOUBLE) / t.tq) * 1e9 + 0.5)
                    AS BIGINT) ELSE 0 END) AS BIGINT) AS hq
      FROM pw w JOIN tot t ON t.event_type = w.event_type
      GROUP BY 1
    ),
    peak AS (
      SELECT event_type, p AS peak_period, pq AS peak_pq
      FROM (SELECT event_type, p, pq,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY pq DESC, p) AS rk
            FROM pw)
      WHERE rk = 1
    )
    SELECT t.event_type, t.np AS n_periods,
           CAST(pk.peak_period AS BIGINT) AS peak_period,
           pk.peak_pq / 1e2 AS peak_power,
           FLOOR(e.hq / 1e9 / ln(CAST(t.np AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS spectral_entropy,
           FLOOR((1e0 - e.hq / 1e9 / ln(CAST(t.np AS DOUBLE))) * 1e6 + 0.5)
             / 1e6 AS forecastability
    FROM tot t
    JOIN ent e ON e.event_type = t.event_type
    JOIN peak pk ON pk.event_type = t.event_type
    """,
)
def ts_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy per event-type series — the
    forecastability score (Goerg 2013; Hyndman's tsfeatures) built on
    the same Schuster periodogram grid as ts_periodogram (periods 2-14
    days): H = -sum(s_i ln s_i)/ln(k) over the normalized power shares,
    low H = energy concentrated in few frequencies = predictable, H~1 =
    white-noise-like. Emits the peak period alongside (argmax power,
    ties to the shorter period) so the "is it seasonal, and at what
    period" question is one row. Exactness: powers snap to the
    periodogram's documented 1e2 grid as BIGINTs (so shares are exact
    integer ratios), each -s*ln(s) term is one IEEE expression quantized
    at 1e9 and summed as BIGINT. Engine shape: identical to
    ts_periodogram (daily aggregate, 13-way in-row fan-out, map-side
    combinable) plus two k-row reductions — 100 TB cost is the daily
    aggregate, nothing else."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    wt = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(wt).cast("long").alias("t"),
        F.avg("y").over(wa).alias("ybar"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    tau = float(_SE_TAU)
    fan = idx.select(
        "event_type",
        "n",
        (F.col("y") - F.col("ybar")).alias("yd"),
        "t",
        F.explode(F.sequence(F.lit(_SE_MIN_P), F.lit(_SE_MAX_P))).alias("p"),
    )
    terms = fan.groupBy("event_type", "p", "n").agg(
        F.sum(F.col("yd") * F.cos(F.lit(tau) * F.col("t") / F.col("p"))).alias("a"),
        F.sum(F.col("yd") * F.sin(F.lit(tau) * F.col("t") / F.col("p"))).alias("b"),
    )
    pw = terms.select(
        "event_type",
        "p",
        F.floor(
            (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
            / F.col("n")
            * 1e2
            + F.lit(0.5)
        )
        .cast("long")
        .alias("pq"),
    )
    tot = pw.groupBy("event_type").agg(
        F.sum("pq").cast("long").alias("tq"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    share = F.col("pq").cast("double") / F.col("tq")
    ent = (
        pw.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.when(
                F.col("pq") > 0,
                F.floor(-share * F.log(share) * 1e9 + F.lit(0.5)).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("hterm"),
        )
        .groupBy("event_type")
        .agg(F.sum("hterm").cast("long").alias("hq"))
    )
    wpk = Window.partitionBy("event_type").orderBy(F.col("pq").desc(), "p")
    peak = (
        pw.withColumn("rk", F.row_number().over(wpk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("p").cast("long").alias("peak_period"),
            F.col("pq").alias("peak_pq"),
        )
    )
    hnorm = F.col("hq") / 1e9 / F.log(F.col("np").cast("double"))
    return (
        tot.join(ent, "event_type")
        .join(peak, "event_type")
        .select(
            "event_type",
            F.col("np").alias("n_periods"),
            "peak_period",
            (F.col("peak_pq") / 1e2).alias("peak_power"),
            (F.floor(hnorm * 1e6 + F.lit(0.5)) / 1e6).alias("spectral_entropy"),
            (F.floor((F.lit(1e0) - hnorm) * 1e6 + F.lit(0.5)) / 1e6).alias(
                "forecastability"
            ),
        )
    )


# --- schema-profile drift audit ------------------------------------------------

_DRIFT_SPLIT = "1996-01-01"  # period A strictly before, period B from here


@register(
    "dq_schema_drift",
    tags=("dq", "aggregate"),
    oracle=f"""
    WITH lab AS (
      SELECT *, o_orderdate >= TIMESTAMP '{_DRIFT_SPLIT} 00:00:00' AS is_b
      FROM orders
    ),
    per AS (
      SELECT 'o_custkey' AS col_name,
             CAST(COUNT(*) FILTER (NOT is_b) AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (is_b) AS BIGINT) AS n_b,
             CAST(COUNT(*) FILTER (NOT is_b AND o_custkey IS NULL) AS BIGINT)
               AS null_a,
             CAST(COUNT(*) FILTER (is_b AND o_custkey IS NULL) AS BIGINT)
               AS null_b,
             CAST(COUNT(DISTINCT o_custkey) FILTER (NOT is_b) AS BIGINT)
               AS ndv_a,
             CAST(COUNT(DISTINCT o_custkey) FILTER (is_b) AS BIGINT) AS ndv_b,
             CAST(SUM(CAST(FLOOR(o_custkey * 1e2 + 0.5) AS BIGINT))
                  FILTER (NOT is_b) AS BIGINT) AS cents_a,
             CAST(SUM(CAST(FLOOR(o_custkey * 1e2 + 0.5) AS BIGINT))
                  FILTER (is_b) AS BIGINT) AS cents_b
      FROM lab
      UNION ALL
      SELECT 'o_totalprice',
             CAST(COUNT(*) FILTER (NOT is_b) AS BIGINT),
             CAST(COUNT(*) FILTER (is_b) AS BIGINT),
             CAST(COUNT(*) FILTER (NOT is_b AND o_totalprice IS NULL) AS BIGINT),
             CAST(COUNT(*) FILTER (is_b AND o_totalprice IS NULL) AS BIGINT),
             CAST(COUNT(DISTINCT o_totalprice) FILTER (NOT is_b) AS BIGINT),
             CAST(COUNT(DISTINCT o_totalprice) FILTER (is_b) AS BIGINT),
             CAST(SUM(CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT))
                  FILTER (NOT is_b) AS BIGINT),
             CAST(SUM(CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT))
                  FILTER (is_b) AS BIGINT)
      FROM lab
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(COUNT(*) FILTER (NOT is_b) AS BIGINT),
             CAST(COUNT(*) FILTER (is_b) AS BIGINT),
             CAST(COUNT(*) FILTER (NOT is_b AND o_orderstatus IS NULL) AS BIGINT),
             CAST(COUNT(*) FILTER (is_b AND o_orderstatus IS NULL) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderstatus) FILTER (NOT is_b) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderstatus) FILTER (is_b) AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      FROM lab
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(COUNT(*) FILTER (NOT is_b) AS BIGINT),
             CAST(COUNT(*) FILTER (is_b) AS BIGINT),
             CAST(COUNT(*) FILTER (NOT is_b AND o_orderpriority IS NULL)
                  AS BIGINT),
             CAST(COUNT(*) FILTER (is_b AND o_orderpriority IS NULL) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderpriority) FILTER (NOT is_b) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderpriority) FILTER (is_b) AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      FROM lab
    )
    SELECT col_name, n_a, n_b, null_a, null_b, ndv_a, ndv_b,
           {sql_r6("CAST(null_a AS DOUBLE) / n_a")} AS null_rate_a,
           {sql_r6("CAST(null_b AS DOUBLE) / n_b")} AS null_rate_b,
           {sql_r6("CAST(ndv_b AS DOUBLE) / ndv_a")} AS ndv_ratio,
           CASE WHEN cents_a IS NULL THEN CAST(NULL AS DOUBLE)
                ELSE {sql_r4("(CAST(cents_b AS DOUBLE) / n_b"
                             " - CAST(cents_a AS DOUBLE) / n_a) / 1e2")}
           END AS mean_shift
    FROM per
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-profile drift audit over the orders table, split into two
    eras at {split}: per column, row/null counts, exact NDV, null-rate,
    NDV ratio, and (numeric columns) the cents-exact mean shift — the
    data-contract check that catches a silently renamed enum value or a
    unit change the value-distribution PSI (dq_drift_psi) only sees as
    "something moved". One scan computes every column's profile for both
    eras via conditional aggregation (FILTER on the era flag — no second
    pass, no join); means accumulate as exact BIGINT cents. At 100 TB
    this is the classic one-pass profile: map-side partial aggregates of
    a fixed handful of counters per column, exact NDV being the one
    shuffle-bearing term (swap in the existing HLL tier when approximate
    NDV suffices)."""
    lab = load_table(spark, sf_dir, "orders").withColumn(
        "is_b",
        F.col("o_orderdate") >= F.lit(_DRIFT_SPLIT).cast("timestamp"),
    )
    a, b = ~F.col("is_b"), F.col("is_b")

    def profile(col: str, numeric: bool) -> DataFrame:
        c = F.col(col)
        cents = F.floor(c * 1e2 + F.lit(0.5)).cast("long")
        return lab.agg(
            F.lit(col).alias("col_name"),
            F.count(F.when(a, 1)).cast("long").alias("n_a"),
            F.count(F.when(b, 1)).cast("long").alias("n_b"),
            F.count(F.when(a & c.isNull(), 1)).cast("long").alias("null_a"),
            F.count(F.when(b & c.isNull(), 1)).cast("long").alias("null_b"),
            F.count_distinct(F.when(a, c)).cast("long").alias("ndv_a"),
            F.count_distinct(F.when(b, c)).cast("long").alias("ndv_b"),
            (
                F.sum(F.when(a, cents)).cast("long")
                if numeric
                else F.lit(None).cast("long")
            ).alias("cents_a"),
            (
                F.sum(F.when(b, cents)).cast("long")
                if numeric
                else F.lit(None).cast("long")
            ).alias("cents_b"),
        )

    per = (
        profile("o_custkey", True)
        .unionAll(profile("o_totalprice", True))
        .unionAll(profile("o_orderstatus", False))
        .unionAll(profile("o_orderpriority", False))
    )
    # Zero-count eras (an empty slice) must yield NULL rates like the
    # oracle's x/0, not an ANSI divide-by-zero (r12 empty-input sweep);
    # at every real SF the guards are constant-true.
    def _ratio(num: str, den: str):
        return F.when(
            F.col(den) > 0, F.col(num).cast("double") / F.col(den)
        )

    return per.select(
        "col_name",
        "n_a",
        "n_b",
        "null_a",
        "null_b",
        "ndv_a",
        "ndv_b",
        r6(_ratio("null_a", "n_a")).alias("null_rate_a"),
        r6(_ratio("null_b", "n_b")).alias("null_rate_b"),
        r6(_ratio("ndv_b", "ndv_a")).alias("ndv_ratio"),
        F.when(
            F.col("cents_a").isNull()
            | (F.col("n_a") == 0)
            | (F.col("n_b") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            r4(
                (
                    F.col("cents_b").cast("double") / F.col("n_b")
                    - F.col("cents_a").cast("double") / F.col("n_a")
                )
                / 1e2
            )
        )
        .alias("mean_shift"),
    )


fmt_doc(dq_schema_drift, split=_DRIFT_SPLIT)


# --- IQR (boxplot) outlier fences ----------------------------------------------


@register(
    "dq_outlier_iqr_fences",
    tags=("dq", "statistics"),
    oracle="""
    WITH v AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    qs AS (
      SELECT event_type, MAX(n) AS n,
             MIN(CASE WHEN rk = CAST(CEIL(n * 0.25) AS BIGINT)
                      THEN value END) AS q1,
             MIN(CASE WHEN rk = CAST(CEIL(n * 0.75) AS BIGINT)
                      THEN value END) AS q3
      FROM v GROUP BY 1
    ),
    f AS (
      SELECT event_type, n, q1, q3,
             q1 - 1.5e0 * (q3 - q1) AS lo,
             q3 + 1.5e0 * (q3 - q1) AS hi
      FROM qs
    )
    SELECT f.event_type, CAST(f.n AS BIGINT) AS n,
           FLOOR(f.q1 * 1e4 + 0.5) / 1e4 AS q1,
           FLOOR(f.q3 * 1e4 + 0.5) / 1e4 AS q3,
           FLOOR((f.q3 - f.q1) * 1e4 + 0.5) / 1e4 AS iqr,
           FLOOR(f.lo * 1e4 + 0.5) / 1e4 AS fence_lo,
           FLOOR(f.hi * 1e4 + 0.5) / 1e4 AS fence_hi,
           CAST(SUM(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
    FROM f JOIN events e ON e.event_type = f.event_type
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
)
def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot (Tukey) outlier fences per event type: Q1/Q3 as exact
    order statistics (rank ceil(n/4) / ceil(3n/4) under a total
    (value, event_id) order — a deterministic pick, not an
    interpolating percentile), fences at 1.5x IQR, and the count of
    values beyond each fence — the third member of the outlier family
    next to z-score (moment-based) and Hampel (rolling-robust): global
    and robust. Exactness: the quartiles are single picked doubles, the
    fence arithmetic one IEEE expression, outlier counts integer
    comparisons against them — nothing accumulates in floating point.
    Engine shape: one per-type window rank pass, a 5-row fence frame
    broadcast back onto the scan for the counts. At 100 TB swap the
    exact rank for the existing percentile_approx tier; the fence and
    count stages are unchanged."""
    ev = load_table(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    v = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).cast("long").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    qs = v.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") * 0.25).cast("long"),
                F.col("value"),
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(F.col("n") * 0.75).cast("long"),
                F.col("value"),
            )
        ).alias("q3"),
    )
    f = qs.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5e0) * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + F.lit(1.5e0) * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    r4q = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return (
        ev.join(F.broadcast(f), "event_type")
        .groupBy(
            "event_type",
            "n",
            r4q(F.col("q1")).alias("q1"),
            r4q(F.col("q3")).alias("q3"),
            r4q(F.col("q3") - F.col("q1")).alias("iqr"),
            r4q(F.col("lo")).alias("fence_lo"),
            r4q(F.col("hi")).alias("fence_hi"),
        )
        .agg(
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_below"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_above"),
        )
    )


# --- binary-segmentation changepoints -------------------------------------------


@register(
    "ts_changepoint_binseg",
    tags=("timeseries", "statistics"),
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS i,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS cs,
             CAST(SUM(y * y) OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS css,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS ts_,
             CAST(SUM(y * y) OVER (PARTITION BY event_type) AS BIGINT) AS tss,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             MIN(day) OVER (PARTITION BY event_type) AS d0
      FROM daily
    ),
    cand AS (
      SELECT event_type, i, n, d0,
             CAST(FLOOR((
               (css - CAST(cs AS DOUBLE) * cs / i)
               + ((tss - css) - CAST(ts_ - cs AS DOUBLE) * (ts_ - cs) / (n - i))
             ) * 1e6 + 0.5) AS BIGINT) AS sse_q,
             CAST(FLOOR((CAST(tss AS DOUBLE)
                         - CAST(ts_ AS DOUBLE) * ts_ / n) * 1e6 + 0.5)
                  AS BIGINT) AS sse0_q
      FROM idx WHERE i < n
    ),
    best AS (
      SELECT event_type, i AS k1, n, d0, sse_q, sse0_q
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY sse_q, i) AS rk
            FROM cand)
      WHERE rk = 1
    )
    SELECT b.event_type,
           CAST(b.d0 + CAST(b.k1 AS INT) AS DATE) AS split_day,
           b.k1 AS n_before,
           b.n - b.k1 AS n_after,
           b.sse0_q / 1e6 AS sse_total,
           b.sse_q / 1e6 AS sse_split,
           FLOOR((1e0 - CAST(b.sse_q AS DOUBLE) / b.sse0_q) * 1e6 + 0.5) / 1e6
             AS variance_explained
    FROM best b
    """,
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint per event-type daily series: the
    split k minimizing SSE(1..k) + SSE(k+1..n), with SSE computed from
    prefix sums of exact BIGINT y and y² (Scott & Knott 1974; the
    first-level step of binseg — CUSUM's max-|S| screening sibling that
    optimizes the actual least-squares objective). Emits the split day,
    segment sizes, and variance explained by the level shift. Exactness:
    per-candidate SSE is one IEEE expression of six exact integers,
    quantized at 1e6 BEFORE the argmin so both engines rank identical
    keys (ties to the earliest split). Engine shape: one daily
    aggregate, two window passes over <= |days| rows per series, one
    rank — at 100 TB the candidate frame stays |days| x |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(wo).cast("long").alias("i"),
        F.sum("y").over(wo).cast("long").alias("cs"),
        F.sum(F.col("y") * F.col("y")).over(wo).cast("long").alias("css"),
        F.sum("y").over(wa).cast("long").alias("ts_"),
        F.sum(F.col("y") * F.col("y")).over(wa).cast("long").alias("tss"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
        F.min("day").over(wa).alias("d0"),
    )
    sse = (
        F.col("css") - F.col("cs").cast("double") * F.col("cs") / F.col("i")
    ) + (
        (F.col("tss") - F.col("css"))
        - (F.col("ts_") - F.col("cs")).cast("double")
        * (F.col("ts_") - F.col("cs"))
        / (F.col("n") - F.col("i"))
    )
    sse0 = F.col("tss").cast("double") - F.col("ts_").cast(
        "double"
    ) * F.col("ts_") / F.col("n")
    cand = idx.filter(F.col("i") < F.col("n")).select(
        "event_type",
        "i",
        "n",
        "d0",
        F.floor(sse * 1e6 + F.lit(0.5)).cast("long").alias("sse_q"),
        F.floor(sse0 * 1e6 + F.lit(0.5)).cast("long").alias("sse0_q"),
    )
    wrk = Window.partitionBy("event_type").orderBy("sse_q", "i")
    best = cand.withColumn("rk", F.row_number().over(wrk)).filter(
        F.col("rk") == 1
    )
    return best.select(
        "event_type",
        F.date_add("d0", F.col("i").cast("int")).alias("split_day"),
        F.col("i").alias("n_before"),
        (F.col("n") - F.col("i")).alias("n_after"),
        (F.col("sse0_q") / 1e6).alias("sse_total"),
        (F.col("sse_q") / 1e6).alias("sse_split"),
        (
            F.floor(
                (F.lit(1e0) - F.col("sse_q").cast("double") / F.col("sse0_q"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("variance_explained"),
    )


# --- Ljung-Box whiteness test ---------------------------------------------------

_LB_LAGS = 7
_LB_CRIT = "1.4067140449340169e1"  # chi2_{0.95, df=7}, shared literal


def _lb_oracle() -> str:
    lag_cols = []
    for k in range(1, _LB_LAGS + 1):
        lag_cols.append(
            f"""CAST(SUM(CASE WHEN y{k} IS NOT NULL THEN y * y{k} END)
                 AS BIGINT) AS s{k},
             CAST(SUM(CASE WHEN y{k} IS NOT NULL THEN y END) AS BIGINT)
               AS a{k},
             CAST(SUM(CASE WHEN y{k} IS NOT NULL THEN y{k} END) AS BIGINT)
               AS b{k}"""
        )
    lags_sql = ",\n             ".join(
        f"LAG(y, {k}) OVER (PARTITION BY event_type ORDER BY day) AS y{k}"
        for k in range(1, _LB_LAGS + 1)
    )
    ck = []
    for k in range(1, _LB_LAGS + 1):
        ck.append(
            f"(s{k} - CAST(sy AS DOUBLE) / n * (a{k} + b{k})"
            f" + (n - {k}) * (CAST(sy AS DOUBLE) / n)"
            f" * (CAST(sy AS DOUBLE) / n)) AS c{k}"
        )
    terms = " + ".join(
        f"CAST(FLOOR((c{k} / c0) * (c{k} / c0) / (n - {k}) * 1e12 + 0.5)"
        f" AS BIGINT)"
        for k in range(1, _LB_LAGS + 1)
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, y, day,
             {lags_sql},
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS sy
      FROM daily
    ),
    mom AS (
      SELECT event_type, MAX(n) AS n, MAX(sy) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS s00,
             {", ".join(lag_cols)}
      FROM lagged GROUP BY 1
    ),
    cov AS (
      SELECT event_type, n,
             (s00 - CAST(sy AS DOUBLE) / n * (sy + sy)
                  + n * (CAST(sy AS DOUBLE) / n)
                  * (CAST(sy AS DOUBLE) / n)) AS c0,
             {", ".join(ck)}
      FROM mom
    ),
    q AS (
      SELECT event_type, n,
             CAST({terms} AS BIGINT) AS tq
      FROM cov
    )
    SELECT event_type, n,
           FLOOR(n * (n + 2) * (tq / 1e12) * 1e4 + 0.5) / 1e4 AS q_stat,
           CAST({_LB_LAGS} AS INT) AS df,
           CAST(n * (n + 2) * (tq / 1e12) > {_LB_CRIT} AS BOOLEAN)
             AS reject_whiteness
    FROM q
    """


@register(
    "ts_ljung_box",
    tags=("timeseries", "statistics"),
    oracle=_lb_oracle(),
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test per event-type daily series:
    Q = n(n+2) sum_{{k=1..{lags}}} r_k^2/(n-k) against the chi-square
    5% critical value at df={lags} — the standard residual/seasonality
    diagnostic (Ljung & Box 1978) that tells whether the ACF tier's
    correlations are jointly significant. Autocorrelations come from
    the same exact lagged-moment expansion as ml_ar2_forecast (BIGINT
    cross sums + one ybar), each r_k^2/(n-k) term is quantized at 1e12
    and summed as BIGINT. One lag window with {lags} lags in a single
    pass, one k-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wo = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    cols = [
        "event_type",
        "y",
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
        F.sum("y").over(wa).cast("long").alias("sy"),
    ]
    for k in range(1, _LB_LAGS + 1):
        cols.append(F.lag("y", k).over(wo).alias(f"y{k}"))
    lagged = daily.select(*cols)
    aggs = [
        F.max("n").alias("n"),
        F.max("sy").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s00"),
    ]
    for k in range(1, _LB_LAGS + 1):
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(F.when(yk.isNotNull(), F.col("y") * yk))
            .cast("long")
            .alias(f"s{k}"),
            F.sum(F.when(yk.isNotNull(), F.col("y")))
            .cast("long")
            .alias(f"a{k}"),
            F.sum(F.when(yk.isNotNull(), yk)).cast("long").alias(f"b{k}"),
        ]
    mom = lagged.groupBy("event_type").agg(*aggs)
    ybar = F.col("sy").cast("double") / F.col("n")
    c0 = (
        F.col("s00") - ybar * (F.col("sy") + F.col("sy"))
        + F.col("n") * ybar * ybar
    )
    cov_cols = [F.col("event_type"), F.col("n"), c0.alias("c0")]
    for k in range(1, _LB_LAGS + 1):
        cov_cols.append(
            (
                F.col(f"s{k}")
                - ybar * (F.col(f"a{k}") + F.col(f"b{k}"))
                + (F.col("n") - k) * ybar * ybar
            ).alias(f"c{k}")
        )
    cov = mom.select(*cov_cols)
    tq = None
    for k in range(1, _LB_LAGS + 1):
        rk = F.col(f"c{k}") / F.col("c0")
        term = F.floor(rk * rk / (F.col("n") - k) * 1e12 + F.lit(0.5)).cast(
            "long"
        )
        tq = term if tq is None else tq + term
    q = cov.select("event_type", "n", tq.cast("long").alias("tq"))
    stat = F.col("n") * (F.col("n") + 2) * (F.col("tq") / 1e12)
    return q.select(
        "event_type",
        "n",
        (F.floor(stat * 1e4 + F.lit(0.5)) / 1e4).alias("q_stat"),
        F.lit(_LB_LAGS).cast("int").alias("df"),
        (stat > float(_LB_CRIT)).alias("reject_whiteness"),
    )


fmt_doc(ts_ljung_box, lags=_LB_LAGS)


# --- overdispersion check -------------------------------------------------------

_OD_Z = "1.6448536269514722e0"  # one-sided 5% normal critical value


@register(
    "ts_overdispersion",
    tags=("timeseries", "statistics", "dq"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM daily GROUP BY 1
    ),
    st AS (
      SELECT event_type, n,
             CAST(sy AS DOUBLE) / n AS mean,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
               AS var
      FROM mom
    )
    SELECT event_type, n,
           FLOOR(mean * 1e4 + 0.5) / 1e4 AS mean,
           FLOOR(var * 1e4 + 0.5) / 1e4 AS variance,
           FLOOR(var / mean * 1e4 + 0.5) / 1e4 AS dispersion_index,
           FLOOR(((n - 1) * (var / mean) - (n - 1))
                 / sqrt(2e0 * (n - 1)) * 1e4 + 0.5) / 1e4 AS z_stat,
           CAST(((n - 1) * (var / mean) - (n - 1))
                / sqrt(2e0 * (n - 1)) > {_OD_Z} AS BOOLEAN) AS overdispersed
    FROM st
    """,
)
def ts_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion check per event-type daily series: index of
    dispersion D = s²/ȳ with the chi-square dispersion test in its
    normal approximation, z = ((n-1)D - (n-1)) / sqrt(2(n-1)) — the
    Poisson-vs-negative-binomial gate (Cameron & Trivedi 1990) that
    decides whether count forecasts can trust Poisson intervals (D~1)
    or need NB-width ones (D>1). Feeds directly into which uncertainty
    tier (conformal / quantile) is appropriate per series. Exactness:
    moments are BIGINT, mean/variance/D/z each one IEEE expression.
    One daily aggregate + k-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    mean = F.col("sy").cast("double") / F.col("n")
    var = (
        F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    ) / (F.col("n") - 1)
    st = mom.select("event_type", "n", mean.alias("mean"), var.alias("var"))
    z = (
        (F.col("n") - 1) * (F.col("var") / F.col("mean")) - (F.col("n") - 1)
    ) / F.sqrt(F.lit(2e0) * (F.col("n") - 1))
    q4 = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    return st.select(
        "event_type",
        "n",
        q4(F.col("mean")).alias("mean"),
        q4(F.col("var")).alias("variance"),
        q4(F.col("var") / F.col("mean")).alias("dispersion_index"),
        q4(z).alias("z_stat"),
        (z > float(_OD_Z)).alias("overdispersed"),
    )


# --- string pattern census ------------------------------------------------------

_PC_TOPK = 5


@register(
    "dq_pattern_census",
    tags=("dq", "text"),
    oracle=f"""
    WITH vals AS (
      SELECT 'c_name' AS col_name, c_name AS v FROM customer
      UNION ALL
      SELECT 'c_mktsegment', c_mktsegment FROM customer
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ),
    pat AS (
      SELECT col_name,
             regexp_replace(regexp_replace(regexp_replace(
               v, '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'),
               '[0-9]', '9', 'g') AS pattern
      FROM vals
    ),
    census AS (
      SELECT col_name, pattern,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY col_name) AS BIGINT)
               AS n_col
      FROM pat GROUP BY 1, 2
    ),
    ranked AS (
      SELECT col_name, pattern, n,
             FLOOR(CAST(n AS DOUBLE) / n_col * 1e6 + 0.5) / 1e6 AS share,
             ROW_NUMBER() OVER (PARTITION BY col_name
                                ORDER BY n DESC, pattern) AS rk
      FROM census
    )
    SELECT col_name, pattern, n, share, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_PC_TOPK}
    """,
)
def dq_pattern_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-pattern census over three representative columns: every
    value maps to its character-class skeleton (A-Z -> A, a-z -> a,
    0-9 -> 9, punctuation kept) and the top {k} patterns per column are
    emitted with exact counts and shares — the format-profiling DQ
    check (a new pattern appearing at >0% is how a malformed upstream
    export announces itself before any constraint fails). Patterns are
    produced by three chained regexp_replace passes over simple
    character classes — semantics identical between Java regex and
    DuckDB RE2 for these classes. One map-side pattern projection +
    one (column, pattern) aggregate; the census frame is bounded by
    format diversity, not volume."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    vals = (
        cust.select(F.lit("c_name").alias("col_name"), F.col("c_name").alias("v"))
        .unionAll(
            cust.select(
                F.lit("c_mktsegment").alias("col_name"),
                F.col("c_mktsegment").alias("v"),
            )
        )
        .unionAll(
            orders.select(
                F.lit("o_orderpriority").alias("col_name"),
                F.col("o_orderpriority").alias("v"),
            )
        )
    )
    pattern = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("v"), "[A-Z]", "A"), "[a-z]", "a"
        ),
        "[0-9]",
        "9",
    )
    pat = vals.select("col_name", pattern.alias("pattern"))
    census = pat.groupBy("col_name", "pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wcol = Window.partitionBy("col_name")
    wrk = Window.partitionBy("col_name").orderBy(F.col("n").desc(), "pattern")
    ranked = census.select(
        "col_name",
        "pattern",
        "n",
        (
            F.floor(
                F.col("n").cast("double")
                / F.sum("n").over(wcol).cast("long")
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("share"),
        F.row_number().over(wrk).cast("int").alias("rk"),
    )
    return ranked.filter(F.col("rk") <= _PC_TOPK)


fmt_doc(dq_pattern_census, k=_PC_TOPK)


# --- event-id / event-time order audit --------------------------------------------


@register(
    "dq_id_order_audit",
    tags=("dq", "timeseries"),
    oracle="""
    WITH s AS (
      SELECT event_type, event_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY event_type
                                     ORDER BY event_id) AS pus
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN pus IS NOT NULL AND us < pus
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
           FLOOR(CAST(SUM(CASE WHEN pus IS NOT NULL AND us < pus
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / GREATEST(COUNT(*) - 1, 1) * 1e6 + 0.5) / 1e6
             AS inversion_rate,
           CAST(MAX(CASE WHEN pus IS NOT NULL AND us < pus
                         THEN pus - us ELSE 0 END) AS BIGINT)
             AS max_backstep_us
    FROM s GROUP BY 1
    """,
)
def dq_id_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-integrity audit: per event type, how often does the
    assigned event_id order DISAGREE with event time (adjacent-pair
    inversions under the id order), plus the worst backstep in
    microseconds — the check that catches a sharded id generator or a
    clock-skewed producer before any time-window logic silently
    misbuckets (the streaming tier's watermark assumptions depend on
    exactly this). All integer comparisons on exact microsecond lags —
    no rounding beyond the final exact-ratio rate. One lag window per
    type; at 100 TB this partitions by (type, id-range bucket) with
    boundary pairs handled by a one-row-per-bucket overlap, same
    telescoping as every adjacent-pair audit here."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    s = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(w).alias("pus"),
    )
    inv = F.when(
        F.col("pus").isNotNull() & (F.col("us") < F.col("pus")), 1
    ).otherwise(0)
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(inv).cast("long").alias("n_inversions"),
        (
            F.floor(
                F.sum(inv).cast("double")
                / F.greatest(F.count(F.lit(1)) - 1, F.lit(1))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("inversion_rate"),
        F.max(
            F.when(
                F.col("pus").isNotNull() & (F.col("us") < F.col("pus")),
                F.col("pus") - F.col("us"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("max_backstep_us"),
    )


# --- cross-table financial consistency ---------------------------------------------


@register(
    "dq_order_total_consistency",
    tags=("dq", "join", "finance"),
    oracle="""
    WITH li AS (
      SELECT l_orderkey AS k,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1e0 - l_discount)
                                 * (1e0 + l_tax) * 1e2 + 0.5) AS BIGINT))
                  AS BIGINT) AS derived_cents,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(FLOOR(o.o_totalprice * 1e2 + 0.5) AS BIGINT) AS header,
             li.derived_cents, li.n_lines,
             CASE WHEN li.k IS NULL THEN 'no_lines'
                  WHEN ABS(CAST(FLOOR(o.o_totalprice * 1e2 + 0.5) AS BIGINT)
                           - li.derived_cents) <= li.n_lines
                    THEN 'consistent'
                  ELSE 'mismatch' END AS status,
             CASE WHEN li.k IS NOT NULL
                  THEN ABS(CAST(FLOOR(o.o_totalprice * 1e2 + 0.5) AS BIGINT)
                           - li.derived_cents) ELSE 0 END AS abs_diff
      FROM orders o LEFT JOIN li ON li.k = o.o_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(abs_diff) AS BIGINT) AS total_abs_diff_cents,
           CAST(MAX(abs_diff) AS BIGINT) AS max_abs_diff_cents
    FROM j GROUP BY 1
    """,
)
def dq_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial consistency: every order header total
    recomputed from its line items (extendedprice x (1-discount) x
    (1+tax), cents-quantized per line) and classified consistent /
    mismatch / no_lines, with the exact aggregate and worst-case cent
    drift — the reconciliation audit that catches a broken ETL join or
    a re-priced line before finance does. Tolerance = n_lines cents
    (per-line half-cent rounding headroom, identical both engines).
    Exactness: per-line cents are BIGINT, header cents are BIGINT, the
    diff is integer. Engine shape: one lineitem aggregate keyed by
    order (map-side combine over the natural key), one key-colocated
    left join — the bucketed-tables shuffle-free shape at 100 TB."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("k"),
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1e0) - F.col("l_discount"))
                * (F.lit(1e0) + F.col("l_tax"))
                * 1e2
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("k")
        .agg(
            F.sum("cents").cast("long").alias("derived_cents"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("header"),
    )
    j = o.join(li, o.o_orderkey == li.k, "left")
    diff = F.abs(F.col("header") - F.col("derived_cents"))
    status = (
        F.when(F.col("k").isNull(), F.lit("no_lines"))
        .when(diff <= F.col("n_lines"), F.lit("consistent"))
        .otherwise(F.lit("mismatch"))
    )
    classified = j.select(
        status.alias("status"),
        F.when(F.col("k").isNotNull(), diff)
        .otherwise(F.lit(0).cast("long"))
        .alias("abs_diff"),
    )
    return classified.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("abs_diff").cast("long").alias("total_abs_diff_cents"),
        F.max("abs_diff").cast("long").alias("max_abs_diff_cents"),
    )


# --- classical multiplicative seasonal indices ---------------------------------------


@register(
    "ts_seasonal_indices",
    tags=("timeseries", "forecast"),
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2, 3
    ),
    ma AS (
      SELECT event_type, day, dow, y,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS win_sum,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS win_n
      FROM daily
    ),
    ratio AS (
      SELECT event_type, dow,
             CAST(FLOOR(CAST(y AS DOUBLE)
                        / (CAST(win_sum AS DOUBLE) / 7) * 1e9 + 0.5)
                  AS BIGINT) AS rq
      FROM ma WHERE win_n = 7
    ),
    per_dow AS (
      SELECT event_type, dow,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(rq) AS BIGINT) AS srq
      FROM ratio GROUP BY 1, 2
    ),
    norm AS (
      SELECT event_type,
             SUM(CAST(srq AS DOUBLE) / n_obs) / COUNT(*) AS grand
      FROM per_dow GROUP BY 1
    )
    SELECT p.event_type, p.dow, p.n_obs,
           FLOOR(CAST(p.srq AS DOUBLE) / p.n_obs / 1e9 * 1e6 + 0.5) / 1e6
             AS raw_index,
           FLOOR(CAST(p.srq AS DOUBLE) / p.n_obs / n.grand * 1e6 + 0.5) / 1e6
             AS seasonal_index
    FROM per_dow p JOIN norm n ON n.event_type = p.event_type
    """,
)
def ts_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical multiplicative seasonal indices (ratio-to-moving-
    average, the Census-decomposition step): per series, each day's
    count divided by its CENTERED 7-day moving average (full windows
    only), averaged per weekday, then normalized so the seven indices
    mean 1.0 — the multiplicative complement to ts_stl_decompose's
    additive components, and the index the reference's percentage
    tables imply but never compute. Exactness: window sums/counts are
    BIGINT; each ratio is one IEEE expression quantized at 1e9; per-dow
    sums are exact; the normalizer is a 7-term mean of exact ratios
    (sum order over 7 CONSTANT-order terms... engine GROUP BY order is
    not fixed, so the normalizer rides the r6 grid like every
    k-row reduce here — documented contract). Engine shape: one daily
    aggregate, one bounded 7-row window, two schema-sized reduces."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")).withColumn(
        "dow", F.dayofweek("day").cast("int")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "dow",
        "y",
        F.sum("y").over(w7).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(w7).cast("long").alias("win_n"),
    )
    ratio = ma.filter(F.col("win_n") == 7).select(
        "event_type",
        "dow",
        F.floor(
            F.col("y").cast("double")
            / (F.col("win_sum").cast("double") / 7)
            * 1e9
            + F.lit(0.5)
        )
        .cast("long")
        .alias("rq"),
    )
    per_dow = ratio.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("rq").cast("long").alias("srq"),
    )
    norm = per_dow.groupBy("event_type").agg(
        (
            F.sum(F.col("srq").cast("double") / F.col("n_obs"))
            / F.count(F.lit(1))
        ).alias("grand")
    )
    return per_dow.join(F.broadcast(norm), "event_type").select(
        "event_type",
        "dow",
        "n_obs",
        (
            F.floor(
                F.col("srq").cast("double") / F.col("n_obs") / 1e9 * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("raw_index"),
        (
            F.floor(
                F.col("srq").cast("double")
                / F.col("n_obs")
                / F.col("grand")
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("seasonal_index"),
    )
