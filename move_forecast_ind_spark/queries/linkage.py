"""Record linkage, attribution, changepoints, and lake-ops operators
(round-6 widening).

Capability families a production analytics engine layers over the lake
beyond the reference's surface (the reference —
satya-dataengineer/move-forecast-IND — has none of these; engine-
completeness mandate):

- entity resolution: blocked candidate generation + edit-distance match
  scoring (the record-linkage staple — dedupe customer/product masters
  without an all-pairs join);
- marketing attribution: LINEAR multi-touch credit over per-user touch
  paths (time-banded join + one window — the multi-touch complement to
  analytics.py's single-scalar last-touch tier);
- level-shift detection: per-series CUSUM split-point summary, computed
  EXACTLY in scaled integers so both engines agree bit-for-bit before
  the final division (the per-key screening tier over analytics.py's
  global CUSUM curve);
- robust regression: Theil-Sen slope (lower median of pairwise slopes)
  per series, pair expansion IN-ROW;
- lake ops: small-file compaction planning (bin-pack docs into
  target-size output files via running cumsum — the OPTIMIZE/compaction
  planner as a plain window query);
- corpus forensics: cross-source bigram-overlap matrix (which sources
  share n-gram content, Jaccard over distinct-shingle sets).

All hot paths are built-in column expressions inside whole-stage codegen;
every double that reaches the output is rounded through
``functions.rounding`` on BOTH engines so aggregation-order ulp noise
can't flip the oracle's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r2, r4, r6, sql_r2, sql_r4, sql_r6
from ..sources import load_table
from .registry import fmt_doc, register

# --- entity resolution: blocking + edit-distance matching -------------------

# Blocks above this size are truncated (a runaway block means the blocking
# key is degenerate for that slice — the standard ER remedy is a finer key,
# not an O(block²) grind). Inactive at fixture SFs (max observed block: 14
# at sf0.01); the oracle omits it, so it must stay inactive wherever the
# oracle runs — same output-neutrality contract as corpus_semdedup's
# cluster fence.
_ER_BLOCK_CAP = 512


@register(
    "er_blocking_pairs",
    bench=True,  # round-6 representative: the heavy in-row ER pair expansion
    tags=("linkage", "join", "dedup"),
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name,
             lower(split_part(p_name, ' ', 1)) AS blk, p_size
      FROM part
    )
    SELECT a.blk, a.p_size,
           a.p_partkey AS pka, b.p_partkey AS pkb,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           {sql_r6("1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)"
                   " / greatest(length(a.p_name), length(b.p_name))")} AS sim
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def er_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part master: candidate pairs from a
    composite blocking key (first name token, size), scored with
    Levenshtein edit distance, kept when dist <= 4 — the classic
    blocking+matching record-linkage pipeline (Fellegi-Sunter's candidate
    stage). Engine shape: ONE groupBy(block) collects each block in-row
    (sort_array for deterministic pair orientation), ordered pairs expand
    IN-ROW (transform/filter — never the oracle's self-join), and the
    edit distance runs inside codegen on the exploded pair rows. At
    100 TB: pair count is sum of block² — bounded by the blocking key's
    selectivity plus the `_ER_BLOCK_CAP` truncation fence for degenerate
    blocks; no shuffle carries more than one row per surviving pair, and
    there is no join anywhere in the plan."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.lower(F.split_part("p_name", F.lit(" "), F.lit(1))).alias("blk"),
        "p_size",
    )
    blocks = p.groupBy("blk", "p_size").agg(
        F.sort_array(F.collect_list(F.struct("p_partkey", "p_name"))).alias("arr")
    )
    blocks = blocks.withColumn(
        "arr",
        F.expr(
            f"CASE WHEN size(arr) > {_ER_BLOCK_CAP}"
            f" THEN slice(arr, 1, {_ER_BLOCK_CAP}) ELSE arr END"
        ),
    )
    # AQE coalesces the tiny block frame (~400 rows) to ONE partition,
    # which would serialize the 100x-larger pair fan-out + levenshtein
    # behind a single core; spread the blocks back out before exploding.
    # No length-difference prefilter: block members have near-uniform
    # name lengths, so it prunes nothing.
    blocks = blocks.repartition(32)
    # two-generator expansion (see operators.dedup.expand_pairs): arr is
    # sort_array'd on (p_partkey, ...) with unique partkeys,
    # so "later elements of the slice" IS the b.p_partkey > a.p_partkey
    # filter — the same ordered pair set, streamed through codegen
    # Generates instead of an interpreted flatten(transform(filter(...)))
    # that builds each block's full pair-struct array in memory.
    pairs = (
        blocks.select(
            "blk", "p_size", F.posexplode("arr").alias("__i", "a"), "arr"
        )
        .select(
            "blk",
            "p_size",
            "a",
            F.explode(
                F.expr("slice(arr, __i + 2, greatest(size(arr) - __i - 1, 0))")
            ).alias("b"),
        )
        .select(
            "blk",
            "p_size",
            F.col("a.p_partkey").alias("pka"),
            F.col("b.p_partkey").alias("pkb"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
        )
    )
    dist = F.levenshtein("name_a", "name_b")
    return pairs.withColumn("dist", dist.cast("long")).filter(
        F.col("dist") <= 4
    ).withColumn(
        "sim",
        r6(
            F.lit(1.0)
            - F.col("dist").cast("double")
            / F.greatest(F.length("name_a"), F.length("name_b"))
        ),
    )


# --- changepoint detection: exact integer CUSUM ------------------------------


@register(
    "ts_level_shift_by_type",
    tags=("timeseries", "window", "analytics"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS tot
      FROM daily GROUP BY 1
    ),
    run AS (
      SELECT d.event_type, d.day,
             CAST(SUM(d.c) OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS BIGINT) AS cum,
             CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS BIGINT) AS idx
      FROM daily d
    ),
    sc AS (
      SELECT r.event_type, r.day, r.idx, r.cum, s.n_days, s.tot,
             s.n_days * r.cum - r.idx * s.tot AS s_scaled
      FROM run r JOIN ser s USING (event_type)
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY abs(s_scaled) DESC, day) AS rn
      FROM sc
    )
    SELECT event_type, n_days, day AS cp_day,
           {sql_r4("CAST(abs(s_scaled) AS DOUBLE) / n_days")} AS max_abs_s,
           {sql_r4("CAST(cum AS DOUBLE) / idx")} AS mean_before,
           CASE WHEN n_days > idx
                THEN {sql_r4("CAST(tot - cum AS DOUBLE) / (n_days - idx)")}
                ELSE NULL END AS mean_after
    FROM best WHERE rn = 1
    """,
)
def ts_level_shift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SERIES level-shift report: for each event_type's daily
    series, the split day maximizing |S_d| where S_d = Σ_{i<=d}(y_i - μ)
    (Page 1954's CUSUM statistic; the split point of a one-changepoint
    binary segmentation), with the segment means either side of it.
    Complements ts_changepoint_cusum (queries/analytics.py), which emits
    the full float CUSUM CURVE of the single global series; this one is
    the per-series SUMMARY tier — one row per series, suitable as the
    per-key screening pass a 100 TB monitor runs before drilling into a
    curve. Cross-engine exactness: S_d·n
    = n·cumsum(y) - d·total is computed in INT64 (counts are integers),
    so the argmax — including the deterministic earliest-day tie-break —
    is integer-exact on both engines; doubles appear only in the final
    reported magnitudes, behind the rounding grid. Engine shape: one
    groupBy builds the daily series, two window passes (running sum +
    argmax rank) per series, broadcast-sized per-series totals joined
    back. At 100 TB parallelism is per-series and state per series is one
    running sum — nothing is ever collected."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    ser = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("tot"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    run = daily.select(
        "event_type",
        "day",
        F.sum("c").over(w).cast("long").alias("cum"),
        F.row_number().over(w).cast("long").alias("idx"),
    )
    sc = run.join(F.broadcast(ser), "event_type").withColumn(
        "s_scaled", F.col("n_days") * F.col("cum") - F.col("idx") * F.col("tot")
    )
    rnw = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s_scaled")).desc(), F.col("day")
    )
    best = sc.withColumn("rn", F.row_number().over(rnw)).filter(F.col("rn") == 1)
    return best.select(
        "event_type",
        "n_days",
        F.col("day").alias("cp_day"),
        r4(F.abs(F.col("s_scaled")).cast("double") / F.col("n_days")).alias(
            "max_abs_s"
        ),
        r4(F.col("cum").cast("double") / F.col("idx")).alias("mean_before"),
        F.when(
            F.col("n_days") > F.col("idx"),
            r4(
                (F.col("tot") - F.col("cum")).cast("double")
                / (F.col("n_days") - F.col("idx"))
            ),
        ).alias("mean_after"),
    )


# --- marketing attribution: linear multi-touch credit ------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window


@register(
    "events_attribution_linear",
    tags=("events", "join", "analytics"),
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS us, value
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT user_id, epoch_us(ts) AS us, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    tj AS (
      SELECT p.pid, p.value, m.channel
      FROM p LEFT JOIN m
        ON m.user_id = p.user_id
       AND m.us >= p.us - {_ATTR_WINDOW_US}
       AND m.us < p.us
    ),
    sh AS (
      SELECT pid, value, COALESCE(channel, 'direct') AS channel,
             CASE WHEN channel IS NULL THEN 1e0
                  ELSE 1e0 / COUNT(channel) OVER (PARTITION BY pid)
             END AS share
      FROM tj
    )
    SELECT channel,
           {sql_r4("SUM(share)")} AS credited_conversions,
           {sql_r2("SUM(value * share)")} AS credited_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM sh GROUP BY 1
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: each purchase's credit splits
    EQUALLY across every marketing touch (click/view/signup) in its 7-day
    lookback — the equal-weight member of the multi-touch family, the
    standard complement to single-touch models (the last-touch tier is
    events_attribution_last_touch in queries/analytics.py; this one
    requires the full touch PATH, not a single running scalar, hence the
    time-banded join). Per channel: fractional credited conversions
    (shares sum to 1 per touched purchase), credited revenue, and the
    contributing row count. Engine shape: purchases x touches join on
    user_id with a time-band predicate (bounded by touches-per-user-week
    — never a cross join), then one window over the purchase key assigns
    equal shares. Float caveat: per-share terms are identical doubles on
    both engines but their SUM order is engine-chosen; the r4/r2 rounding
    grid absorbs the ulp spread (same contract as the fit-sigma oracle).
    At 100 TB: two shuffles (join on user_id, window on pid); skewed
    mega-users are bounded by the 7-day band and the marketing-type
    filter before the join."""
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
    sh = tj.select(
        "pid",
        "value",
        F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
        F.when(F.col("channel").isNull(), F.lit(1.0))
        .otherwise(F.lit(1.0) / F.count("channel").over(wp))
        .alias("share"),
    )
    return sh.groupBy("channel").agg(
        r4(F.sum("share")).alias("credited_conversions"),
        r2(F.sum(F.col("value") * F.col("share"))).alias("credited_revenue"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )



# --- robust regression: Theil-Sen slope (lower median, bit-exact) ------------

# Series longer than this are truncated to their most recent _TS_MAX_DAYS
# days before pair expansion (pairs grow as days² — the estimator is
# conventionally windowed at scale). Inactive at fixture SFs (the events
# fixture spans ~30 days); mirrored EXACTLY in the oracle so the fence can
# never cause cross-engine divergence even when active.
_TS_MAX_DAYS = 365


@register(
    "a_theil_sen_slope",
    tags=("timeseries", "aggregate", "analytics"),
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY day DESC) AS rdesc
      FROM daily
    ),
    fenced AS (SELECT * FROM idx WHERE rdesc <= {_TS_MAX_DAYS}),
    pr AS (
      SELECT a.event_type,
             CAST(b.c - a.c AS DOUBLE)
               / date_diff('day', a.day, b.day) AS slope
      FROM fenced a JOIN fenced b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM pr
    ),
    med AS (
      SELECT event_type, CAST(cnt AS BIGINT) AS n_pairs,
             {sql_r6("slope")} AS slope
      FROM ranked WHERE rn = (cnt + 1) // 2
    )
    SELECT f.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           MIN(m.n_pairs) AS n_pairs, MIN(m.slope) AS slope
    FROM fenced f JOIN med m ON m.event_type = f.event_type
    GROUP BY 1
    """,
)
def a_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per daily event-type series: the
    LOWER MEDIAN (k = (n+1)//2 order statistic — no interpolation, hence
    bit-exact across engines) of all pairwise slopes (y_j - y_i)/(t_j -
    t_i), the 29%-breakdown-point alternative to OLS slope (Theil 1950,
    Sen 1968). Engine shape: one groupBy builds each series IN-ROW
    (sort_array), pairwise slopes expand in-row (transform/filter — the
    oracle's self-join never appears), and the order statistic is
    element_at(array_sort(...), k) — the whole estimator is a single
    aggregate row per series with zero joins and zero explodes. Pair
    count grows as days², so series are fenced to their most recent
    `_TS_MAX_DAYS` days (mirrored in the oracle; inactive at fixture
    SFs). At 100 TB parallelism is per-series; a series' pair array is
    bounded at ~66k doubles."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    g = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "c"))).alias("arr")
    )
    g = g.withColumn(
        "arr",
        F.expr(
            f"CASE WHEN size(arr) > {_TS_MAX_DAYS} THEN "
            f"slice(arr, size(arr) - {_TS_MAX_DAYS - 1}, {_TS_MAX_DAYS}) "
            "ELSE arr END"
        ),
    )
    g = g.withColumn(
        "slopes",
        F.expr(
            "flatten(transform(arr, a -> "
            "transform(filter(arr, b -> b.day > a.day), "
            "b -> CAST(b.c - a.c AS DOUBLE) / datediff(b.day, a.day))))"
        ),
    )
    return g.select(
        "event_type",
        F.size("arr").cast("long").alias("n_days"),
        F.size("slopes").cast("long").alias("n_pairs"),
        r6(
            F.element_at(
                F.array_sort("slopes"),
                F.expr("CAST((size(slopes) + 1) div 2 AS INT)"),
            )
        ).alias("slope"),
    )


# --- lake ops: small-file compaction planning --------------------------------

_COMPACT_TARGET_CHARS = 16384


@register(
    "s_compaction_plan",
    tags=("source", "window", "lakeops"),
    oracle=f"""
    WITH w AS (
      SELECT source, doc_id, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_prev
      FROM documents
    ),
    f AS (
      SELECT source, cum_prev // {_COMPACT_TARGET_CHARS} AS file_id, n_chars
      FROM w
    )
    SELECT source, CAST(file_id AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {sql_r4(f"CAST(SUM(n_chars) AS DOUBLE) / {_COMPACT_TARGET_CHARS}")}
             AS fill_ratio
    FROM f GROUP BY 1, 2
    """,
)
def s_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE / bin-packing step of
    lake table maintenance, Delta/Iceberg's rewriteDataFiles): documents
    are packed in stable (source, doc_id) order into output files of
    ~{_COMPACT_TARGET_CHARS} chars by bucketing each doc on its EXCLUSIVE
    running prefix sum — a first-fit-in-order bin pack that both engines
    compute identically in int64. Output is the plan: per (source,
    output file) doc count, byte-proxy total, and fill ratio. Engine
    shape: one window pass per source partition (running sum), one
    aggregate — at 100 TB this is the metadata-scale query a table
    service runs per partition, shuffling one row per file, not per
    doc."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    planned = docs.select(
        "source",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).cast("long").alias(
            "cum_prev"
        ),
    ).withColumn("file_id", F.expr(f"cum_prev div {_COMPACT_TARGET_CHARS}"))
    return planned.groupBy("source", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        r4(
            F.sum("n_chars").cast("double") / F.lit(_COMPACT_TARGET_CHARS)
        ).alias("fill_ratio"),
    )


# --- corpus forensics: cross-source exact-overlap matrix ---------------------


@register(
    "corpus_source_overlap",
    bench=True,  # round-6 representative: shingle-grain matrix aggregation
    tags=("corpus", "dedup", "analytics"),
    oracle=f"""
    WITH t AS (
      SELECT source, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ),
    dh AS (
      SELECT DISTINCT source, array_to_string(w[i:i+1], ' ') AS h
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
      WHERE len(w) >= 2
    ),
    cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM dh GROUP BY 1
    ),
    pair AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.n_common,
           ca.n AS n_a, cb.n AS n_b,
           {sql_r6("CAST(p.n_common AS DOUBLE)"
                   " / (ca.n + cb.n - p.n_common)")} AS jaccard
    FROM pair p
    JOIN cnt ca ON ca.source = p.source_a
    JOIN cnt cb ON cb.source = p.source_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, the count and Jaccard overlap of their distinct word-BIGRAM
    sets — the pairwise n-gram leakage audit a corpus runs before mixing
    sources (did source B scrape source A? do two crawls share
    boilerplate?). Granularity note: exact-document overlap is zero on
    this corpus (and near-zero on real deduplicated corpora), so the
    matrix is computed at shingle granularity, the same unit the
    decontamination pass uses. Engine shape: one distinct over (source,
    shingle), then each shingle's source set collects IN-ROW and source
    pairs expand in-row (never the oracle's shingle self-join);
    per-source distinct counts broadcast onto the tiny pair frame. At
    100 TB the expansion is bounded by sources-per-shingle squared
    (sources number in the hundreds, not millions) and the shuffle
    carries one row per (shingle, source) — the same posture as the
    minhash band buckets."""
    docs = load_table(spark, sf_dir, "documents")
    # repartition(doc_id) before shingling: both the parallelism spread
    # AND an optimization barrier — without it CollapseProject inlines
    # tokens() into the shingle lambda and re-splits the text once per
    # shingle (~50x, measured 54 s -> 2 s at the 10x probe scale; same
    # trap corpus_ngram_novelty and the minhash cascade guard against).
    # source rides INSIDE the transform struct, never as an explode
    # sibling: a generator's sibling columns are evaluated per OUTPUT
    # row, and CollapseProject inlines the whole tokenize->shingle chain
    # into them — measured 54 s -> ~1.5 s at the 10x probe for this one
    # select (the same trap operators/dedup.py:147-152 and
    # corpus_ngram_novelty document). repartition(doc_id) spreads the
    # shingling across cores.
    # shuffle 8-byte xxhash64 keys instead of shingle strings (the
    # jaccard-index trick, operators/dedup.py:163): the matrix only needs
    # shingle IDENTITY, never the text; collisions are 2^-64-scale and the
    # oracle diff at 3 SFs guards them.
    from ..functions.text import TOKENS_SQL, sql_hashed_windows
    from ..operators.dedup import fanout

    # expr strings (construction-cost doctrine — lloyd_assign); trees
    # identical to a Column-lambda build.
    # Dictionary-encode source BEFORE the posting shuffle: the
    # distinct-source frame is tiny, and row_number() ORDER BY source
    # makes code order == string order, so the in-row a<b pair expansion
    # and the window partitions keep the exact string semantics on 4-byte
    # ints; strings decode back onto the ≤ sources² tally frame. The
    # dominant posting shuffle drops ~20 bytes/row.
    srcs = docs.select("source").distinct().selectExpr(
        "source", "row_number() OVER (ORDER BY source) AS sc"
    )
    # Bigram identity WITHOUT bigram strings: the matrix never reads
    # shingle text, so hash the token PAIR directly with two-arg xxhash64
    # and dedupe the per-doc LONG array instead of building a
    # concat_ws(' ', a, b) string per window and array_distinct-ing them
    # — the map-side string materialization, not the shuffle, is the
    # cost (the aggregate reduces the postings to a few distinct groups
    # per doc, so the exchange is tiny). Tokens are whitespace-split, so
    # (a, b) ↔ "a b" is bijective and the distinct-hash count equals the
    # oracle's distinct-string count (same 2^-64 collision doctrine).
    dh = (
        fanout(docs.join(F.broadcast(srcs), "source"), F.col("doc_id"))
        .selectExpr("sc", f"{TOKENS_SQL.format(col='text')} AS toks")
        .selectExpr("sc", f"{sql_hashed_windows('toks', 2)} AS hs")
        .selectExpr(
            "explode(transform(hs, x -> struct(x AS h, sc AS sc))) AS p"
        )
        .selectExpr("p.sc AS sc", "p.h AS h")
    )
    # ONE groupBy(h) replaces distinct + groupBy(h) + groupBy(source):
    # collect_set dedups (h, source) inside the aggregate, so the raw
    # explode shuffles exactly once. Then singles AND pairs tally in the
    # SAME in-row expansion — each shingle's source set emits its
    # per-source markers (a, NULL) alongside its a<b pairs (a, b), and
    # one count aggregate produces both the per-source distinct-shingle
    # counts and the pair-overlap counts. The lineage runs once and has
    # ONE consumer (feeding per_hash_all to a pair subtree plus two
    # broadcast count sides recomputes the full
    # tokenize->shingle->explode->groupBy lineage per subtree): the
    # per-source totals attach to the pair rows with two window maxes
    # over the tiny tally frame (<= sources^2 + sources rows — hundreds
    # at 100 TB) instead of two joins — a pair row (a, b) shares the
    # PARTITION BY sa window with the singles row (a, NULL), and the
    # PARTITION BY coalesce(sb, sa) window with (b, NULL), so no
    # materialization barrier is needed at all.
    per_hash_all = dh.groupBy("h").agg(
        F.expr("sort_array(collect_set(sc)) AS ss")
    )
    contrib = per_hash_all.selectExpr(
        "explode(concat("
        "transform(ss, a -> struct(a AS sa, CAST(NULL AS INT) AS sb)), "
        "flatten(transform(ss, a -> transform(filter(ss, b -> b > a), "
        "b -> struct(a AS sa, b AS sb)))))) AS c"
    ).select("c.*")
    tallies = contrib.groupBy("sa", "sb").agg(
        F.expr("CAST(count(1) AS BIGINT) AS n")
    )
    wt = tallies.selectExpr(
        "sa",
        "sb",
        "n",
        "max(CASE WHEN sb IS NULL THEN n END) OVER "
        "(PARTITION BY sa) AS n_a",
        "max(CASE WHEN sb IS NULL THEN n END) OVER "
        "(PARTITION BY coalesce(sb, sa)) AS n_b",
    ).filter("sb IS NOT NULL")
    return (
        wt.join(
            F.broadcast(srcs.selectExpr("sc AS sa", "source AS source_a")),
            "sa",
        )
        .join(
            F.broadcast(srcs.selectExpr("sc AS sb", "source AS source_b")),
            "sb",
        )
        .selectExpr(
            "source_a",
            "source_b",
            "n AS n_common",
            "n_a",
            "n_b",
            f"{sql_r6('CAST(n AS DOUBLE) / (n_a + n_b - n)')} AS jaccard",
        )
    )


# --- entity clustering + golden-record survivorship --------------------------


@register(
    "er_cluster_entities",
    tags=("linkage", "graph", "dedup"),
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name,
             lower(split_part(p_name, ' ', 1)) AS blk, p_size
      FROM part
    ),
    mp AS (
      SELECT a.p_partkey AS pka, b.p_partkey AS pkb
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4
    ),
    edges AS (
      SELECT pka AS src, pkb AS dst FROM mp
      UNION
      SELECT pkb AS src, pka AS dst FROM mp
    ),
    reach(doc_id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    labels AS (SELECT doc_id, MIN(r) AS entity_id FROM reach GROUP BY 1),
    canon AS (
      SELECT l.entity_id, part.p_partkey, part.p_name,
             CAST(FLOOR(part.p_retailprice * 1e2 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY l.entity_id
               ORDER BY part.p_retailprice DESC, part.p_partkey) AS rk
      FROM labels l JOIN part ON part.p_partkey = l.doc_id
    )
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(CASE WHEN rk = 1 THEN p_partkey END) AS canonical_partkey,
           MAX(CASE WHEN rk = 1 THEN p_name END) AS canonical_name,
           string_agg(CAST(p_partkey AS VARCHAR), ',' ORDER BY p_partkey)
             AS member_ids,
           {sql_r2("SUM(cents) / 1e2")} AS total_retail
    FROM canon GROUP BY 1 ORDER BY entity_id
    """,
)
def er_cluster_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity clustering + golden-record survivorship — the record-linkage
    END of the pipeline er_blocking_pairs begins: matched pairs close
    transitively into entities (min-label pointer-doubling,
    operators.components — O(log n) rounds over one row per matched
    node), and each entity elects a canonical record by the
    richest-record rule (max retail price, id tie-break) with the
    membership roster and an exact integer-cent price rollup. This is
    the dedupe→merge→survivorship shape every MDM / customer-360 system
    runs.

    Cross-engine: cluster labels are min-reachable-ids (order-free
    integers, oracle = recursive CTE closure), the canonical election is
    a deterministic window over (price DESC, id), and the rollup sums
    exact cents. Scale posture: identical to dedup_clusters (the closure
    never touches unmatched records — singletons don't enter the frame),
    plus one broadcast-size join back to the master for the election; at
    100 TB the matched-pair graph is orders of magnitude smaller than
    the master table, which is the point of blocking."""
    from ..operators.components import connected_components

    pairs = er_blocking_pairs(spark, sf_dir).select(
        F.col("pka").alias("doc_a"), F.col("pkb").alias("doc_b")
    )
    labels = connected_components(pairs).select(
        F.col("doc_id").alias("p_partkey"), F.col("cluster_id").alias("entity_id")
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.floor(F.col("p_retailprice") * F.lit(1e2) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "p_retailprice",
    )
    m = labels.join(part, "p_partkey")
    w = Window.partitionBy("entity_id").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    ranked = m.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("p_partkey"))).alias(
                "canonical_partkey"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("p_name"))).alias(
                "canonical_name"
            ),
            F.array_join(
                F.array_sort(F.collect_list("p_partkey")).cast("array<string>"),
                ",",
            ).alias("member_ids"),
            r2(F.sum("cents") / F.lit(1e2)).alias("total_retail"),
        )
        .orderBy("entity_id")
    )


# --- lake ops: snapshot diff / CDC classification -----------------------------
#
# Two derived order snapshots (deterministic key-hash membership and a
# deterministic price revision — no rand(), so speculation/retry at
# 100 TB can't change either side), classified with ONE full outer join:
#   v1 = orders except keys ≡ 0 (mod 7)
#   v2 = orders except keys ≡ 3 (mod 11), price +10% where key ≡ 0 (mod 5)
_SNAP_V1_DROP = 7
_SNAP_V2_DROP = 11
_SNAP_BUMP = 5


@register(
    "s_snapshot_diff",
    tags=("lake", "join", "cdc"),
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey AS k,
             CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % {_SNAP_V1_DROP} <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % {_SNAP_BUMP} = 0
                  THEN CAST(FLOOR(o_totalprice * 1.1e0 * 1e2 + 0.5) AS BIGINT)
                  ELSE CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT)
             END AS cents
      FROM orders WHERE o_orderkey % {_SNAP_V2_DROP} <> 3
    ),
    diff AS (
      SELECT CASE WHEN v1.k IS NULL THEN 'insert'
                  WHEN v2.k IS NULL THEN 'delete'
                  WHEN v1.cents <> v2.cents THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(ABS(v2.cents - v1.cents), 0) AS delta
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(delta) AS BIGINT) AS price_delta_cents
    FROM diff GROUP BY 1
    """,
)
def s_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC classification between two table versions:
    every key classified insert / delete / update / unchanged with the
    exact cents-valued update magnitude — the Delta/Iceberg
    ``table_changes`` readout, expressed as one key-keyed FULL OUTER
    join over the two snapshots (here derived deterministically from
    orders; the on-disk twin is sources/versioned.py's snapshot layout,
    whose MERGE history this operator audits). Prices compare as exact
    BIGINT cents so 'update' can never fire on a double ulp. At 100 TB:
    one co-partitioned join shuffle on the primary key (bucketed
    snapshots make it shuffle-free), map-side combinable 4-row
    aggregate."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5)).cast("long")
    bumped = F.floor(
        F.col("o_totalprice") * F.lit(1.1e0) * 1e2 + F.lit(0.5)
    ).cast("long")
    v1 = o.filter(F.col("o_orderkey") % _SNAP_V1_DROP != 0).select(
        F.col("o_orderkey").alias("k1"), cents.alias("cents1")
    )
    v2 = o.filter(F.col("o_orderkey") % _SNAP_V2_DROP != 3).select(
        F.col("o_orderkey").alias("k2"),
        F.when(F.col("o_orderkey") % _SNAP_BUMP == 0, bumped)
        .otherwise(cents)
        .alias("cents2"),
    )
    diff = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer").select(
        F.when(F.col("k1").isNull(), F.lit("insert"))
        .when(F.col("k2").isNull(), F.lit("delete"))
        .when(F.col("cents1") != F.col("cents2"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        F.coalesce(
            F.abs(F.col("cents2") - F.col("cents1")), F.lit(0).cast("long")
        ).alias("delta"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("delta").cast("long").alias("price_delta_cents"),
    )


# --- interval allocation (revenue recognition proration) -----------------------

_ALLOC_DAYS = 14  # fulfillment window per order


@register(
    "j_interval_allocation",
    tags=("join", "aggregate", "finance"),
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS d0,
             CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    days AS (
      SELECT o.o_orderkey, o.cents,
             o.d0 + CAST(i AS INT) AS d
      FROM o, LATERAL (SELECT unnest(generate_series(0, {_ALLOC_DAYS} - 1))
                       AS i) g
    ),
    alloc AS (
      SELECT date_trunc('month', d) AS month,
             CAST(SUM(cents) AS BIGINT) AS cent_days,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
      FROM days GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month, n_orders,
           FLOOR(CAST(cent_days AS DOUBLE) / {_ALLOC_DAYS} / 1e2 * 1e2 + 0.5)
             / 1e2 AS allocated_revenue
    FROM alloc
    """,
)
def j_interval_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap revenue allocation (recognition proration): each
    order's value spreads evenly over its {d}-day fulfillment window and
    is allocated to calendar months by days-of-overlap — the
    finance-grade proration every revenue-recognition / campaign-pacing
    system runs, expressed as a bounded {d}x in-row day fan-out + one
    month aggregate instead of an interval join. Exactness: the
    allocation numerator is the exact BIGINT sum of cents x overlap-days
    (one row per order-day), divided ONCE by the window length — so the
    engine-side sums are pure integers and months reconcile to the total
    exactly (pinned test: sum(allocated) = total_cents/100 to the cents
    grid). At 100 TB the fan-out factor is the constant window length
    (the Hampel/band-join bounded-expansion doctrine) and the aggregate
    map-side combines to |months| rows; a variable-length interval
    version swaps the constant for width buckets, same shape."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d0"),
        F.floor(F.col("o_totalprice") * 1e2 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    days = o.select(
        "o_orderkey",
        "cents",
        "d0",
        F.explode(
            F.sequence(F.lit(0), F.lit(_ALLOC_DAYS - 1))
        ).alias("i"),
    ).select(
        "o_orderkey", "cents", F.date_add("d0", F.col("i")).alias("d")
    )
    alloc = days.groupBy(
        F.date_trunc("month", F.col("d")).cast("date").alias("month")
    ).agg(
        F.sum("cents").cast("long").alias("cent_days"),
        F.count_distinct("o_orderkey").cast("long").alias("n_orders"),
    )
    return alloc.select(
        "month",
        "n_orders",
        (
            F.floor(
                F.col("cent_days").cast("double") / _ALLOC_DAYS / 1e2 * 1e2
                + F.lit(0.5)
            )
            / 1e2
        ).alias("allocated_revenue"),
    )


fmt_doc(j_interval_allocation, 
    d=_ALLOC_DAYS
)
