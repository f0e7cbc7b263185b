"""Advanced analytics wave 4 (round-7 continuation): HITS bipartite
centrality, theta-method forecasting, seeded product quantization, and
label-conditioned silhouette.

Four operators extending existing tiers with their standard next member:

- ``events_hits_scores``: HITS authority scores over the user×event-type
  bipartite incidence (Kleinberg 1999). The hub/authority iteration
  collapses onto the k×k co-engagement matrix M = EᵀE, so after ONE
  data-sized aggregate every power iteration is k²-row arithmetic — the
  same bounded-state doctrine as PageRank's rank vector, but here the
  iterated state is k-dimensional regardless of user count;
- ``ts_theta_forecast``: the theta method (Assimakopoulos &
  Nikolopoulos 2000, Hyndman & Billah 2003 decomposition): average of the
  theta=0 line (linear trend extrapolation from exact integer moments)
  and SES applied to the theta=2 line (an in-plan sequential fold — the
  Kalman/croston pattern);
- ``emb_pq_seeded``: product quantization (Jégou et al. 2011) with a
  deterministic seeded codebook (the 16 lowest-id vectors, the
  lloyd_assign init doctrine): 4 subspaces × 16 codes, argmin encode via
  the x·x − 2x·c + c·c expansion, per-cell population and exact
  quantization-error sums;
- ``emb_silhouette_labels``: simplified (centroid-based) silhouette of
  the LABELED clustering — a(i) = distance to own label centroid,
  b(i) = min distance to any other, s = (b−a)/max(a,b) — the
  supervised-separation complement to emb_davies_bouldin.

Exactness: iterated HITS state lives on an integer 1e-9 grid (BIGINT
contractions are order-free; only the k-term norm is floating, folded in
sorted order on both engines); theta's trend comes from exact integer
moments and its SES walks the identical IEEE op sequence as the oracle's
recursive CTE; PQ distances and silhouette distances are sorted-order
list folds; every cross-row double sum is replaced by a BIGINT sum of
1e-6-quantized values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import r4, r6, sql_r4, sql_r6
from ..sources import load_table
from .registry import fmt_doc, register

# --- HITS over the user × event-type bipartite graph -------------------------

_HITS_ITERS = 4


def _hits_oracle() -> str:
    parts = [
        """
    WITH ut AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    m AS MATERIALIZED (
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ut a JOIN ut b ON a.user_id = b.user_id
      GROUP BY 1, 2
    ),
    ty AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM ut),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM ty),
    a0 AS (
      SELECT t, CAST(FLOOR(1e0 / sqrt(CAST(k AS DOUBLE)) * 1e9 + 0.5)
                     AS BIGINT) AS aq
      FROM ty CROSS JOIN kk
    )"""
    ]
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    raw{i} AS (
      SELECT m.t1 AS t, CAST(SUM(m.n * a.aq) AS BIGINT) AS raw
      FROM m JOIN a{i - 1} a ON m.t2 = a.t GROUP BY 1
    ),
    nrm{i} AS (
      SELECT sqrt(list_inner_product(l, l)) AS nrm
      FROM (SELECT list(CAST(raw AS DOUBLE) ORDER BY t) AS l FROM raw{i})
    ),
    a{i} AS (
      SELECT t, CAST(FLOOR(CAST(raw AS DOUBLE) / nrm * 1e9 + 0.5) AS BIGINT)
               AS aq
      FROM raw{i} CROSS JOIN nrm{i}
    )"""
        )
    parts.append(
        f"""
    SELECT d.t1 AS event_type, d.n AS n_users,
           FLOOR(aq / 1e9 * 1e6 + 0.5) / 1e6 AS authority
    FROM (SELECT t1, n FROM m WHERE t1 = t2) d
    JOIN a{_HITS_ITERS} a ON a.t = d.t1
    ORDER BY event_type"""
    )
    return "".join(parts)


@register(
    "events_hits_scores",
    bench=True,  # round-7 continuation representative: k-by-k iterative tier
    tags=("events", "graph", "iterative"),
    oracle=_hits_oracle(),
)
def events_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores for event types over the user×type bipartite
    incidence E (user engaged with type): authorities satisfy
    a ∝ EᵀE·a, so the iteration runs on the k×k co-engagement matrix
    M[t1,t2] = #users engaging with both — computed ONCE as the only
    data-sized stage (per-user type sets are ≤k, so the self-join
    expansion is k²-bounded per user). Four power iterations with L2
    normalization; hub scores (h = E·a) are a broadcast map over users
    and omitted from the output, which is the k-row authority frame.

    Exactness: the authority vector lives on an integer 1e-9 grid, so
    the M·a contraction is a BIGINT sum — exact and aggregation-order
    free (int64 headroom: n_users·1e9 per term; a 100 TB run with >9
    billion co-engaged users per type pair would move the grid to 1e-6).
    Only the k-term L2 norm is floating point, and it folds over the
    t-sorted raw vector with the identical sequential op order on both
    engines. At 100 TB: one distinct + one k²-keyed aggregate shuffle;
    M is then k² rows of BOUNDED MODEL STATE, collected once and
    iterated on the driver (the kmeans/PCA fit-locally doctrine —
    CPython floats are the same correctly-rounded IEEE doubles, so the
    sorted-fold norm and the 1e-9 regrid are bit-identical to the
    oracle's CTE stack). An in-plan variant would re-run the data-sized
    aggregate inside a 4-deep join lineage."""
    ev = load_table(spark, sf_dir, "events")
    # one user-keyed aggregate (collect_set dedups in-shuffle), then the
    # <=k² pair fan-out expands IN-ROW — no distinct, no self-join. Both
    # this and a ut-self-join form are scan-bound locally; this one
    # carries two shuffles instead of three — the difference that matters
    # at 100 TB
    m = (
        ev.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("tys"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(tys, a -> "
                    "transform(tys, b -> struct(a AS t1, b AS t2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    import math

    mrows = m.collect()  # k*k rows: bounded model state, never data
    mm = {(r.t1, r.t2): r.n for r in mrows}
    ts = sorted({r.t1 for r in mrows})
    k = len(ts)
    aq = {t: math.floor(1e0 / math.sqrt(float(k)) * 1e9 + 0.5) for t in ts}
    for _ in range(_HITS_ITERS):
        raw = {
            t1: sum(mm.get((t1, t2), 0) * aq[t2] for t2 in ts) for t1 in ts
        }  # exact int arithmetic (Python ints don't wrap; headroom doc'd)
        acc = 0.0
        for t in ts:  # t-sorted sequential fold, same op order as the CTE
            acc += float(raw[t]) * float(raw[t])
        nrm = math.sqrt(acc)
        aq = {
            t: math.floor(float(raw[t]) / nrm * 1e9 + 0.5) for t in ts
        }
    out_rows = [
        (
            t,
            int(mm[(t, t)]),
            math.floor(aq[t] / 1e9 * 1e6 + 0.5) / 1e6,
        )
        for t in ts
    ]
    return spark.createDataFrame(
        out_rows, schema="event_type string, n_users long, authority double"
    ).orderBy("event_type")


# --- Theta-method forecast ----------------------------------------------------

_THETA_ALPHA = "3e-1"
_THETA_H = 7


@register(
    "ts_theta_forecast",
    tags=("timeseries", "ml"),
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS t
      FROM daily
    ),
    mo AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(t * y) AS BIGINT) AS sty
      FROM idx GROUP BY 1
    ),
    co AS (
      SELECT event_type, n,
             (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy)
               / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
             (CAST(sy AS DOUBLE)
              - (n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy)
                / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) * st)
               / n AS a
      FROM mo
    ),
    ses AS (
      SELECT i.event_type, i.t,
             2e0 * i.y - (co.a + co.b * i.t) AS l
      FROM idx i JOIN co ON co.event_type = i.event_type
      WHERE i.t = 1
      UNION ALL
      SELECT i.event_type, i.t,
             ses.l + {_THETA_ALPHA}
               * ((2e0 * i.y - (co.a + co.b * i.t)) - ses.l)
      FROM ses
      JOIN idx i ON i.event_type = ses.event_type AND i.t = ses.t + 1
      JOIN co ON co.event_type = i.event_type
    ),
    fin AS (
      SELECT s.event_type, s.l, co.a, co.b, co.n
      FROM ses s JOIN co ON co.event_type = s.event_type AND s.t = co.n
    )
    SELECT event_type, CAST(h.h AS BIGINT) AS h,
           {sql_r4("5e-1 * (a + b * (n + h.h)) + 5e-1 * l")} AS forecast
    FROM fin CROSS JOIN (SELECT unnest(range(1, {_THETA_H + 1})) AS h) h
    ORDER BY event_type, h
    """,
)
def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (theta = 2) of daily event counts per type,
    horizons 1..7, via the Hyndman & Billah 2003 decomposition: the
    theta=0 line is the OLS linear trend (slope/intercept from exact
    integer moments), the theta=2 line z_t = 2·y_t − (a + b·t) is
    smoothed by SES (alpha = 0.3) as an in-plan sequential fold over the
    date-sorted array (the Kalman/croston doctrine: the oracle's
    recursive CTE walks the bit-identical IEEE sequence), and the h-step
    forecast is their average: ½(a + b·(n+h)) + ½·SES_n.

    Engine shape: one (type, day) hash aggregate — the only data-sized
    stage — then per-type single-row folds over ≤ horizon-length arrays
    and a 7-way bounded explode for the forecast grid. Per-type series
    state never exceeds the day count, the same bounded-series contract
    as ml_holt_winters; at 100 TB the fold partitions by series key
    inside the same aggregate shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    per = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # exact integer moments over t = 1..n taken from the sorted array
    withm = per.select(
        "event_type",
        "arr",
        "n",
        F.aggregate(
            F.transform(F.col("arr"), lambda s, i: F.struct((i + 1).cast("long").alias("t"), s["y"].alias("y"))),
            F.struct(
                F.lit(0).cast("long").alias("st"),
                F.lit(0).cast("long").alias("sy"),
                F.lit(0).cast("long").alias("stt"),
                F.lit(0).cast("long").alias("sty"),
            ),
            lambda acc, s: F.struct(
                (acc["st"] + s["t"]).alias("st"),
                (acc["sy"] + s["y"]).alias("sy"),
                (acc["stt"] + s["t"] * s["t"]).alias("stt"),
                (acc["sty"] + s["t"] * s["y"]).alias("sty"),
            ),
        ).alias("mo"),
    )
    b = (
        F.col("n") * F.col("mo.sty").cast("double")
        - F.col("mo.st").cast("double") * F.col("mo.sy")
    ) / (
        F.col("n") * F.col("mo.stt").cast("double")
        - F.col("mo.st").cast("double") * F.col("mo.st")
    )
    co = withm.select(
        "event_type",
        "arr",
        "n",
        b.alias("b"),
        ((F.col("mo.sy").cast("double") - b * F.col("mo.st")) / F.col("n")).alias(
            "a"
        ),
    )
    # SES fold over z_t = 2*y_t - (a + b*t), alpha = 0.3, init l = z_1
    alpha = F.lit(0.3)
    idxarr = F.transform(
        F.col("arr"),
        lambda s, i: F.struct((i + 1).cast("long").alias("t"), s["y"].alias("y")),
    )
    first = F.element_at(idxarr, 1)
    z1 = F.lit(2.0) * first["y"] - (F.col("a") + F.col("b") * first["t"])
    ses = F.aggregate(
        F.slice(idxarr, 2, F.greatest(F.size(idxarr) - 1, F.lit(0))),
        z1,
        lambda acc, s: acc
        + alpha * ((F.lit(2.0) * s["y"] - (F.col("a") + F.col("b") * s["t"])) - acc),
    )
    fin = co.select("event_type", "n", "a", "b", ses.alias("l"))
    out = fin.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(_THETA_H))).alias("hh"),
        "n",
        "a",
        "b",
        "l",
    )
    return out.select(
        "event_type",
        F.col("hh").cast("long").alias("h"),
        r4(
            F.lit(0.5) * (F.col("a") + F.col("b") * (F.col("n") + F.col("hh")))
            + F.lit(0.5) * F.col("l")
        ).alias("forecast"),
    ).orderBy("event_type", "h")


# --- Seeded product quantization ---------------------------------------------

_PQ_SUBS = 4
_PQ_SUBDIM = 16
_PQ_CODES = 16


@register(
    "emb_pq_seeded",
    tags=("embedding", "compression"),
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    seeds AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, v
      FROM e ORDER BY vec_id LIMIT {_PQ_CODES}
    ),
    sub AS (SELECT unnest(range({_PQ_SUBS})) AS s),
    d AS (
      SELECT e.vec_id, CAST(sub.s AS INT) AS s, seeds.j,
             list_inner_product(e.v[sub.s * {_PQ_SUBDIM} + 1:
                                    sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                                e.v[sub.s * {_PQ_SUBDIM} + 1:
                                    sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}])
             - 2 * list_inner_product(
                 e.v[sub.s * {_PQ_SUBDIM} + 1:
                     sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                 seeds.v[sub.s * {_PQ_SUBDIM} + 1:
                         sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}])
             + list_inner_product(
                 seeds.v[sub.s * {_PQ_SUBDIM} + 1:
                         sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                 seeds.v[sub.s * {_PQ_SUBDIM} + 1:
                         sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}]) AS dist
      FROM e CROSS JOIN sub CROSS JOIN seeds
    ),
    best AS (
      SELECT vec_id, s, j AS code,
             CAST(FLOOR(GREATEST(dist, 0e0) * 1e6 + 0.5) AS BIGINT) AS errq
      FROM (
        SELECT vec_id, s, j, dist,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist, j) AS rk
        FROM d
      ) WHERE rk = 1
    )
    SELECT s AS subspace, CAST(code AS BIGINT) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           {sql_r4("SUM(errq) / 1e6")} AS sq_error_sum
    FROM best GROUP BY 1, 2 ORDER BY subspace, code
    """,
)
def emb_pq_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011, TPAMI) with a
    deterministic seeded codebook: the embedding splits into 4×16-dim
    subspaces; the 16 lowest-vec_id vectors seed each subspace's
    codebook (the lloyd_assign init doctrine — a production run would
    Lloyd-refine them with the existing k-means engine); every vector's
    subvector maps to its nearest code (x·x − 2x·c + c·c expansion,
    ties to the lowest code id). Output: per (subspace, code) cell
    population and the exact quantization-error sum — the codebook
    balance/coverage readout that decides whether a PQ index is usable.

    Per-vector squared errors are clamped at 0 (the expansion can go
    −ulp), quantized to 1e-6 BIGINTs, and summed exactly — no cross-row
    double accumulation. Engine shape: the codebook is a 16-row frame
    collected into ONE broadcast array row; encode is a map-only pass
    with a constant 4×16 fold fan-out per vector (no join, no shuffle),
    then one (subspace, code)-keyed aggregate of bounded output — the
    IVF-assign posture, so 100 TB encodes at scan rate."""
    from ..functions.vectors import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    seeds = (
        e.orderBy("vec_id")
        .limit(_PQ_CODES)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("j"),
            "v",
        )
    )
    srow = seeds.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("j", "v"))).alias("cb")
    )

    def ip(xs, ys):
        return F.aggregate(
            F.zip_with(xs, ys, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )

    enc = e.crossJoin(F.broadcast(srow)).select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("s"),
        "v",
        "cb",
    )
    xs = F.slice(F.col("v"), F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM)
    dists = F.transform(
        F.col("cb"),
        lambda c: ip(xs, xs)
        - F.lit(2.0) * ip(xs, F.slice(c["v"], F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM))
        + ip(
            F.slice(c["v"], F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM),
            F.slice(c["v"], F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM),
        ),
    )
    best = enc.select(
        "vec_id",
        F.col("s").cast("int").alias("s"),
        (F.array_position(dists, F.array_min(dists)) - 1).cast("long").alias("code"),
        F.floor(F.greatest(F.array_min(dists), F.lit(0e0)) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("errq"),
    )
    return (
        best.groupBy(F.col("s").alias("subspace"), "code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            r4(F.sum("errq") / F.lit(1e6)).alias("sq_error_sum"),
        )
        .orderBy("subspace", "code")
    )


# --- Label-conditioned simplified silhouette ---------------------------------


@register(
    "emb_silhouette_labels",
    tags=("embedding", "evaluation"),
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cent AS MATERIALIZED (
      SELECT label AS cl,
             list_transform(
               list(m ORDER BY i),
               y -> CAST(FLOOR(y * 1e6 + 0.5) AS BIGINT) / 1e6) AS c
      FROM (
        SELECT e.label, r.i, AVG(e.v[r.i]) AS m
        FROM e CROSS JOIN range(1, 65) r(i)
        GROUP BY 1, 2
      ) GROUP BY 1
    ),
    d AS (
      SELECT e.vec_id, e.label, cent.cl,
             sqrt(GREATEST(
               list_inner_product(e.v, e.v)
               - 2 * list_inner_product(e.v, cent.c)
               + list_inner_product(cent.c, cent.c), 0e0)) AS dist
      FROM e CROSS JOIN cent
    ),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN label = cl THEN dist END) AS a,
             MIN(CASE WHEN label <> cl THEN dist END) AS b
      FROM d GROUP BY 1, 2
    ),
    s AS (
      SELECT label,
             CAST(FLOOR(CASE WHEN GREATEST(a, b) > 0e0
                              THEN (b - a) / GREATEST(a, b) ELSE 0e0 END
                        * 1e6 + 0.5) AS BIGINT) AS sq
      FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_r6("SUM(sq) / (COUNT(*) * 1e6)")} AS mean_silhouette
    FROM s GROUP BY 1 ORDER BY label
    """,
)
def emb_silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the labeled embedding
    clustering: per vector, a = distance to its own label centroid, b =
    min distance to any other label centroid, s = (b−a)/max(a,b); output
    is the per-label mean silhouette — the supervised separation metric
    next to emb_davies_bouldin (which scores the same centroids
    unsupervised) and emb_intra_class_cosine (which never leaves the
    class). Centroid-based silhouette is the standard O(n·k) surrogate
    for the O(n²) pairwise definition — the only silhouette that scales.

    Centroids are exact per-dimension means snapped to the 1e-6 grid
    (the kmeans doctrine: the grid absorbs engine mean-order ulps);
    distances expand x·x − 2x·c + c·c with sorted-order folds, clamped
    at 0 before sqrt; per-vector silhouettes quantize to 1e-6 BIGINTs so
    the per-label mean is an exact integer sum — no cross-row double
    accumulation. Engine shape: one posexplode aggregate for centroids
    (k×d bounded), centroids broadcast as ONE array row, a map-only
    distance pass, one label-keyed aggregate — scan-rate at 100 TB."""
    from ..functions.vectors import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    cent = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy(F.col("label").alias("cl"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: F.floor(s["m"] * 1e6 + F.lit(0.5)).cast("long") / F.lit(1e6),
            ).alias("c")
        )
    )
    crow = cent.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cl", "c"))).alias("cents")
    )

    def ip(xs, ys):
        return F.aggregate(
            F.zip_with(xs, ys, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )

    dists = F.transform(
        F.col("cents"),
        lambda s: F.struct(
            s["cl"].alias("cl"),
            F.sqrt(
                F.greatest(
                    ip(F.col("v"), F.col("v"))
                    - F.lit(2.0) * ip(F.col("v"), s["c"])
                    + ip(s["c"], s["c"]),
                    F.lit(0e0),
                )
            ).alias("dist"),
        ),
    )
    ab = (
        e.crossJoin(F.broadcast(crow))
        .select("vec_id", "label", dists.alias("ds"))
        .select(
            "label",
            F.element_at(
                F.expr("filter(ds, s -> s.cl = label)"), 1
            )["dist"].alias("a"),
            F.array_min(
                F.expr("transform(filter(ds, s -> s.cl != label), s -> s.dist)")
            ).alias("b"),
        )
    )
    s = ab.select(
        "label",
        F.floor(
            F.when(
                F.greatest(F.col("a"), F.col("b")) > F.lit(0e0),
                (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
            ).otherwise(F.lit(0e0))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sq"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            r6(F.sum("sq") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


# --- PQ ADC search quality audit ----------------------------------------------

_ADC_NQ = 8    # query vectors: the 8 HIGHEST vec_ids (disjoint from the
               # 16 lowest-id codebook seeds)
_ADC_K = 10    # recall@K


@register(
    "emb_pq_adc_recall",
    tags=("embedding", "similarity", "evaluation"),
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    seeds AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j, v
      FROM e ORDER BY vec_id LIMIT {_PQ_CODES}
    ),
    qs AS MATERIALIZED (
      SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id DESC LIMIT {_ADC_NQ}
    ),
    corpus AS MATERIALIZED (
      SELECT vec_id, v FROM e
      WHERE vec_id < (SELECT MIN(qid) FROM qs)
    ),
    sub AS (SELECT unnest(range({_PQ_SUBS})) AS s),
    d AS (
      SELECT c.vec_id, CAST(sub.s AS INT) AS s, seeds.j,
             list_inner_product(c.v[sub.s * {_PQ_SUBDIM} + 1:
                                    sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                                c.v[sub.s * {_PQ_SUBDIM} + 1:
                                    sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}])
             - 2 * list_inner_product(
                 c.v[sub.s * {_PQ_SUBDIM} + 1:
                     sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                 seeds.v[sub.s * {_PQ_SUBDIM} + 1:
                         sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}])
             + list_inner_product(
                 seeds.v[sub.s * {_PQ_SUBDIM} + 1:
                         sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}],
                 seeds.v[sub.s * {_PQ_SUBDIM} + 1:
                         sub.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}]) AS dist
      FROM corpus c CROSS JOIN sub CROSS JOIN seeds
    ),
    codes AS (
      SELECT vec_id, s, j AS code
      FROM (SELECT vec_id, s, j, dist,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dist, j) AS rk
            FROM d)
      WHERE rk = 1
    ),
    recon AS (
      SELECT c.vec_id,
             flatten(list(sd.v[c.s * {_PQ_SUBDIM} + 1:
                               c.s * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
                          ORDER BY c.s)) AS rv
      FROM codes c JOIN seeds sd ON sd.j = c.code
      GROUP BY c.vec_id
    ),
    pairs AS (
      SELECT q.qid, c.vec_id AS cid,
             CAST(FLOOR(GREATEST(
               list_inner_product(q.qv, q.qv)
               - 2 * list_inner_product(q.qv, c.v)
               + list_inner_product(c.v, c.v), 0e0) * 1e6 + 0.5) AS BIGINT)
               AS dq_exact,
             CAST(FLOOR(GREATEST(
               list_inner_product(q.qv, q.qv)
               - 2 * list_inner_product(q.qv, r.rv)
               + list_inner_product(r.rv, r.rv), 0e0) * 1e6 + 0.5) AS BIGINT)
               AS dq_adc
      FROM qs q
      CROSS JOIN corpus c
      JOIN recon r ON r.vec_id = c.vec_id
    ),
    ranked AS (
      SELECT qid, cid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dq_exact, cid) AS rk_exact,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dq_adc, cid) AS rk_adc,
             dq_exact, dq_adc
      FROM pairs
    ),
    hits AS (
      SELECT qid,
             CAST(COUNT(*) FILTER (rk_exact <= {_ADC_K}
                                   AND rk_adc <= {_ADC_K}) AS BIGINT)
               AS n_overlap,
             CAST(SUM(ABS(dq_adc - dq_exact)) AS BIGINT) AS distq,
             CAST(COUNT(*) AS BIGINT) AS n_corpus
      FROM ranked GROUP BY 1
    )
    SELECT qid, CAST({_ADC_K} AS BIGINT) AS k, n_overlap,
           {sql_r4(f"CAST(n_overlap AS DOUBLE) / {_ADC_K}")} AS recall,
           {sql_r4("CAST(distq AS DOUBLE) / n_corpus / 1e6")}
             AS mean_adc_distortion
    FROM hits
    """,
)
def emb_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} audit of PQ asymmetric-distance search (Jégou et al.
    2011): the 8 highest-id vectors become queries, the rest the corpus;
    every corpus vector is PQ-encoded with the same seeded 4x16 codebook
    as emb_pq_seeded and reconstructed from its codes; exact top-{k} (by
    squared L2) is compared with ADC top-{k} (query vs reconstruction —
    the asymmetric distance an IVF-ADC index actually ranks by). Emits
    per query the overlap, recall, and mean |adc - exact| distortion —
    the "is the compressed index good enough" number next to the LSH
    candidate audit (dedup_lsh_candidate_eval). Exactness: both
    distances use the proven x·x - 2x·y + y·y fold/inner-product pattern
    quantized at 1e6 BIGINT BEFORE ranking, with (dist, vec_id) total
    order, so both engines rank identical integer keys. Engine shape:
    codebook and the 8 queries broadcast; encode + reconstruct is one
    map-side pass over the corpus; the pair fan-out is |corpus| x 8
    rows feeding two per-query top-{k} windows (partition count = 8) —
    the corpus itself never shuffles by more than the final per-query
    rank, mirroring sim_cosine_topk's broadcast-query doctrine at
    100 TB."""
    from ..functions.vectors import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    seeds = (
        e.orderBy("vec_id")
        .limit(_PQ_CODES)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("j"),
            "v",
        )
    )
    srow = seeds.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("j", "v"))).alias("cb")
    )
    qs = e.orderBy(F.col("vec_id").desc()).limit(_ADC_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    qmin = qs.agg(F.min("qid").alias("qmin"))
    corpus = e.crossJoin(F.broadcast(qmin)).filter(
        F.col("vec_id") < F.col("qmin")
    ).select("vec_id", "v")

    def ip(xs, ys):
        return F.aggregate(
            F.zip_with(xs, ys, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # encode: per (vec_id, s) nearest code, then reconstruct in-row
    enc = corpus.crossJoin(F.broadcast(srow)).select(
        "vec_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("s"),
        "cb",
    )
    xs = F.slice(F.col("v"), F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM)
    dists = F.transform(
        F.col("cb"),
        lambda c: ip(xs, xs)
        - F.lit(2.0)
        * ip(xs, F.slice(c["v"], F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM))
        + ip(
            F.slice(c["v"], F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM),
            F.slice(c["v"], F.col("s") * _PQ_SUBDIM + 1, _PQ_SUBDIM),
        ),
    )
    codes = enc.select(
        "vec_id",
        "s",
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("code"),
    )
    recon = (
        codes.crossJoin(F.broadcast(srow))
        .select(
            "vec_id",
            "s",
            F.slice(
                F.element_at(F.col("cb"), F.col("code") + 1)["v"],
                F.col("s") * _PQ_SUBDIM + 1,
                _PQ_SUBDIM,
            ).alias("sv"),
        )
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "sv"))),
                    lambda st: st["sv"],
                )
            ).alias("rv")
        )
    )
    qrow = qs.groupBy().agg(
        F.collect_list(F.struct("qid", "qv")).alias("qarr")
    )
    pairs = (
        corpus.join(recon, "vec_id")
        .crossJoin(F.broadcast(qrow))
        .select(
            F.col("vec_id").alias("cid"),
            "v",
            "rv",
            F.explode("qarr").alias("q"),
        )
        .select(
            F.col("q.qid").alias("qid"),
            "cid",
            F.floor(
                F.greatest(
                    ip(F.col("q.qv"), F.col("q.qv"))
                    - F.lit(2.0) * ip(F.col("q.qv"), F.col("v"))
                    + ip(F.col("v"), F.col("v")),
                    F.lit(0e0),
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dq_exact"),
            F.floor(
                F.greatest(
                    ip(F.col("q.qv"), F.col("q.qv"))
                    - F.lit(2.0) * ip(F.col("q.qv"), F.col("rv"))
                    + ip(F.col("rv"), F.col("rv")),
                    F.lit(0e0),
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dq_adc"),
        )
    )
    we = Window.partitionBy("qid").orderBy("dq_exact", "cid")
    wa = Window.partitionBy("qid").orderBy("dq_adc", "cid")
    ranked = pairs.select(
        "qid",
        "cid",
        "dq_exact",
        "dq_adc",
        F.row_number().over(we).alias("rk_exact"),
        F.row_number().over(wa).alias("rk_adc"),
    )
    hits = ranked.groupBy("qid").agg(
        F.count(
            F.when((F.col("rk_exact") <= _ADC_K) & (F.col("rk_adc") <= _ADC_K), 1)
        )
        .cast("long")
        .alias("n_overlap"),
        F.sum(F.abs(F.col("dq_adc") - F.col("dq_exact")))
        .cast("long")
        .alias("distq"),
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
    )
    return hits.select(
        "qid",
        F.lit(_ADC_K).cast("long").alias("k"),
        "n_overlap",
        r4(F.col("n_overlap").cast("double") / _ADC_K).alias("recall"),
        r4(F.col("distq").cast("double") / F.col("n_corpus") / 1e6).alias(
            "mean_adc_distortion"
        ),
    )


fmt_doc(emb_pq_adc_recall, k=_ADC_K)


# --- embedding centroid drift ---------------------------------------------------

_CD_GRID = "1e6"  # centroid quantization grid (per-dimension)


@register(
    "emb_centroid_drift",
    tags=("embedding", "dq"),
    oracle=f"""
    WITH e AS (
      SELECT label,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))
                  AS INTEGER) % 2 AS era,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT e.label, e.era, d.i, e.v[d.i + 1] AS x
      FROM e CROSS JOIN (SELECT unnest(range(64)) AS i) d
    ),
    cent AS (
      SELECT label, era, i,
             CAST(FLOOR(SUM(x) / COUNT(*) * {_CD_GRID} + 0.5) AS BIGINT) AS cq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM dims GROUP BY 1, 2, 3
    ),
    pair AS (
      SELECT a.label, a.i, a.cq AS ca, b.cq AS cb,
             MAX(a.n) OVER (PARTITION BY a.label) AS n_a,
             MAX(b.n) OVER (PARTITION BY b.label) AS n_b
      FROM (SELECT * FROM cent WHERE era = 0) a
      JOIN (SELECT * FROM cent WHERE era = 1) b
        ON b.label = a.label AND b.i = a.i
    )
    SELECT label, MAX(n_a) AS n_era0, MAX(n_b) AS n_era1,
           FLOOR(sqrt(CAST(SUM((ca - cb) * (ca - cb)) AS DOUBLE))
                 / {_CD_GRID} * 1e6 + 0.5) / 1e6 AS l2_drift,
           FLOOR(CAST(SUM(ca * cb) AS DOUBLE)
                 / (sqrt(CAST(SUM(ca * ca) AS DOUBLE))
                    * sqrt(CAST(SUM(cb * cb) AS DOUBLE))) * 1e6 + 0.5) / 1e6
             AS centroid_cosine
    FROM pair GROUP BY 1
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift audit per label: vectors split into two eras by
    md5(vec_id) parity, per-era per-dimension centroids quantized to a
    1e6 grid, then the L2 distance and cosine BETWEEN the two quantized
    centroids — the embedding-space analog of dq_drift_psi (value
    distributions) and dq_schema_drift (column profiles): "did the
    representation move between snapshots". Exactness: centroids are
    exact ratios quantized to BIGINTs per dimension; distance and
    cosine are integer cross sums (ca*cb etc. fit int64: 64 dims x
    (1e6)^2 = 6.4e13) with one sqrt each at the end. Engine shape: the
    64-way dimension fan-out multiplies the VECTOR frame (in-row
    explode), one (label, era, dim) aggregate, then a 64-row-per-label
    join of broadcast-sized centroid frames."""
    from ..functions.vectors import as_double

    grid = float(_CD_GRID)
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        (
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4), 16, 10
            ).cast("int")
            % 2
        ).alias("era"),
        as_double(F.col("embedding")).alias("v"),
    )
    dims = e.select(
        "label",
        "era",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        "v",
    ).select(
        "label", "era", "i", F.element_at("v", F.col("i") + 1).alias("x")
    )
    cent = dims.groupBy("label", "era", "i").agg(
        F.floor(F.sum("x") / F.count(F.lit(1)) * grid + F.lit(0.5))
        .cast("long")
        .alias("cq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = cent.filter(F.col("era") == 0).select(
        "label", "i", F.col("cq").alias("ca"), F.col("n").alias("n_a")
    )
    b = cent.filter(F.col("era") == 1).select(
        "label", "i", F.col("cq").alias("cb"), F.col("n").alias("n_b")
    )
    pair = a.join(b, ["label", "i"])
    return pair.groupBy("label").agg(
        F.max("n_a").alias("n_era0"),
        F.max("n_b").alias("n_era1"),
        (
            F.floor(
                F.sqrt(
                    F.sum(
                        (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
                    ).cast("double")
                )
                / grid
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("l2_drift"),
        (
            F.floor(
                F.sum(F.col("ca") * F.col("cb")).cast("double")
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")).cast("double"))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")).cast("double"))
                )
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("centroid_cosine"),
    )


# --- triplet-margin embedding audit ----------------------------------------------


@register(
    "emb_triplet_margin_audit",
    tags=("embedding", "evaluation", "dq"),
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    chained AS (
      SELECT vec_id, label, v,
             LEAD(v) OVER (PARTITION BY label ORDER BY vec_id) AS pos_v,
             LEAD(label) OVER (ORDER BY vec_id) AS nxt_label,
             LEAD(v) OVER (ORDER BY vec_id) AS neg_v
      FROM e
    ),
    trip AS (
      SELECT label,
             CAST(FLOOR(GREATEST(
               list_inner_product(v, v)
               - 2 * list_inner_product(v, pos_v)
               + list_inner_product(pos_v, pos_v), 0e0) * 1e6 + 0.5)
               AS BIGINT) AS dap,
             CAST(FLOOR(GREATEST(
               list_inner_product(v, v)
               - 2 * list_inner_product(v, neg_v)
               + list_inner_product(neg_v, neg_v), 0e0) * 1e6 + 0.5)
               AS BIGINT) AS dan
      FROM chained
      WHERE pos_v IS NOT NULL AND neg_v IS NOT NULL
        AND nxt_label <> label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_triplets,
           CAST(SUM(CASE WHEN dap >= dan THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           FLOOR(CAST(SUM(CASE WHEN dap >= dan THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS violation_rate,
           FLOOR(CAST(SUM(dan - dap) AS DOUBLE) / COUNT(*) / 1e6 * 1e6 + 0.5)
             / 1e6 AS mean_margin
    FROM trip GROUP BY 1
    """,
)
def emb_triplet_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin audit of the labeled embedding space: for each
    anchor, positive = its next same-label vector, negative = its next
    vector in global id order when differently labeled (chain sampling
    — deterministic, volume-linear, the same fence doctrine as
    corpus_modal_agreement); a violation is d(a,p) >= d(a,n), the
    quantity a triplet/contrastive loss trains to zero (Schroff et al.
    2015, FaceNet). Emits per label the violation rate and the mean
    (d_an - d_ap) margin — near-random embeddings sit at rate ~0.5,
    margin ~0. Exactness: squared L2 via the proven inner-product
    expansion, clamped and quantized at 1e6 BEFORE comparison; margins
    sum as exact BIGINTs. Engine shape: two lead windows + one per-label
    aggregate; no pairwise anything."""
    from ..functions.vectors import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )

    def ip(xs, ys):
        return F.aggregate(
            F.zip_with(xs, ys, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    wl = Window.partitionBy("label").orderBy("vec_id")
    wg = Window.orderBy("vec_id")
    chained = e.select(
        "label",
        "v",
        F.lead("v").over(wl).alias("pos_v"),
        F.lead("label").over(wg).alias("nxt_label"),
        F.lead("v").over(wg).alias("neg_v"),
    )

    def d2q(a, b):
        return F.floor(
            F.greatest(
                ip(a, a) - F.lit(2.0) * ip(a, b) + ip(b, b), F.lit(0e0)
            )
            * 1e6
            + F.lit(0.5)
        ).cast("long")

    trip = chained.filter(
        F.col("pos_v").isNotNull()
        & F.col("neg_v").isNotNull()
        & (F.col("nxt_label") != F.col("label"))
    ).select(
        "label",
        d2q(F.col("v"), F.col("pos_v")).alias("dap"),
        d2q(F.col("v"), F.col("neg_v")).alias("dan"),
    )
    viol = F.when(F.col("dap") >= F.col("dan"), 1).otherwise(0)
    return trip.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        F.sum(viol).cast("long").alias("n_violations"),
        (
            F.floor(
                F.sum(viol).cast("double") / F.count(F.lit(1)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("violation_rate"),
        (
            F.floor(
                F.sum(F.col("dan") - F.col("dap")).cast("double")
                / F.count(F.lit(1))
                / 1e6
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_margin"),
    )
