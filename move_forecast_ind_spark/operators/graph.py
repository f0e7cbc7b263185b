"""The user co-activity graph: its definition, its encodings and the
broadcast-round loop every iterative graph query runs.

Two users are linked when both have an event of the same ``event_type`` in
the same time bucket. The default bucket is the hour (``date_trunc``); the
motif queries (triangles, k-core, assortativity, link prediction,
modularity) use the sparser ``TIGHT_BUCKET_S`` epoch-floored bucket. The
graph is simple and symmetric: no self-loops, every edge in both
directions.

Engine encoding: users are numbered ``i = 0 .. |V|-1`` in ``user_id``
order, and a vertex's state travels as one array whose element ``i + 1``
is vertex ``i``'s value (:func:`vertex_array`). Each round of an iterative
query (:func:`iterate`) aggregates the |V|-row state into that array as
ONE row, broadcasts it, and updates every vertex in-row from its
neighbour list with ``element_at`` lookups: zero joins and zero shuffles
per round, and the whole chain stays lazy. Round expressions are parsed
once as SQL strings and reused; building them per round from Column
algebra costs a py4j round trip per node, which was most of pagerank's
plan-construction time.

Scale posture: pair expansion is bounded per (type, bucket), never
all-pairs, and the adjacency build is one raw-pair-volume shuffle. The
per-round broadcast is |V|-sized, which assumes |V| ≪ |E| and a vector
that fits an executor. For billion-node graphs at 100 TB, the fallback is
the shuffle formulation: each round joins the state to the edge list on
the source vertex (``explode(nbrs)`` then ``groupBy(dst)``) and
checkpoints. That formulation is not implemented here.

DuckDB oracles build the same graph from :func:`coactivity_cte`.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .dedup import fanout
from .materialize import checkpoint_parquet

TIGHT_BUCKET_S = 300  # the motif queries' bucket: same event_type within 300 s


def coactivity_cte(bucket_seconds: int | None = None) -> str:
    """DuckDB text for ``WITH ev AS (…), edges AS MATERIALIZED (…)``: the
    distinct directed edge list (src, dst) of the co-activity graph,
    laid out for a query indented by four spaces. Callers append further
    CTEs after a comma."""
    if bucket_seconds is None:
        ev = "SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS h"
    else:
        ev = (
            "SELECT DISTINCT user_id, event_type,\n"
            f"             CAST(FLOOR(epoch(ts) / {bucket_seconds}) AS BIGINT) AS h"
        )
    return f"""WITH ev AS (
      {ev}
      FROM events
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM ev a JOIN ev b
        ON a.event_type = b.event_type AND a.h = b.h
       AND a.user_id <> b.user_id
    )"""


def coactivity_pairs(
    spark: SparkSession, sf_dir: str, bucket_seconds: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(idx, pairs): the user index frame (user_id, i) and the RAW
    in-bucket ordered pair frame (si, di): both directions per edge,
    duplicates across buckets kept (dedup is the caller's aggregate).
    The link-prediction tier streams these raw rows through a broadcast
    semi join instead of paying a second |E|-sized aggregate."""
    if bucket_seconds is None:
        bucket = F.date_trunc("hour", F.col("ts"))
    else:
        bucket = F.floor(F.unix_timestamp(F.col("ts")) / bucket_seconds).cast(
            "long"
        )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", bucket.alias("h")
    )
    idx = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .selectExpr(
            "user_id", "row_number() OVER (ORDER BY user_id) - 1 AS i"
        )
    )
    # collect_set dedups (user, type, bucket) inside the bucket aggregate,
    # so no standalone ev.distinct() shuffle is needed; the idx joins are
    # broadcast (map-side) BEFORE any pair shuffle.
    pairs = (
        # fanout between the bucket aggregate and the |us|²-per-bucket
        # expansion: the bucket frame is byte-tiny, so AQE would coalesce
        # it to 1-2 tasks and serialize the quadratic in-row work; the
        # pinned exchange spreads it cluster-wide.
        fanout(
            ev.groupBy("event_type", "h").agg(
                F.expr("collect_set(user_id) AS us")
            )
        )
        .selectExpr(
            "explode(flatten(transform(us, a -> "
            "transform(filter(us, b -> b != a), "
            "b -> struct(a as src, b as dst))))) AS p"
        )
        .select("p.src", "p.dst")
        .join(
            F.broadcast(idx).withColumnsRenamed({"user_id": "src", "i": "si"}),
            "src",
        )
        .join(
            F.broadcast(idx).withColumnsRenamed({"user_id": "dst", "i": "di"}),
            "dst",
        )
        .select("si", "di")
    )
    return idx, pairs


def coactivity_adjacency(
    spark: SparkSession, sf_dir: str, bucket_seconds: int | None = None
) -> DataFrame:
    """Index-encoded adjacency: (user_id, i, nbrs array<int of i>, deg),
    one row per user, neighbour lists sorted and distinct, isolated users
    with an empty list. Built with one collect_set shuffle and left lazy:
    a caller's consumers sit inside one action, where ReuseExchange
    dedupes the adjacency subtree.

    The wide nbrs arrays are cheap to build but expensive to move through
    any further exchange at scale, so consumers reduce them in-row
    (explode, slice, size) before the next shuffle."""
    idx, pairs = coactivity_pairs(spark, sf_dir, bucket_seconds)
    # fanout on the narrow pair rows, keyed by si: AQE would coalesce the
    # byte-tiny aggregate shuffle to one partition and serialize every
    # consumer's per-round in-row pass on one core. The groupBy reuses
    # this partitioning, so the wide arrays never cross an extra exchange.
    adj = fanout(pairs, F.col("si")).groupBy("si").agg(
        F.expr("array_sort(collect_set(di)) AS nbrs")
    )
    return (
        idx.join(adj, idx["i"] == adj["si"], "left")
        .selectExpr(
            "user_id",
            "i",
            "coalesce(nbrs, CAST(array() AS ARRAY<INT>)) AS nbrs",
        )
        .selectExpr("user_id", "i", "nbrs", "size(nbrs) AS deg")
    )


def coactivity_sliced(
    spark: SparkSession, sf_dir: str, bucket_seconds: int | None, cap: int
) -> DataFrame:
    """Slim checkpointed projection for the link-prediction tier:
    (user_id, i, deg, sn) with deg the full distinct degree and sn the
    first ``cap`` neighbours ascending, the oracle's ROW_NUMBER() <= cap
    slice over sorted distinct edges. Users with deg 0 are dropped.

    The arrays are reduced in-row, in the same stage as the aggregate, so
    the wide form never crosses an exchange and the checkpoint holds about
    ``cap`` ints per user; every downstream consumer re-reads it instead
    of re-deriving the graph."""
    idx, pairs = coactivity_pairs(spark, sf_dir, bucket_seconds)
    agg = pairs.groupBy("si").agg(
        F.expr("array_sort(collect_set(di)) AS nbrs")
    )
    sliced = agg.selectExpr(
        "si AS i", "size(nbrs) AS deg", f"slice(nbrs, 1, {cap}) AS sn"
    ).join(F.broadcast(idx), "i")
    return checkpoint_parquet(
        sliced, f"coact-sliced-{bucket_seconds}", npartitions=8
    )


def vertex_array(value: str, name: str) -> Column:
    """Aggregate over a frame with an ``i`` column: the array ``name``
    whose element ``i + 1`` is SQL expression ``value`` at vertex ``i``.
    Order-insensitive, so the state frame's partitioning cannot change
    it."""
    return F.expr(
        f"transform(array_sort(collect_list(struct(i, {value} AS v))), "
        f"s -> s.v) AS {name}"
    )


def iterate(
    adj: DataFrame,
    state: DataFrame,
    stats: Sequence[Column],
    step: Callable[[int], Sequence[Column]],
    rounds: int,
) -> DataFrame:
    """``rounds`` synchronous rounds t = 1..rounds: aggregate ``state``
    into ONE row of ``stats``, cross that broadcast row into every row of
    ``adj`` and select ``step(t)`` as the next state."""
    for t in range(1, rounds + 1):
        state = adj.crossJoin(F.broadcast(state.agg(*stats))).select(*step(t))
    return state
