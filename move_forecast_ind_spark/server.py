"""HTTP serving facade — the reference's FastAPI surface on the Spark engine.

The reference serves POST /forecast/ and POST /historical_trends/ via
FastAPI+uvicorn with pydantic validation (reference main.py:124-127,
410-447). This module provides the same three endpoints on the Python
standard library only — no external web framework exists in this
environment, and none is needed for request/response JSON:

- ``GET|HEAD /``                → welcome message          (main.py:410-413)
- ``POST /forecast/``           → forecast response        (main.py:415-430)
- ``POST /historical_trends/``  → per-year trend response  (main.py:432-447)

Error mapping mirrors the reference: validation failures → 400 with a
``detail`` string, unexpected failures → 500 (main.py:425-430). The clock
and horizon are injected through :class:`ServingContext` (no hidden
``datetime.now()`` — SURVEY.md §5.4).

Before :func:`serve` binds its port it builds two surfaces. The
:class:`ForecastSurface` holds every live forecast (each model branch ×
each known move type and ``None`` × each input date in [today,
max_date]) as its finished response body, encoded once from one
plans.service.forecast_batch. The :class:`TrendsSurface` holds every
fact-table day row a live /historical_trends/ window can ask for, from
one aggregate over the cached fact table. A move type that is neither a
string nor null is a 400 on both endpoints. A live request on either
endpoint is answered from its surface: it fires no Spark job and makes
no py4j call. A past-date forecast, and a forecast on a context without
a surface (the CLI), plans one Spark query through plans.service instead
of ~30 DB round-trips (see plans.service for its job count), and its
rows go through the surface's encoder. A trends request on a context
without a trends surface builds one for the request's branch and
answers from it.

:class:`Server` runs on one asyncio event loop (where the reference's
uvicorn loop blocks on every DB call): it parses each HTTP/1.0 request
itself and answers surface hits and 400s inline, while a request that
plans in Spark runs on a small thread pool under a Spark job group of its
own, set right before its first Spark call. The server writes one JSON
access-log line per request to stderr, before the response: ``path``,
``status``, ``ms``, ``spark_jobs`` (the jobs of its job group; 0 when it
set none) and ``surface_hit``.
"""

from __future__ import annotations

import asyncio
import dataclasses
import datetime as dt
import itertools
import json
import math
import socket
import sys
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from http import HTTPStatus

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetime_fns import forecast_window
from .functions.rounding import r2
from .plans.service import (
    RequestError,
    check_request,
    forecast_batch,
    forecast_request,
    known_move_types,
    parse_date,
)

# Summary-comment banks (shape of reference main.py:305-318 SUMMARY_*_PHRASES;
# original wording) + the deterministic pick used across the repo.
SUMMARY_BANKS: dict[str, tuple[str, str, str]] = {
    "stronger": (
        "{move_type} demand at branch {branch} is outpacing its usual share "
        "({current:.1f}% now vs {hist_avg:.1f}% historically)",
        "branch {branch} is set for an above-trend {move_type} period "
        "({current:.1f}% vs the usual {hist_avg:.1f}%)",
        "{move_type} volume share is running hot at branch {branch} "
        "({current:.1f}% against {hist_avg:.1f}%)",
    ),
    "consistent": (
        "{move_type} demand at branch {branch} is tracking its usual share "
        "({current:.1f}% vs {hist_avg:.1f}% historically)",
        "branch {branch} expects a typical {move_type} period "
        "({current:.1f}% vs the usual {hist_avg:.1f}%)",
        "{move_type} volume share is steady at branch {branch} "
        "({current:.1f}% against {hist_avg:.1f}%)",
    ),
    "weaker": (
        "{move_type} demand at branch {branch} is below its usual share "
        "({current:.1f}% now vs {hist_avg:.1f}% historically)",
        "branch {branch} is set for a below-trend {move_type} period "
        "({current:.1f}% vs the usual {hist_avg:.1f}%)",
        "{move_type} volume share is running light at branch {branch} "
        "({current:.1f}% against {hist_avg:.1f}%)",
    ),
}
SUMMARY_NO_MOVE_TYPE = "Branch-level forecast for branch {branch}, all move types combined."


@dataclass(frozen=True)
class ForecastSurface:
    """Every live /forecast/ answer, computed before the server binds: one
    :func:`forecast_batch` over all model branches × (known move types and
    ``None``) × input dates ``today..max_date``, collected as one Arrow
    table and encoded by :func:`_forecast_bodies` into finished response
    bodies. ``bodies`` maps (branch, move type, input date) to the JSON
    bytes a hit sends. Read-only once built, so it is shared without a
    lock."""

    branches: frozenset[int]
    move_types: tuple[str, ...]
    today: dt.date
    max_date: dt.date
    bodies: dict[tuple[int, str | None, dt.date], bytes]
    num_rows: int
    build_s: float

    @classmethod
    def build(cls, ctx: ServingContext) -> ForecastSurface:
        t0 = time.perf_counter()
        move_types = known_move_types(ctx.pct)
        # The request keys, exploded from the registry's branch rows.
        requests = ctx.models.select(
            "branch",
            F.explode(F.array(*map(F.lit, move_types), F.lit(None).cast("string")))
            .alias("move_type"),
        ).select(
            "branch",
            "move_type",
            F.explode(F.sequence(F.lit(ctx.today), F.lit(ctx.max_date))).alias("input_date"),
        )
        # Every date the tail looks up (input dates and window days) lies in
        # [today, max_date], and the month-grain fallback groups by month,
        # so the percentages of the other months can be left out exactly.
        days = (ctx.max_date - ctx.today).days + 1
        months = sorted({(ctx.today + dt.timedelta(d)).month for d in range(days)})
        live_pct = ctx.pct.filter(F.col("month").isin(months))
        daily = forecast_batch(
            ctx.spark, ctx.models, live_pct, requests, ctx.today, ctx.max_date, move_types
        )
        table = daily.select(*FORECAST_KEY, *FORECAST_COLUMNS).toArrow()
        bodies = _forecast_bodies(table)
        return cls(
            branches=frozenset(branch for branch, _, _ in bodies),
            move_types=move_types,
            today=ctx.today,
            max_date=ctx.max_date,
            bodies=bodies,
            num_rows=table.num_rows,
            build_s=time.perf_counter() - t0,
        )

    def lookup(self, date: str, branch: int, move_type: str | None) -> bytes | None:
        """A request's response body, or None for a past date. The 400s
        raise as forecast_request raises them, and an unknown type is
        demoted to None."""
        input_date = check_request(date, branch, self.max_date, self.branches.__contains__)
        if input_date < self.today:
            return None
        if move_type not in self.move_types:
            move_type = None
        return self.bodies.get((branch, move_type, input_date))


FORECAST_KEY = ("branch", "move_type", "input_date")
FORECAST_COLUMNS = ("ds", "predicted_moves", "comment", "branch_forecast", "hist_avg")
# json.dumps of a str, without its per-call dispatch.
_json_str = json.encoder.encode_basestring_ascii


def _forecast_bodies(table: pa.Table) -> dict[tuple[int, str | None, dt.date], bytes]:
    """The /forecast/ body (the reference's shape, main.py:320-332) of
    every key of ``table`` (forecast_batch's rows, :data:`FORECAST_KEY` and
    :data:`FORECAST_COLUMNS`), as ``json.dumps`` would write it. The
    ``predicted_summary`` entries are built column by column, each distinct
    comment JSON-escaped once; only each key's period summary is Python."""
    table = table.sort_by([(k, "ascending") for k in (*FORECAST_KEY, "ds")])
    col = {c: table[c].combine_chunks() for c in table.column_names}
    # Each key's rows are contiguous after the sort: a key starts where any
    # key column differs from the row before.
    codes = [
        col["branch"].to_numpy(),
        pc.fill_null(pc.index_in(col["move_type"], pc.unique(col["move_type"])), -1).to_numpy(),
        col["input_date"].cast(pa.int32()).to_numpy(),
    ]
    change = np.logical_or.reduce([c[1:] != c[:-1] for c in codes])
    starts = np.flatnonzero(np.r_[table.num_rows > 0, change])
    ends = np.r_[starts[1:], table.num_rows]

    comment = col["comment"].dictionary_encode()
    escaped = pa.array([_json_str(c) for c in comment.dictionary.to_pylist()], pa.string())
    entries = pc.binary_join_element_wise(
        '{"date": "', col["ds"].cast(pa.string()), '", "predicted_moves": ',
        col["predicted_moves"].cast(pa.string()), ', "comment": ',
        escaped.take(comment.indices), "}", "",
    )
    offsets = pa.array(np.r_[starts, table.num_rows], pa.int32())
    summaries = pc.binary_join(pa.ListArray.from_arrays(offsets, entries), ", ")

    # Python values through numpy, which converts far faster than
    # to_pylist; hist_avg's nulls (branch-level rows only) become NaN and
    # are never read, since a branch-level summary does not use them.
    def values(array) -> list:
        return array.to_numpy(zero_copy_only=False).tolist()

    first = table.select([*FORECAST_KEY, "ds"]).take(starts)
    predicted, branch_forecast, hist_avg = (
        values(col[c]) for c in ("predicted_moves", "branch_forecast", "hist_avg")
    )
    type_json = {t: json.dumps(t) for t in set(values(first["move_type"].combine_chunks()))}
    bodies = {}
    for branch, move_type, input_date, first_ds, end_date, s, e, days in zip(
        *(values(first[c].combine_chunks()) for c in first.column_names),
        values(col["ds"].take(ends - 1).cast(pa.string())),
        starts.tolist(), ends.tolist(), values(summaries),
    ):
        total, average, summary_comment = _period_summary(
            branch, move_type, first_ds, predicted[s:e], branch_forecast[s:e], hist_avg[s:e]
        )
        bodies[branch, move_type, input_date] = (
            f'{{"branch": {branch}, "move_type": {type_json[move_type]}, '
            f'"forecast_window": {{"start_date": "{first_ds}", "end_date": "{end_date}"}}, '
            f'"predicted_summary": [{days}], "total_predicted_moves": {total}, '
            f'"average_daily_moves": {average}, "summary_comment": {_json_str(summary_comment)}}}'
        ).encode()
    return bodies


def _in_window(md, start: dt.date, end: dt.date):
    """plans.trends.historical_trends's calendar-window predicate on a
    ``month * 100 + day`` value (a Column or an int): the (month, day)
    tuple range from ``start`` to ``end``, which wraps past Dec 31 when
    ``end`` is the earlier tuple."""
    lo = start.month * 100 + start.day
    hi = end.month * 100 + end.day
    return (md >= lo) & (md <= hi) if lo <= hi else (md >= lo) | (md <= hi)


@dataclass(frozen=True)
class TrendsSurface:
    """Every fact-table day row a live /historical_trends/ window can
    admit, computed before the server binds: one aggregate over the cached
    fact table, filtered to ``years`` and to the (month, day) span of
    [today, max_date], grouped by the grouping sets (branch, type, ds) and
    (branch, ds). ``index`` maps (branch, move type, or None for the
    branch level) to its rows, sorted by ``ds``, each ``(month * 100 +
    day, year, 'MM-dd', moves)``. Read-only once built, so request threads
    share it without a lock."""

    index: dict[tuple[int, str | None], list[tuple[int, int, str, float]]]
    num_rows: int
    build_s: float

    @classmethod
    def build(cls, ctx: ServingContext) -> TrendsSurface:
        t0 = time.perf_counter()
        date = F.col(ctx.date_col)
        facts = ctx.facts.filter(F.year(date).between(*ctx.years))
        # Every window lies in [today, max_date]; a span shorter than a
        # year visits each (month, day) at most once, so its tuple range
        # holds every window's. A longer one needs no filter.
        if (ctx.max_date - ctx.today).days < 365:
            md = F.month(date) * 100 + F.dayofmonth(date)
            facts = facts.filter(_in_window(md, ctx.today, ctx.max_date))
        table = (
            facts.select(
                F.col(ctx.branch_col).alias("branch"),
                F.col(ctx.type_col).alias("move_type"),
                date.cast("date").alias("ds"),
                F.col(ctx.count_col).alias("n"),
            )
            .groupingSets(
                [["branch", "move_type", "ds"], ["branch", "ds"]], "branch", "move_type", "ds"
            )
            .agg(r2(F.sum("n")).alias("moves"), F.grouping("move_type").alias("branch_level"))
            .toArrow()
            .sort_by("ds")
        )
        index: dict = {}
        columns = ("branch", "move_type", "branch_level", "ds", "moves")
        for branch, move_type, branch_level, ds, moves in zip(
            *(table[c].to_pylist() for c in columns)
        ):
            if move_type is None and not branch_level:
                continue  # a NULL-type fact group: no request names it
            index.setdefault((branch, move_type), []).append(
                (ds.month * 100 + ds.day, ds.year, ds.strftime("%m-%d"), moves)
            )
        return cls(index=index, num_rows=table.num_rows, build_s=time.perf_counter() - t0)

    def lookup(self, branch: int, move_type: str | None, start: dt.date, end: dt.date) -> dict:
        """The window's day rows per year, each year's in ``ds`` order, as
        trends_request answers them; an unknown branch or type has none."""
        per_year: dict[int, list[dict]] = {}
        for md, year, month_day, moves in self.index.get((branch, move_type), ()):
            if _in_window(md, start, end):
                per_year.setdefault(year, []).append({"date": month_day, "moves": moves})
        return per_year


@dataclass
class ServingContext:
    """Everything a request needs, injected once at server start. Without
    a ``surface`` every forecast plans in Spark, and without a
    ``trends_surface`` every trends request builds a one-branch trends
    surface; :func:`serve` builds both."""

    spark: SparkSession
    models: DataFrame  # plans.training registry
    pct: DataFrame  # plans.percentages.compute_percentages output
    facts: DataFrame  # historical fact table (for /historical_trends/)
    branch_col: str
    date_col: str
    count_col: str
    type_col: str
    today: dt.date
    max_date: dt.date
    years: tuple[int, int]
    surface: ForecastSurface | None = None
    trends_surface: TrendsSurface | None = None


def _round_half_up(x: float, scale: int = 1) -> float:
    p = 10.0**scale
    return math.floor(x * p + 0.5) / p


def _request_fields(body: dict) -> tuple[str, int, str | None]:
    """``(date, branch, move_type)`` of a POST body; a missing date or
    branch, a branch that is not an integer, or a move type that is neither
    a string nor null (the reference's ``Optional[str]``) is a 400."""
    date = body.get("date")
    branch = body.get("branch")
    move_type = body.get("move_type")
    if not isinstance(date, str) or branch is None:
        raise RequestError("body must carry 'date' (YYYY-MM-DD) and 'branch'")
    try:
        branch = int(branch)
    except (TypeError, ValueError) as e:
        raise RequestError(f"branch must be an integer id, got {branch!r}") from e
    if not (move_type is None or isinstance(move_type, str)):
        raise RequestError(f"move_type must be a string or null, got {move_type!r}")
    return date, branch, move_type


def _no_job_group() -> None:
    pass


def _period_summary(
    branch: int,
    move_type: str | None,
    first_ds: dt.date,
    predicted: list[int],
    branch_forecast: list[float],
    hist_avg: list[float],
) -> tuple[int, int, str]:
    """``(total_predicted_moves, average_daily_moves, summary_comment)`` of
    a window's daily rows (``move_type`` is the served one, None after the
    silent demotion)."""
    # Period totals (main.py:290-291), as plans.forecast_tail.forecast_summary
    # computes them: Spark's avg of ≤7 small longs is an exact double sum
    # over an exact double count, half-up rounded.
    total = sum(predicted)
    average = math.floor(total / len(predicted) + 0.5)
    if move_type is None:
        return total, average, SUMMARY_NO_MOVE_TYPE.format(branch=branch)

    # Period summary comment (reference main.py:292-318): current share vs
    # the window's mean historical share, banded at ±5 pp.
    total_forecast = sum(branch_forecast)
    current = 100.0 * total / total_forecast if total_forecast > 0 else 0.0
    hist = sum(hist_avg) / len(hist_avg)
    diff = current - hist
    band = "consistent" if abs(diff) <= 5 else ("stronger" if diff > 5 else "weaker")
    idx = (branch * 31 + first_ds.month * 7 + first_ds.day) % 3
    return total, average, SUMMARY_BANKS[band][idx].format(
        move_type=move_type,
        branch=branch,
        current=_round_half_up(current),
        hist_avg=_round_half_up(hist),
    )


def forecast_response_dict(ctx: ServingContext, body: dict) -> dict:
    """POST /forecast/ — the reference's response shape (main.py:320-332)."""
    return json.loads(forecast_response(ctx, body)[0])


def forecast_response(
    ctx: ServingContext, body: dict, job_group: Callable[[], None] = _no_job_group
) -> tuple[bytes, bool]:
    """The /forecast/ response body, and whether the surface answered it.
    ``job_group`` runs right before the first Spark call, if any."""
    date, branch, move_type = _request_fields(body)

    surface = ctx.surface
    data = None if surface is None else surface.lookup(date, branch, move_type)
    if data is not None:
        return data, True
    job_group()
    daily, _ = forecast_request(
        ctx.spark, ctx.models, ctx.pct, date=date, branch=branch,
        move_type=move_type, today=ctx.today, max_date=ctx.max_date,
        move_types=None if surface is None else surface.move_types,
    )
    bodies = _forecast_bodies(daily.select(*FORECAST_KEY, *FORECAST_COLUMNS).toArrow())
    if not bodies:
        raise RequestError(f"no forecastable window for {date!r}")
    (data,) = bodies.values()
    return data, False


def trends_response_dict(ctx: ServingContext, body: dict) -> dict:
    """POST /historical_trends/ — per-year window rows (main.py:340-403)."""
    return json.loads(trends_response(ctx, body)[0])


def trends_response(
    ctx: ServingContext, body: dict, job_group: Callable[[], None] = _no_job_group
) -> tuple[bytes, bool]:
    """The /historical_trends/ response body, and whether the trends
    surface answered it. Without one, a trends surface of the request's
    branch is built for it. ``job_group`` runs right before the first Spark
    call, if any."""
    date, branch, move_type = _request_fields(body)
    start, end = forecast_window(parse_date(date), ctx.today, ctx.max_date)
    surface = ctx.trends_surface
    hit = surface is not None
    if not hit:
        job_group()
        branch_facts = ctx.facts.filter(F.col(ctx.branch_col) == branch)
        surface = TrendsSurface.build(dataclasses.replace(ctx, facts=branch_facts))
    per_year = surface.lookup(branch, move_type, start, end)
    payload = {
        "branch": branch,
        "move_type": move_type,
        "historical_trends": [
            {"year": y, "data": per_year.get(y, [])}
            for y in range(ctx.years[0], ctx.years[1] + 1)
        ],
        "window": {
            "start_date": str(start),
            "end_date": str(end),
        },
    }
    return json.dumps(payload).encode(), hit


class _JobGroup:
    """A request's Spark job group, set when the request first calls it:
    a request that makes no Spark call makes no py4j call either."""

    def __init__(self, sc, group: str, description: str) -> None:
        self.sc, self.group, self.description = sc, group, description
        self.is_set = False

    def __call__(self) -> None:
        if not self.is_set:
            self.sc.setJobGroup(self.group, self.description, False)
            self.is_set = True

    def close(self) -> int | None:
        """Clear the group and count its jobs (0 if it was never set)."""
        if not self.is_set:
            return 0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return _jobs_in_group(self.sc, self.group)


def _jobs_in_group(sc, group: str) -> int | None:
    """Spark jobs started under ``group``, after waiting (at most 5 s) for
    the listener bus, so the jobs of a call that just returned are all
    counted. None when the bus did not drain in time."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
    except Py4JJavaError:  # the bus's TimeoutException
        return None
    return len(sc.statusTracker().getJobIdsForGroup(group))


class _NeedsSpark(Exception):
    """Raised by the event loop's job-group hook: the request is about to
    call Spark, so it is answered again on the Spark executor."""


def _needs_spark() -> None:
    raise _NeedsSpark


# Threads for the requests that plan in Spark. Surface hits and 400s are
# answered on the event loop and never wait for them.
SPARK_THREADS = 4
# The most a request line with its headers, and a request body, may take.
HEADER_LIMIT = 64 * 1024
BODY_LIMIT = 1024 * 1024
WELCOME = json.dumps(
    {"message": "Move Forecast engine (Spark). POST /forecast/ or /historical_trends/."}
).encode()


def _detail(message: str) -> bytes:
    return json.dumps({"detail": message}).encode()


def _parse_head(head: bytes) -> tuple[str, str, dict[bytes, bytes]] | None:
    """``(method, path, headers)`` of an HTTP/1.x request head (the bytes up
    to and including the blank line, lines ending in CRLF), header names
    lower-cased; None when the request line or a header line is
    malformed."""
    request_line, *lines = head[:-4].split(b"\r\n")
    parts = request_line.split()
    if len(parts) != 3 or not parts[2].startswith(b"HTTP/"):
        return None
    headers = {}
    for line in lines:
        name, colon, value = line.partition(b":")
        if not colon:
            return None
        headers[name.strip().lower()] = value.strip()
    return parts[0].decode("latin-1"), parts[1].decode("latin-1"), headers


class Server:
    """The HTTP/1.0 server :func:`serve` returns: one asyncio event loop
    accepts every connection, reads its request (request line, headers up
    to the blank line, a ``Content-Length`` body) and answers surface hits,
    400s and the other statuses inline. A request that plans in Spark runs
    on a pool of :data:`SPARK_THREADS` threads under a job group of its
    own. Each request writes its JSON access-log line to stderr right
    before its response; the connection closes after it.

    Used like the stdlib servers: ``serve_forever()`` runs the loop in the
    calling thread until ``shutdown()`` (from another thread) stops it;
    ``server_close()`` releases the socket and the thread pool."""

    def __init__(self, ctx: ServingContext, host: str, port: int) -> None:
        self.ctx = ctx
        self.routes = {"/forecast/": forecast_response, "/historical_trends/": trends_response}
        self.socket = socket.create_server((host, port))
        self.server_address = self.socket.getsockname()[:2]
        self.pool = ThreadPoolExecutor(SPARK_THREADS, thread_name_prefix="spark-request")
        self.request_ids = itertools.count(1)  # names each Spark request's job group
        self._loop: asyncio.AbstractEventLoop | None = None
        self._stop: asyncio.Event | None = None
        self._stop_requested = threading.Event()
        self._stopped = threading.Event()
        self._stopped.set()

    def serve_forever(self) -> None:
        self._stopped.clear()
        try:
            asyncio.run(self._serve())
        finally:
            self._loop = None
            self._stop_requested.clear()
            self._stopped.set()

    def shutdown(self) -> None:
        """Stop ``serve_forever`` and wait for it to return; call it from
        another thread."""
        self._stop_requested.set()
        loop, stop = self._loop, self._stop
        if loop is not None:
            try:
                loop.call_soon_threadsafe(stop.set)
            except RuntimeError:  # the loop has already closed
                pass
        self._stopped.wait()

    def server_close(self) -> None:
        self.socket.close()
        self.pool.shutdown(wait=False, cancel_futures=True)

    async def _serve(self) -> None:
        self._loop, self._stop = asyncio.get_running_loop(), asyncio.Event()
        if self._stop_requested.is_set():  # shutdown() came before the loop
            return
        server = await asyncio.start_server(self._connection, sock=self.socket, limit=HEADER_LIMIT)
        async with server:
            await self._stop.wait()

    async def _connection(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        try:
            await self._exchange(reader, writer)
        except (asyncio.IncompleteReadError, asyncio.LimitOverrunError, ConnectionError):
            pass  # the client left mid-request, or its head is over HEADER_LIMIT: no response
        finally:
            writer.close()

    async def _exchange(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        head = await reader.readuntil(b"\r\n\r\n")
        t0 = time.perf_counter()
        request = _parse_head(head)
        method, path, hit, jobs = "", None, False, 0
        if request is None:
            status, data = 400, _detail("malformed request line or header")
        else:
            method, path, headers = request
            if method in ("GET", "HEAD"):
                status, data = (200, WELCOME) if path == "/" else (404, _detail("not found"))
            elif method != "POST":
                status, data = 501, _detail(f"unsupported method {method!r}")
            elif path not in self.routes:
                status, data = 404, _detail("not found")
            elif not headers.get(b"content-length", b"").isdigit():
                status, data = 400, _detail("a POST needs a numeric Content-Length")
            elif int(headers[b"content-length"]) > BODY_LIMIT:
                status, data = 413, _detail(f"bodies are capped at {BODY_LIMIT} bytes")
            else:
                body = await reader.readexactly(int(headers[b"content-length"]))
                status, data, hit, jobs = await self._answer(path, body)
        entry = {
            "path": path,
            "status": status,
            "ms": round(1000.0 * (time.perf_counter() - t0), 3),
            "spark_jobs": jobs,
            "surface_hit": hit,
        }
        sys.stderr.write(json.dumps(entry) + "\n")
        sys.stderr.flush()
        writer.write(
            f"HTTP/1.0 {status} {HTTPStatus(status).phrase}\r\n"
            f"Content-Type: application/json\r\nContent-Length: {len(data)}\r\n\r\n".encode()
        )
        if method != "HEAD":
            writer.write(data)
        await writer.drain()

    async def _answer(self, path: str, body: bytes) -> tuple[int, bytes, bool, int | None]:
        """``(status, body, surface hit, Spark jobs)`` of a POST: on the
        loop when the request makes no Spark call, else on the pool."""
        try:
            request = json.loads(body or b"{}")
        except ValueError as e:  # not JSON, or not UTF-8
            return 400, _detail(str(e)), False, 0
        if not isinstance(request, dict):
            return 400, _detail("body must be a JSON object"), False, 0
        try:
            return (*self._route(path, request, _needs_spark), 0)
        except _NeedsSpark:
            pass
        job_group = _JobGroup(
            self.ctx.spark.sparkContext, f"http-{next(self.request_ids)}", f"POST {path}"
        )
        return await asyncio.get_running_loop().run_in_executor(
            self.pool, self._answer_in_spark, path, request, job_group
        )

    def _answer_in_spark(
        self, path: str, request: dict, job_group: _JobGroup
    ) -> tuple[int, bytes, bool, int | None]:
        """:meth:`_answer` for a request that calls Spark, on a pool thread:
        its jobs are counted before the loop sends its response."""
        return (*self._route(path, request, job_group), job_group.close())

    def _route(
        self, path: str, request: dict, job_group: Callable[[], None]
    ) -> tuple[int, bytes, bool]:
        """``(status, body, surface hit)`` of a POST body; a
        :class:`_NeedsSpark` from ``job_group`` propagates."""
        try:
            return (200, *self.routes[path](self.ctx, request, job_group))
        except _NeedsSpark:
            raise
        except RequestError as e:
            return 400, _detail(str(e)), False  # main.py:425-427
        except Exception as e:  # pragma: no cover - 500 path
            return 500, _detail(f"Server error: {e}"), False


def serve(ctx: ServingContext, host: str = "127.0.0.1", port: int = 0) -> Server:
    """Build the forecast and trends surfaces that ``ctx`` lacks, then bind
    and return the server (call ``serve_forever`` yourself, or use a daemon
    thread in tests/CLI). Port 0 picks a free port."""
    if ctx.surface is None:
        ctx = dataclasses.replace(ctx, surface=ForecastSurface.build(ctx))
    if ctx.trends_surface is None:
        ctx = dataclasses.replace(ctx, trends_surface=TrendsSurface.build(ctx))
    return Server(ctx, host, port)
