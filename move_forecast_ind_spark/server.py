"""HTTP serving facade — the reference's FastAPI surface on the Spark engine.

The reference serves POST /forecast/ and POST /historical_trends/ via
FastAPI+uvicorn with pydantic validation (reference main.py:124-127,
410-447). This module provides the same three endpoints on the Python
standard library only (``http.server.ThreadingHTTPServer``) — no external
web framework exists in this environment, and none is needed for request/
response JSON over a thread pool:

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
max_date]) as one plans.service.forecast_batch, collected once into an
Arrow table. The :class:`TrendsSurface` holds every fact-table day row a
live /historical_trends/ window can ask for, from one aggregate over the
cached fact table. A request on either endpoint whose move type is a
string or null is answered from its surface: it fires no Spark job and
makes no py4j call. A past-date forecast, a non-string move type, and
any request on a context without a surface (the CLI ``forecast``
command) plans one Spark query through plans.service instead of ~30
(resp. 6) DB round-trips (see plans.service for its job count).

A request that plans in Spark sets a Spark job group of its own right
before its first Spark call. The server writes one JSON access-log line
per request to stderr: ``path``, ``status``, ``ms``, ``spark_jobs`` (the
jobs of its job group; 0 when it set none) and ``surface_hit``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import itertools
import json
import math
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

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
    trends_request,
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
    table. ``index`` maps (branch, move type, input date) to its rows'
    (offset, length) in ``rows``, which is sorted by that key and ``ds``.
    Read-only once built, so request threads share it without a lock."""

    branches: frozenset[int]
    move_types: tuple[str, ...]
    today: dt.date
    max_date: dt.date
    rows: pa.Table
    index: dict[tuple[int, str | None, dt.date], tuple[int, int]]
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
        keys = ["branch", "move_type", "input_date"]
        table = daily.select(
            *keys, "ds", "predicted_moves", "comment", "branch_forecast", "hist_avg"
        ).toArrow()
        table = table.sort_by([(k, "ascending") for k in [*keys, "ds"]])
        # Each key's rows are contiguous after the sort: a key starts
        # where any key column differs from the row before.
        codes = [
            table["branch"].to_numpy(),
            pc.fill_null(pc.index_in(table["move_type"], pa.array(move_types, pa.string())), -1)
            .to_numpy(),
            table["input_date"].cast(pa.int32()).to_numpy(),
        ]
        change = np.logical_or.reduce([c[1:] != c[:-1] for c in codes])
        starts = np.flatnonzero(np.r_[table.num_rows > 0, change])
        counts = np.diff(np.r_[starts, table.num_rows])
        first = table.select(keys).take(starts)
        index = dict(
            zip(
                zip(*(first[k].to_pylist() for k in keys)),
                zip(starts.tolist(), counts.tolist()),
            )
        )
        return cls(
            branches=frozenset(branch for branch, _, _ in index),
            move_types=move_types,
            today=ctx.today,
            max_date=ctx.max_date,
            rows=table,
            index=index,
            build_s=time.perf_counter() - t0,
        )

    def lookup(self, date: str, branch: int, move_type) -> list[dict] | None:
        """A request's daily rows, sorted by ``ds``, or None when the
        request is outside the surface (a past date, a move type that is
        neither a string nor None). The 400s raise as forecast_request
        raises them, and an unknown string type is demoted to None."""
        input_date = check_request(date, branch, self.max_date, self.branches.__contains__)
        if input_date < self.today or not (move_type is None or isinstance(move_type, str)):
            return None
        if move_type not in self.move_types:
            move_type = None
        span = self.index.get((branch, move_type, input_date))
        return None if span is None else self.rows.slice(*span).to_pylist()


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
    ``trends_surface`` every trends request does; :func:`serve` builds
    both."""

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
    branch, or a branch that is not an integer, is a 400."""
    date = body.get("date")
    branch = body.get("branch")
    if not isinstance(date, str) or branch is None:
        raise RequestError("body must carry 'date' (YYYY-MM-DD) and 'branch'")
    try:
        branch = int(branch)
    except (TypeError, ValueError) as e:
        raise RequestError(f"branch must be an integer id, got {branch!r}") from e
    return date, branch, body.get("move_type")


def _no_job_group() -> None:
    pass


def forecast_response_dict(ctx: ServingContext, body: dict) -> dict:
    """POST /forecast/ — the reference's response shape (main.py:320-332)."""
    return forecast_response(ctx, body)[0]


def forecast_response(
    ctx: ServingContext, body: dict, job_group: Callable[[], None] = _no_job_group
) -> tuple[dict, bool]:
    """The /forecast/ response, and whether the surface answered it.
    ``job_group`` runs right before the first Spark call, if any."""
    date, branch, move_type = _request_fields(body)

    surface = ctx.surface
    rows = None if surface is None else surface.lookup(date, branch, move_type)
    hit = rows is not None
    if not hit:
        job_group()
        daily, _ = forecast_request(
            ctx.spark, ctx.models, ctx.pct, date=date, branch=branch,
            move_type=move_type, today=ctx.today, max_date=ctx.max_date,
            move_types=None if surface is None else surface.move_types,
        )
        rows = sorted(daily.collect(), key=lambda r: r.ds)  # ≤7 rows: the payload
    if not rows:
        raise RequestError(f"no forecastable window for {date!r}")
    served_move_type = rows[0]["move_type"]  # None after silent demotion

    # Period totals (main.py:290-291), as plans.forecast_tail.forecast_summary
    # computes them: Spark's avg of ≤7 small longs is an exact double sum
    # over an exact double count, half-up rounded.
    total = sum(r["predicted_moves"] for r in rows)
    average = math.floor(total / len(rows) + 0.5)

    # Period summary comment (reference main.py:292-318): current share vs
    # the window's mean historical share, banded at ±5 pp.
    total_forecast = sum(r["branch_forecast"] for r in rows)
    if served_move_type is None:
        summary_comment = SUMMARY_NO_MOVE_TYPE.format(branch=branch)
    else:
        current = 100.0 * total / total_forecast if total_forecast > 0 else 0.0
        hist_avg = sum(r["hist_avg"] for r in rows) / len(rows)
        diff = current - hist_avg
        band = "consistent" if abs(diff) <= 5 else ("stronger" if diff > 5 else "weaker")
        idx = (branch * 31 + rows[0]["ds"].month * 7 + rows[0]["ds"].day) % 3
        summary_comment = SUMMARY_BANKS[band][idx].format(
            move_type=served_move_type,
            branch=branch,
            current=_round_half_up(current),
            hist_avg=_round_half_up(hist_avg),
        )

    return {
        "branch": branch,
        "move_type": served_move_type,
        "forecast_window": {
            "start_date": rows[0]["ds"].strftime("%Y-%m-%d"),
            "end_date": rows[-1]["ds"].strftime("%Y-%m-%d"),
        },
        "predicted_summary": [
            {
                "date": r["ds"].strftime("%Y-%m-%d"),
                "predicted_moves": int(r["predicted_moves"]),
                "comment": r["comment"],
            }
            for r in rows
        ],
        "total_predicted_moves": total,
        "average_daily_moves": average,
        "summary_comment": summary_comment,
    }, hit


def trends_response_dict(ctx: ServingContext, body: dict) -> dict:
    """POST /historical_trends/ — per-year window rows (main.py:340-403)."""
    return trends_response(ctx, body)[0]


def trends_response(
    ctx: ServingContext, body: dict, job_group: Callable[[], None] = _no_job_group
) -> tuple[dict, bool]:
    """The /historical_trends/ response, and whether the trends surface
    answered it. ``job_group`` runs right before the first Spark call, if
    any."""
    date, branch, move_type = _request_fields(body)
    start, end = forecast_window(parse_date(date), ctx.today, ctx.max_date)

    surface = ctx.trends_surface
    hit = surface is not None and (move_type is None or isinstance(move_type, str))
    if hit:
        per_year = surface.lookup(branch, move_type, start, end)
    else:
        job_group()
        nested = trends_request(
            ctx.spark, ctx.facts, branch_col=ctx.branch_col, date_col=ctx.date_col,
            count_col=ctx.count_col, date=date, branch=branch, move_type=move_type,
            type_col=ctx.type_col, today=ctx.today, max_date=ctx.max_date,
            years=ctx.years,
        )
        per_year = {}
        for r in nested.collect():  # one row per year: the payload
            per_year[int(r.year)] = [
                {"date": d.split(":")[0], "moves": float(d.split(":")[1])}
                for d in (r.days.split(",") if r.days else [])
            ]
    return {
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
    }, hit


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


def make_handler(ctx: ServingContext):
    request_ids = itertools.count(1)  # names each request's job group
    routes = {
        "/forecast/": forecast_response,
        "/historical_trends/": trends_response,
    }
    sc = ctx.spark.sparkContext

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # the access log replaces it
            pass

        def _send(self, code: int, payload: dict, head_only: bool = False) -> None:
            data = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            if not head_only:
                self.wfile.write(data)

        def _respond(self, method: str) -> None:
            """Answer one request, under a Spark job group of its own if it
            calls Spark, then write its JSON access-log line to stderr."""
            t0 = time.perf_counter()
            job_group = _JobGroup(sc, f"http-{next(request_ids)}", f"{method} {self.path}")
            status, hit = 500, False
            try:
                status, payload, hit = self._route(method, job_group)
                self._send(status, payload, head_only=method == "HEAD")
            finally:
                ms = 1000.0 * (time.perf_counter() - t0)
                entry = {
                    "path": self.path,
                    "status": status,
                    "ms": round(ms, 3),
                    "spark_jobs": job_group.close(),
                    "surface_hit": hit,
                }
                sys.stderr.write(json.dumps(entry) + "\n")
                sys.stderr.flush()

        def _route(self, method: str, job_group: _JobGroup) -> tuple[int, dict, bool]:
            if method in ("GET", "HEAD"):
                if self.path != "/":
                    return 404, {"detail": "not found"}, False
                message = "Move Forecast engine (Spark). POST /forecast/ or /historical_trends/."
                return 200, {"message": message}, False
            fn = routes.get(self.path)
            if fn is None:
                return 404, {"detail": "not found"}, False
            try:
                length = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(length) or b"{}")
                if not isinstance(body, dict):
                    raise RequestError("body must be a JSON object")
                payload, hit = fn(ctx, body, job_group)
                return 200, payload, hit
            except (RequestError, json.JSONDecodeError) as e:
                return 400, {"detail": str(e)}, False  # main.py:425-427
            except Exception as e:  # pragma: no cover - 500 path
                return 500, {"detail": f"Server error: {e}"}, False

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            self._respond("GET")

        def do_HEAD(self) -> None:  # noqa: N802
            self._respond("HEAD")

        def do_POST(self) -> None:  # noqa: N802
            self._respond("POST")

    return Handler


def _jobs_in_group(sc, group: str) -> int | None:
    """Spark jobs started under ``group``, after waiting (at most 5 s) for
    the listener bus, so the jobs of a call that just returned are all
    counted. None when the bus did not drain in time."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
    except Py4JJavaError:  # the bus's TimeoutException
        return None
    return len(sc.statusTracker().getJobIdsForGroup(group))


def serve(ctx: ServingContext, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Build the forecast and trends surfaces that ``ctx`` lacks, then bind
    and return the server (call ``serve_forever`` yourself, or use a daemon
    thread in tests/CLI). Port 0 picks a free port."""
    if ctx.surface is None:
        ctx = dataclasses.replace(ctx, surface=ForecastSurface.build(ctx))
    if ctx.trends_surface is None:
        ctx = dataclasses.replace(ctx, trends_surface=TrendsSurface.build(ctx))
    return ThreadingHTTPServer((host, port), make_handler(ctx))
