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

Before :func:`serve` binds its port it builds a :class:`ForecastSurface`:
every live forecast (each model branch × each known move type and
``None`` × each input date in [today, max_date]) as one
plans.service.forecast_batch, collected once into an Arrow table. A
/forecast/ in that domain is answered from the table and runs no Spark
job. A past date or a non-string move type, and any forecast from a
context without a surface (the CLI ``forecast`` command), plans one Spark
query through plans.service instead of ~30 DB round-trips (see
plans.service for its job count); a /historical_trends/ always does.

Each request runs under a Spark job group of its own, and the server
writes one JSON access-log line per request to stderr: ``path``,
``status``, ``ms``, ``spark_jobs`` (the jobs of its job group) and
``surface_hit``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import itertools
import json
import math
import sys
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetime_fns import forecast_window
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


@dataclass
class ServingContext:
    """Everything a request needs, injected once at server start. Without
    a ``surface`` every forecast plans in Spark; :func:`serve` builds one."""

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


def forecast_response_dict(ctx: ServingContext, body: dict) -> dict:
    """POST /forecast/ — the reference's response shape (main.py:320-332)."""
    return forecast_response(ctx, body)[0]


def forecast_response(ctx: ServingContext, body: dict) -> tuple[dict, bool]:
    """The /forecast/ response, and whether the surface answered it."""
    date, branch, move_type = _request_fields(body)

    surface = ctx.surface
    rows = None if surface is None else surface.lookup(date, branch, move_type)
    hit = rows is not None
    if not hit:
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
    date, branch, move_type = _request_fields(body)

    nested = trends_request(
        ctx.spark, ctx.facts, branch_col=ctx.branch_col, date_col=ctx.date_col,
        count_col=ctx.count_col, date=date, branch=branch, move_type=move_type,
        type_col=ctx.type_col, today=ctx.today, max_date=ctx.max_date,
        years=ctx.years,
    )
    start, end = forecast_window(parse_date(date), ctx.today, ctx.max_date)
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
    }


def make_handler(ctx: ServingContext):
    request_ids = itertools.count(1)  # names each request's job group
    routes = {
        "/forecast/": forecast_response,
        "/historical_trends/": lambda c, body: (trends_response_dict(c, body), False),
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
            """Answer one request under a Spark job group of its own, then
            write its JSON access-log line to stderr."""
            t0 = time.perf_counter()
            group = f"http-{next(request_ids)}"
            sc.setJobGroup(group, f"{method} {self.path}", False)
            status, hit = 500, False
            try:
                status, payload, hit = self._route(method)
                self._send(status, payload, head_only=method == "HEAD")
            finally:
                ms = 1000.0 * (time.perf_counter() - t0)
                sc.setLocalProperty("spark.jobGroup.id", None)
                entry = {
                    "path": self.path,
                    "status": status,
                    "ms": round(ms, 3),
                    "spark_jobs": _jobs_in_group(sc, group, drain=not hit),
                    "surface_hit": hit,
                }
                sys.stderr.write(json.dumps(entry) + "\n")
                sys.stderr.flush()

        def _route(self, method: str) -> tuple[int, dict, bool]:
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
                payload, hit = fn(ctx, body)
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


def _jobs_in_group(sc, group: str, drain: bool) -> int | None:
    """Spark jobs started under ``group``. ``drain`` first waits (at most
    5 s) for the listener bus, so the jobs of a call that just returned are
    all counted; a request that made no Spark call needs no wait. None when
    the bus did not drain in time."""
    if drain:
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
        except Py4JJavaError:  # the bus's TimeoutException
            return None
    return len(sc.statusTracker().getJobIdsForGroup(group))


def serve(ctx: ServingContext, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Build the forecast surface unless ``ctx`` carries one, then bind and
    return the server (call ``serve_forever`` yourself, or use a daemon
    thread in tests/CLI). Port 0 picks a free port."""
    if ctx.surface is None:
        ctx = dataclasses.replace(ctx, surface=ForecastSurface.build(ctx))
    return ThreadingHTTPServer((host, port), make_handler(ctx))
