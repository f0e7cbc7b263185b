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
``datetime.now()`` — SURVEY.md §5.4), and every request plans one Spark
query through plans.service instead of ~30 DB round-trips: a /forecast/
runs 3 to 11 Spark jobs (see plans.service), a /historical_trends/ 7
(sf0.001, counted per job group).

The ≤7-row ``.collect()`` per request happens at the API boundary only —
that is the response payload, and the period totals are summed from it.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from .functions.datetime_fns import forecast_window
from .plans.service import RequestError, forecast_request, parse_date, trends_request

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


@dataclass
class ServingContext:
    """Everything a request needs, injected once at server start."""

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
    date, branch, move_type = _request_fields(body)

    daily, _ = forecast_request(
        ctx.spark, ctx.models, ctx.pct, date=date, branch=branch,
        move_type=move_type, today=ctx.today, max_date=ctx.max_date,
    )
    rows = sorted(daily.collect(), key=lambda r: r.ds)  # ≤7 rows: the payload
    if not rows:
        raise RequestError(f"no forecastable window for {date!r}")
    served_move_type = rows[0].move_type  # None after silent demotion

    # Period totals (main.py:290-291), as plans.forecast_tail.forecast_summary
    # computes them: Spark's avg of ≤7 small longs is an exact double sum
    # over an exact double count, half-up rounded.
    total = sum(r.predicted_moves for r in rows)
    average = math.floor(total / len(rows) + 0.5)

    # Period summary comment (reference main.py:292-318): current share vs
    # the window's mean historical share, banded at ±5 pp.
    total_forecast = sum(r.branch_forecast for r in rows)
    if served_move_type is None:
        summary_comment = SUMMARY_NO_MOVE_TYPE.format(branch=branch)
    else:
        current = 100.0 * total / total_forecast if total_forecast > 0 else 0.0
        hist_avg = sum(r.hist_avg for r in rows) / len(rows)
        diff = current - hist_avg
        band = "consistent" if abs(diff) <= 5 else ("stronger" if diff > 5 else "weaker")
        idx = (branch * 31 + rows[0].ds.month * 7 + rows[0].ds.day) % 3
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
            "start_date": rows[0].ds.strftime("%Y-%m-%d"),
            "end_date": rows[-1].ds.strftime("%Y-%m-%d"),
        },
        "predicted_summary": [
            {
                "date": r.ds.strftime("%Y-%m-%d"),
                "predicted_moves": int(r.predicted_moves),
                "comment": r.comment,
            }
            for r in rows
        ],
        "total_predicted_moves": total,
        "average_daily_moves": average,
        "summary_comment": summary_comment,
    }


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
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet by default
            pass

        def _send(self, code: int, payload: dict, head_only: bool = False) -> None:
            data = json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            if not head_only:
                self.wfile.write(data)

        def _root(self, head_only: bool = False) -> None:
            self._send(
                200,
                {"message": "Move Forecast engine (Spark). POST /forecast/ "
                 "or /historical_trends/."},
                head_only,
            )

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            if self.path == "/":
                self._root()
            else:
                self._send(404, {"detail": "not found"})

        def do_HEAD(self) -> None:  # noqa: N802
            if self.path == "/":
                self._root(head_only=True)
            else:
                self._send(404, {"detail": "not found"})

        def do_POST(self) -> None:  # noqa: N802
            routes = {
                "/forecast/": forecast_response_dict,
                "/historical_trends/": trends_response_dict,
            }
            fn = routes.get(self.path)
            if fn is None:
                self._send(404, {"detail": "not found"})
                return
            try:
                length = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(length) or b"{}")
                if not isinstance(body, dict):
                    raise RequestError("body must be a JSON object")
                self._send(200, fn(ctx, body))
            except (RequestError, json.JSONDecodeError) as e:
                self._send(400, {"detail": str(e)})  # main.py:425-427
            except Exception as e:  # pragma: no cover - 500 path
                self._send(500, {"detail": f"Server error: {e}"})

    return Handler


def serve(ctx: ServingContext, host: str = "127.0.0.1", port: int = 0) -> ThreadingHTTPServer:
    """Bind and return the server (call ``serve_forever`` yourself, or use
    a daemon thread in tests/CLI). Port 0 picks a free port."""
    return ThreadingHTTPServer((host, port), make_handler(ctx))
