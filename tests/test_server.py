"""HTTP facade tests: the reference's FastAPI surface served by the
package's asyncio event-loop server over real request/response JSON
(move_forecast_ind_spark/server.py), against the sf0.001 lake."""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import random
import threading
import time
import urllib.error
import urllib.request

import pytest

from conftest import SF_SMALL

TODAY = dt.date(1999, 6, 1)
MAX = dt.date(1999, 7, 31)


@pytest.fixture(scope="module")
def ctx(spark):
    from move_forecast_ind_spark.plans.percentages import compute_percentages
    from move_forecast_ind_spark.plans.training import train_models
    from move_forecast_ind_spark.queries.ml import _daily_series
    from move_forecast_ind_spark.server import ServingContext
    from move_forecast_ind_spark.sources import load_table

    li = load_table(spark, SF_SMALL, "lineitem").cache()
    yield ServingContext(
        spark=spark,
        models=train_models(_daily_series(spark, SF_SMALL), cutoff="1998-12-31").cache(),
        pct=compute_percentages(
            li, "l_suppkey", "l_returnflag", "l_shipdate", "l_quantity"
        ).cache(),
        facts=li,
        branch_col="l_suppkey",
        date_col="l_shipdate",
        count_col="l_quantity",
        type_col="l_returnflag",
        today=TODAY,
        max_date=MAX,
        years=(1995, 1998),
    )
    # Uncache everything, the CLI's serving context included: a cached
    # lineitem would make every later scan of the same parquet an
    # InMemoryRelation, hiding PushedFilters from the plan-shape tests
    # (order-dependent cross-test leak).
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def surface_ctx(ctx):
    """``ctx`` with the forecast and trends surfaces built, as ``serve``
    builds them."""
    from move_forecast_ind_spark.server import ForecastSurface, TrendsSurface

    return dataclasses.replace(
        ctx, surface=ForecastSurface.build(ctx), trends_surface=TrendsSurface.build(ctx)
    )


@pytest.fixture(scope="module")
def server(surface_ctx):
    from move_forecast_ind_spark.server import serve

    srv = serve(surface_ctx)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    t.join(timeout=60)
    assert not t.is_alive()


def _post(url: str, path: str, body: dict):
    req = urllib.request.Request(
        url + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_root_endpoint(server):
    with urllib.request.urlopen(server + "/") as resp:
        assert resp.status == 200
        assert "Forecast" in json.loads(resp.read())["message"]


def test_forecast_endpoint_end_to_end(server):
    status, out = _post(
        server, "/forecast/", {"date": "1999-06-03", "branch": 7, "move_type": "R"}
    )
    assert status == 200
    assert out["branch"] == 7 and out["move_type"] == "R"
    days = out["predicted_summary"]
    assert 1 <= len(days) <= 7
    assert all(
        isinstance(d["predicted_moves"], int) and d["predicted_moves"] >= 0
        for d in days
    )
    assert [d["date"] for d in days] == sorted(d["date"] for d in days)
    assert out["total_predicted_moves"] == sum(d["predicted_moves"] for d in days)
    assert out["forecast_window"]["start_date"] == days[0]["date"]
    assert out["summary_comment"]  # banded phrase with current vs hist share
    assert "R" in out["summary_comment"]


def test_forecast_unknown_move_type_demoted(server):
    """Silent demotion (reference main.py:204-209): unknown type → None,
    100% of the branch forecast, branch-level summary comment."""
    status, out = _post(
        server, "/forecast/", {"date": "1999-06-03", "branch": 7, "move_type": "ZZ"}
    )
    assert status == 200
    assert out["move_type"] is None
    assert out["summary_comment"].startswith("Branch-level forecast")


def _days(counts, comments):
    return [
        {"date": f"1999-06-0{i + 1}", "predicted_moves": n, "comment": c}
        for i, (n, c) in enumerate(zip(counts, comments))
    ]


# Served JSON for branch 7 on 1999-06-03 at sf0.001, captured from the
# separate single-request planner the one-row batch replaced.
PINNED_R = {
    "branch": 7,
    "move_type": "R",
    "forecast_window": {"start_date": "1999-06-01", "end_date": "1999-06-07"},
    "predicted_summary": _days(
        [27, 28, 27, 27, 28, 27, 27],
        [
            "volumes trending below the seasonal average (87.0% hist, 55.1% now)",
            "demand is running behind the usual pace (100.0% hist, 56.0% now)",
            "expect a typical day for this season (55.6% hist, 56.3% now)",
            "volumes trending above the seasonal average (0.0% hist, 56.3% now)",
            "demand is running behind the usual pace (90.9% hist, 56.0% now)",
            "expect a quieter day than the historical norm (100.0% hist, 55.1% now)",
            "volumes trending below the seasonal average (83.3% hist, 56.3% now)",
        ],
    ),
    "total_predicted_moves": 191,
    "average_daily_moves": 27,
    "summary_comment": "R volume share is running light at branch 7 (55.8% against 73.8%)",
}
PINNED_BRANCH_LEVEL = {
    "branch": 7,
    "move_type": None,
    "forecast_window": {"start_date": "1999-06-01", "end_date": "1999-06-07"},
    "predicted_summary": _days(
        [49, 50, 48, 48, 50, 49, 48],
        ["branch-level forecast; no move type specified"] * 7,
    ),
    "total_predicted_moves": 342,
    "average_daily_moves": 49,
    "summary_comment": "Branch-level forecast for branch 7, all move types combined.",
}
PINNED = {"R": PINNED_R, None: PINNED_BRANCH_LEVEL, "ZZ": PINNED_BRANCH_LEVEL}


@pytest.mark.skipif(not SF_SMALL.endswith("sf0.001"), reason="pinned at sf0.001")
def test_forecast_served_json_pinned(server):
    """The served bytes for a typed, a branch-level and a demoted request."""
    for move_type, expected in PINNED.items():
        body = {"date": "1999-06-03", "branch": 7, "move_type": move_type}
        req = urllib.request.Request(
            server + "/forecast/", data=json.dumps(body).encode(), method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.read() == json.dumps(expected).encode()


def test_surface_bodies_are_canonical_json(surface_ctx):
    """Every body of the forecast surface is the JSON ``json.dumps`` writes
    for its own value, and its days run one by one inside [today,
    max_date]; the pinned bodies above fix the values."""
    surface = surface_ctx.surface
    assert surface.bodies
    for key, body in surface.bodies.items():
        out = json.loads(body)
        assert json.dumps(out).encode() == body, key
        days = [dt.date.fromisoformat(d["date"]) for d in out["predicted_summary"]]
        assert surface.today <= days[0] and days[-1] <= surface.max_date, key
        assert all((b - a).days == 1 for a, b in zip(days, days[1:])), key


def test_cli_forecast_prints_served_json(spark, ctx, capsys):
    """``forecast`` and ``trends`` print the /forecast/ and
    /historical_trends/ response JSON; an unknown branch and a bad date
    exit 2 with the 400 detail on stderr."""
    from move_forecast_ind_spark.__main__ import main
    from move_forecast_ind_spark.server import forecast_response_dict, trends_response_dict

    argv = ["forecast", "--date", "1999-06-03", "--sf-dir", SF_SMALL,
            "--today", str(TODAY), "--max-date", str(MAX)]
    # the CLI builds its session with get_spark's defaults: restore ours
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for move_type in PINNED:
            extra = [] if move_type is None else ["--move-type", move_type]
            assert main([*argv, "--branch", "7", *extra]) == 0
            body = {"date": "1999-06-03", "branch": 7, "move_type": move_type}
            expected = json.dumps(forecast_response_dict(ctx, body))
            assert capsys.readouterr().out == expected + "\n"
        assert main([*argv, "--branch", "999"]) == 2
        err = capsys.readouterr()
        assert err.out == "" and "unknown branch" in err.err
        trends = ["trends", *argv[1:], "--branch", "7"]
        assert main([*trends, "--move-type", "R"]) == 0
        body = {"date": "1999-06-03", "branch": 7, "move_type": "R"}
        cli_ctx = dataclasses.replace(ctx, years=(1995, 2000))  # the CLI's years
        expected = json.dumps(trends_response_dict(cli_ctx, body))
        assert capsys.readouterr().out == expected + "\n"
        trends[trends.index("--date") + 1] = "1999/06/03"
        assert main(trends) == 2
        err = capsys.readouterr()
        assert err.out == "" and "YYYY-MM-DD" in err.err
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)


def _forecast_or_400(ctx, body) -> tuple[str, bool]:
    """The /forecast/ response as served (its JSON bytes, or its 400
    detail), and whether the surface answered it."""
    from move_forecast_ind_spark.plans.service import RequestError
    from move_forecast_ind_spark.server import forecast_response

    try:
        data, hit = forecast_response(ctx, body)
        return data.decode(), hit
    except RequestError as e:
        return f"400 {e}", False


def _equivalence_sample(surface, n: int = 300) -> list[tuple[str, dict]]:
    """A seeded sample of (kind, body): live dates (uniform, today-clamped,
    max-clamped), past dates and the three 400s, crossed with known, None,
    unknown-letter, empty and non-string move types."""
    rng = random.Random(20261019)
    branches = sorted(surface.branches)
    unknown = next(c for c in "ZYXWVUTS" if c not in surface.move_types)
    types = [*surface.move_types, None, unknown, "", 5]
    span = (MAX - TODAY).days
    # input-date offsets from today, per kind; the 400 kinds use live dates
    offsets = {"today_clamped": (0, 2), "max_clamped": (span - 2, span),
               "past": (-400, -1), "capped": (span + 1, span + 365)}
    sample = []
    for i in range(n):
        kind = rng.choices(
            ["live", "today_clamped", "max_clamped", "past", "bad_date", "capped",
             "unknown_branch"],
            weights=[50, 10, 10, 10, 5, 5, 10],
        )[0]
        day = TODAY + dt.timedelta(rng.randint(*offsets.get(kind, (0, span))))
        body = {
            "date": str(day).replace("-", "/") if kind == "bad_date" else str(day),
            "branch": max(branches) + rng.randint(1, 1000)
            if kind == "unknown_branch" else rng.choice(branches),
            "move_type": types[i % len(types)],
        }
        sample.append((kind, body))
    return sample


def test_surface_matches_per_request_path(ctx, surface_ctx):
    """Every request in a seeded sample gets the same bytes, or the same
    400 detail, from the surface as from the per-request Spark path."""
    from concurrent.futures import ThreadPoolExecutor

    sample = _equivalence_sample(surface_ctx.surface)
    kinds = {k for k, _ in sample}
    assert kinds == {"live", "today_clamped", "max_clamped", "past", "bad_date",
                     "capped", "unknown_branch"}
    with ThreadPoolExecutor(4) as pool:  # the per-request path costs ~0.5 s
        served = list(pool.map(lambda kb: _forecast_or_400(surface_ctx, kb[1]), sample))
        planned = list(pool.map(lambda kb: _forecast_or_400(ctx, kb[1]), sample))
    assert [out for out, _ in served] == [out for out, _ in planned]
    assert not any(hit for _, hit in planned)
    for (kind, body), (out, hit) in zip(sample, served):
        answered = not out.startswith("400")
        assert hit == (answered and kind != "past"), (kind, body)
    assert {out.split(" ", 2)[1] for out, _ in served if out.startswith("400")} == {
        "date", "forecasts", "unknown", "move_type"
    }  # all four 400s
    known = surface_ctx.surface.move_types
    demoted = [
        json.loads(out) for (_, body), (out, _) in zip(sample, served)
        if isinstance(body["move_type"], str) and body["move_type"] not in known
        and not out.startswith("400")
    ]
    assert demoted and all(d["move_type"] is None for d in demoted)


def _access_log(capsys) -> list[dict]:
    """The access-log lines the server wrote to stderr since the last read
    (each is written before its response is sent)."""
    return [json.loads(x) for x in capsys.readouterr().err.splitlines()
            if x.startswith('{"path"')]


def _jvm_jobs(spark) -> int:
    """Spark jobs the JVM has started so far: the DAG scheduler's next job
    id, which a job submitted from any thread or job group advances."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_surface_hit_fires_no_spark_job(server, spark, capsys):
    """A live-domain /historical_trends/ and /forecast/ are answered from
    their surfaces: the JVM starts no job for them, and their access-log
    lines read 0 jobs. A past-date forecast plans in Spark and logs the
    jobs of its own job group."""
    capsys.readouterr()
    body = {"date": "1999-06-20", "branch": 7, "move_type": "R"}
    jobs = _jvm_jobs(spark)
    for path in ("/historical_trends/", "/forecast/"):
        assert _post(server, path, body)[0] == 200
    assert _jvm_jobs(spark) == jobs
    assert _post(server, "/forecast/", {**body, "date": "1999-05-20"})[0] == 200
    trends, hit, miss = _access_log(capsys)
    assert trends["path"] == "/historical_trends/"
    assert hit["path"] == miss["path"] == "/forecast/"
    for entry in (trends, hit):
        assert entry["surface_hit"] is True and entry["spark_jobs"] == 0
    assert miss["surface_hit"] is False and miss["spark_jobs"] > 0
    assert trends["status"] == hit["status"] == miss["status"] == 200 and hit["ms"] >= 0


def _trends_served(ctx, body) -> tuple[str, bool]:
    """The /historical_trends/ response as served (its JSON bytes, or the
    400 detail), and whether it planned in Spark, i.e. called its job-group
    hook."""
    from move_forecast_ind_spark.plans.service import RequestError
    from move_forecast_ind_spark.server import trends_response

    planned, hit = [], None
    try:
        data, hit = trends_response(ctx, body, lambda: planned.append(True))
        out = data.decode()
    except RequestError as e:
        out = f"400 {e}"
    assert hit is None or hit != bool(planned)
    return out, bool(planned)


def _trends_reference(ctx, body) -> str:
    """The /historical_trends/ response (its JSON, or the 400 detail) from
    the registered per-request query plans.service.trends_request, its
    nested ``"MM-dd:moves,…"`` rows shaped into the reference's payload."""
    from move_forecast_ind_spark.functions.datetime_fns import forecast_window
    from move_forecast_ind_spark.plans.service import RequestError, parse_date, trends_request
    from move_forecast_ind_spark.server import _request_fields

    try:
        date, branch, move_type = _request_fields(body)
        nested = trends_request(
            ctx.spark, ctx.facts, branch_col=ctx.branch_col, date_col=ctx.date_col,
            count_col=ctx.count_col, date=date, branch=branch, move_type=move_type,
            type_col=ctx.type_col, today=ctx.today, max_date=ctx.max_date, years=ctx.years,
        )
    except RequestError as e:
        return f"400 {e}"
    start, end = forecast_window(parse_date(date), ctx.today, ctx.max_date)
    per_year = {
        int(r.year): [
            {"date": day, "moves": float(moves)}
            for day, moves in (d.split(":") for d in (r.days.split(",") if r.days else []))
        ]
        for r in nested.collect()  # one row per year
    }
    return json.dumps({
        "branch": branch,
        "move_type": move_type,
        "historical_trends": [
            {"year": y, "data": per_year.get(y, [])}
            for y in range(ctx.years[0], ctx.years[1] + 1)
        ],
        "window": {"start_date": str(start), "end_date": str(end)},
    })


def _trends_sample(ctx, surface, n: int, anchors: list[str]) -> list[dict]:
    """A seeded sample of trends bodies: ``anchors`` dates on every branch,
    then dates in [today, max_date], past dates, dates after max_date
    (trends has no horizon cap), unknown branches and the two 400s of a
    bad date and a missing branch, crossed with the known types, None,
    "ZZ", "" and the non-string types 5, 5.0 and true; last, a bad date
    with a null and with a non-string type (the type is checked first)."""
    rng = random.Random(20261020)
    branches = sorted({b for b, _ in surface.index})
    known = sorted({t for _, t in surface.index if t is not None})
    types = [*known, None, "ZZ", "", 5, 5.0, True]
    span = (ctx.max_date - ctx.today).days
    offsets = {"live": (0, span), "past": (-400, -1), "future": (span + 1, span + 400)}
    sample = [{"date": a, "branch": b, "move_type": None} for a in anchors for b in branches]
    for i in range(n):
        kind = rng.choices([*offsets, "unknown_branch", "bad_date", "no_branch"],
                           weights=[55, 15, 10, 10, 5, 5])[0]
        day = ctx.today + dt.timedelta(rng.randint(*offsets.get(kind, offsets["live"])))
        body = {
            "date": str(day).replace("-", "/") if kind == "bad_date" else str(day),
            "branch": max(branches) + rng.randint(1, 1000)
            if kind == "unknown_branch" else rng.choice(branches),
            "move_type": types[i % len(types)],
        }
        if kind == "no_branch":
            del body["branch"]
        sample.append(body)
    bad_date = str(ctx.today).replace("-", "/")
    sample += [{"date": bad_date, "branch": branches[0], "move_type": t} for t in (None, 5)]
    return sample


@pytest.mark.parametrize(
    "today, max_date, anchors",
    [
        (TODAY, MAX, []),
        # [today, max_date] crosses Dec 31: windows Dec 28 -> Jan 3 wrap
        (dt.date(1998, 12, 20), dt.date(1999, 1, 20), ["1998-12-31"]),
        # crosses February of a non-leap year: the Feb 26 -> Mar 4 window
        # admits 1996-02-29 on the Spark path
        (dt.date(1999, 2, 20), dt.date(1999, 3, 10), ["1999-03-01"]),
    ],
    ids=["live", "year_wrap", "feb29"],
)
def test_trends_surface_matches_per_request_path(ctx, today, max_date, anchors):
    """Every request in a seeded sample gets the same bytes or the same 400
    detail from the full trends surface, and from the one-branch surface a
    context without one builds per request, as from the registered
    per-request query trends_request. A non-string move type is a 400
    before any Spark call, so no request on the full surface plans in
    Spark."""
    from concurrent.futures import ThreadPoolExecutor

    from move_forecast_ind_spark.server import TrendsSurface

    base = dataclasses.replace(ctx, today=today, max_date=max_date)
    surface = TrendsSurface.build(base)
    served_ctx = dataclasses.replace(base, trends_surface=surface)
    sample = _trends_sample(base, surface, 80 if not anchors else 40, anchors)
    with ThreadPoolExecutor(4) as pool:  # each Spark-path request costs ~0.3 s
        served = list(pool.map(lambda b: _trends_served(served_ctx, b), sample))
        planned = list(pool.map(lambda b: _trends_served(base, b), sample))
        reference = list(pool.map(lambda b: _trends_reference(base, b), sample))
    assert [out for out, _ in served] == reference
    assert [out for out, _ in planned] == reference
    for body, (out, served_planned), (_, base_planned) in zip(sample, served, planned):
        rejected = out.startswith("400")
        assert rejected or not isinstance(body["move_type"], (int, float))
        assert base_planned == (not rejected)
        assert not served_planned
    details = {out.split(" ", 2)[1] for out, _ in served if out.startswith("400")}
    assert details == {"date", "body", "move_type"}  # bad date, no branch, non-string type
    assert [out.split(" ", 2)[1] for out, _ in served[-2:]] == ["date", "move_type"]
    answers = [json.loads(out) for out, _ in served if out.startswith("{")]
    assert any(a["move_type"] == "ZZ" for a in answers) and any(a["move_type"] == "" for a in answers)
    days = {(y["year"], d["date"]) for a in answers for y in a["historical_trends"] for d in y["data"]}
    if "1999-03-01" in anchors:
        assert (1996, "02-29") in days
    if "1998-12-31" in anchors:
        wrapped = [y for a in answers if a["window"]["start_date"] == "1998-12-28"
                   for y in a["historical_trends"]]
        assert any({d["date"][:2] for d in y["data"]} == {"12", "01"} for y in wrapped)


def test_serve_stderr_is_one_json_line_per_request(tmp_path):
    """``serve`` as users start it: its first stdout line reports both
    surfaces, and each access-log line of its stderr parses as JSON from
    column 0, with no console progress bar sharing the line. Each line is
    written before its response, so right after the last response the log
    holds every request's line, in request order."""
    import os
    import select
    import signal
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    err_path = tmp_path / "serve.err"
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, "-m", "move_forecast_ind_spark", "serve", "--sf-dir", SF_SMALL,
             "--port", "0", "--today", str(TODAY), "--max-date", str(MAX)],
            cwd=repo, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
            text=True, start_new_session=True,
        )
    try:
        assert select.select([proc.stdout], [], [], 600)[0], "serve did not start"
        started = json.loads(proc.stdout.readline())
        assert list(started) == ["serving", "surface_rows", "surface_s", "trends_rows", "trends_s"]
        assert started["trends_rows"] > 0 and started["trends_s"] > 0
        requests = [
            ("/forecast/", {"date": "1999-05-20", "branch": 7, "move_type": "R"}),  # Spark
            ("/historical_trends/", {"date": "1999-06-03", "branch": 7}),
            ("/forecast/", {"date": "1999-06-03", "branch": 7}),
            ("/historical_trends/", {"date": "1999/06/03", "branch": 7}),  # 400
        ]
        for path, body in requests:
            try:
                _post(started["serving"], path, body)
            except urllib.error.HTTPError as e:
                assert e.code == 400
        logged = [line for line in err_path.read_bytes().decode().split("\n") if '"path"' in line]
    finally:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait(timeout=60)
        proc.stdout.close()
    assert [line[:9] for line in logged] == ['{"path": '] * len(requests), logged
    entries = [(e["path"], e["surface_hit"]) for e in map(json.loads, logged)]
    assert entries == list(zip((path for path, _ in requests), [False, True, True, False]))


def test_forecast_validation_errors(server):
    for body, frag in [
        ({"date": "1999/06/03", "branch": 7}, "YYYY-MM-DD"),
        ({"date": "1999-08-15", "branch": 7}, "capped"),
        ({"date": "1999-06-03", "branch": 10**9}, "unknown branch"),
        ({"date": "1999-06-03"}, "branch"),
        ({"date": "1999-06-03", "branch": "x"}, "integer"),
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(server, "/forecast/", body)
        assert e.value.code == 400
        assert frag in json.loads(e.value.read())["detail"]


def test_trends_endpoint(server):
    status, out = _post(
        server, "/historical_trends/", {"date": "1999-06-03", "branch": 7}
    )
    assert status == 200
    assert out["branch"] == 7
    years = [y["year"] for y in out["historical_trends"]]
    assert years == [1995, 1996, 1997, 1998]
    # at least one year has day rows, each shaped {date: 'MM-DD', moves}
    flat = [d for y in out["historical_trends"] for d in y["data"]]
    assert flat and all(len(d["date"]) == 5 and d["moves"] > 0 for d in flat)
    assert out["window"]["start_date"] == "1999-06-01"


def test_unknown_path_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/nope/", {})
    assert e.value.code == 404


def test_surface_hits_never_wait_for_spark(server, spark, capsys):
    """A past-date /forecast/ plans in Spark on the server's thread pool.
    40 concurrent surface hits sent while its jobs run all return 200
    before it does, and their access-log lines read 0 Spark jobs: the event
    loop never waits for Spark."""
    from concurrent.futures import ThreadPoolExecutor

    def timed_post(path: str, body: dict) -> tuple[int, float]:
        status = _post(server, path, body)[0]
        return status, time.monotonic()

    capsys.readouterr()
    hits = [
        (path, {"date": f"1999-06-{1 + i % 30:02d}", "branch": 7, "move_type": move_type})
        for i, (path, move_type) in enumerate(
            [("/forecast/", "R"), ("/forecast/", None), ("/historical_trends/", "N")] * 14
        )
    ][:40]
    jobs = _jvm_jobs(spark)
    with ThreadPoolExecutor(len(hits) + 1) as pool:
        slow = pool.submit(timed_post, "/forecast/", {"date": "1999-04-11", "branch": 3, "move_type": "R"})
        deadline = time.monotonic() + 60
        while _jvm_jobs(spark) == jobs and time.monotonic() < deadline:
            time.sleep(0.002)  # until the Spark request has started a job
        fast = [pool.submit(timed_post, path, body) for path, body in hits]
        fast_results = [f.result(timeout=60) for f in fast]
        slow_status, slow_end = slow.result(timeout=120)
    assert slow_status == 200 and [status for status, _ in fast_results] == [200] * len(hits)
    assert max(end for _, end in fast_results) < slow_end
    log = _access_log(capsys)
    assert len(log) == len(hits) + 1
    planned = [e for e in log if not e["surface_hit"]]
    assert len(planned) == 1 and planned[0]["spark_jobs"] > 0
    assert all(e["spark_jobs"] == 0 for e in log if e["surface_hit"])


def _raw_exchange(url: str, data: bytes, close_write: bool = False) -> bytes:
    """Send ``data`` on a new connection and return every byte the server
    answers until it closes the connection (b"" for no response)."""
    import socket

    host, port = url.removeprefix("http://").rsplit(":", 1)
    with socket.create_connection((host, int(port)), timeout=30) as sock:
        try:
            sock.sendall(data)
            if close_write:
                sock.shutdown(socket.SHUT_WR)
        except OSError:  # the server closed before reading it all
            pass
        chunks = []
        try:
            while chunk := sock.recv(65536):
                chunks.append(chunk)
        except ConnectionResetError:
            pass
    return b"".join(chunks)


@pytest.mark.parametrize(
    "data, close_write, status",
    [
        (b"POST /forecast/ HTTP/1.0\r\n\r\n", False, 400),
        (b"POST /forecast/ HTTP/1.0\r\nContent-Length: ten\r\n\r\n", False, 400),
        (b"POST /forecast/ HTTP/1.0\r\nContent-Length: -1\r\n\r\n", False, 400),
        # the body is never sent: the 413 comes without reading it
        (b"POST /forecast/ HTTP/1.0\r\nContent-Length: 2097152\r\n\r\n", False, 413),
        (b"GET / HTTP/1.0\r\nX-Pad: " + b"a" * 70_000 + b"\r\n\r\n", False, None),
        (b"POST /forecast/ HTTP/1.0\r\nContent-Length: 100\r\n\r\n{\"date\"", True, None),
        (b"GET /", True, None),
        (b"NOT-HTTP\r\n\r\n", False, 400),
        (b"GET / HTTP/1.0\r\nno colon\r\n\r\n", False, 400),
        (b"PUT / HTTP/1.0\r\n\r\n", False, 501),
        (b"DELETE /forecast/ HTTP/1.1\r\nHost: x\r\n\r\n", False, 501),
    ],
    ids=["no_length", "text_length", "negative_length", "body_over_cap", "head_over_limit",
         "closed_mid_body", "closed_mid_head", "bad_request_line", "bad_header", "put", "delete"],
)
def test_http_parser_edges(server, data, close_write, status):
    """Malformed or oversized requests get their 4xx/501 (None: the server
    closes without a response), and the server keeps serving."""
    response = _raw_exchange(server, data, close_write)
    if status is None:
        assert response == b""
    else:
        assert response.startswith(f"HTTP/1.0 {status} ".encode()), response[:100]
        assert "detail" in json.loads(response.partition(b"\r\n\r\n")[2])
    with urllib.request.urlopen(server + "/") as resp:
        assert resp.status == 200


def test_head_sends_headers_only(server):
    head, sep, rest = _raw_exchange(server, b"HEAD / HTTP/1.0\r\n\r\n").partition(b"\r\n\r\n")
    assert head.startswith(b"HTTP/1.0 200 OK") and sep and rest == b""
    lines = dict(line.split(b": ", 1) for line in head.split(b"\r\n")[1:])
    with urllib.request.urlopen(server + "/") as resp:
        assert int(lines[b"Content-Length"]) == len(resp.read())


# Builds the serving context the way `serve` does, from a cwd outside the
# repo with the package importable only through sys.path, serves one
# move-type and one branch-level forecast, and lists the process tree.
OUTSIDE_REPO_SERVE = r'''
import datetime as dt, json, os, sys
sys.path.insert(0, sys.argv[1])
from move_forecast_ind_spark.plans.percentages import compute_percentages
from move_forecast_ind_spark.plans.training import train_models
from move_forecast_ind_spark.queries.ml import CUTOFF, _daily_series
from move_forecast_ind_spark.server import ServingContext, forecast_response_dict
from move_forecast_ind_spark.session import get_spark
from move_forecast_ind_spark.sources import load_table

sf = sys.argv[2]
spark = get_spark("outside-repo")
li = load_table(spark, sf, "lineitem").cache()
ctx = ServingContext(
    spark=spark,
    models=train_models(_daily_series(spark, sf), cutoff=CUTOFF).cache(),
    pct=compute_percentages(
        li, branch_col="l_suppkey", type_col="l_returnflag",
        date_col="l_shipdate", count_col="l_quantity",
    ).cache(),
    facts=li, branch_col="l_suppkey", date_col="l_shipdate",
    count_col="l_quantity", type_col="l_returnflag",
    today=dt.date(1999, 6, 1), max_date=dt.date(1999, 7, 31),
    years=(1995, 2000),
)
windows = [
    len(forecast_response_dict(
        ctx, {"date": "1999-06-03", "branch": 7, "move_type": mt}
    )["predicted_summary"])
    for mt in ("R", None)
]

children = {}
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        continue
    children.setdefault(ppid, []).append((int(pid), cmd))
descendants, todo = [], [os.getpid()]
while todo:
    for pid, cmd in children.get(todo.pop(), []):
        descendants.append(cmd)
        todo.append(pid)
print(json.dumps({"windows": windows, "descendants": descendants}))
spark.stop()
'''


def test_serves_from_outside_repo_without_python_workers(tmp_path):
    """A driver started outside the repo root, with the package on sys.path
    only, serves /forecast/: the serve path (fit included) runs no Python
    worker, so no pyspark.daemon is ever started and nothing in a worker
    has to import the package."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", OUTSIDE_REPO_SERVE, repo, SF_SMALL],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["windows"] == [7, 7]
    assert [c for c in out["descendants"] if "SparkSubmit" in c], out  # the JVM
    assert not [c for c in out["descendants"] if "pyspark.daemon" in c], out
