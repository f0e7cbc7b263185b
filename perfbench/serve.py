"""``serve_mixed``: the HTTP server as users launch it, under a closed loop
of clients sending a seeded mix of /forecast/, /historical_trends/ and
invalid requests. Every response is checked."""

from __future__ import annotations

import datetime as dt
import http.client
import itertools
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path

from common import OUT_DIR, ROOT, JobTracer, engine_env, latency_summary, nproc, quantile, tree_cpu_s

# The program's default serving scale: sf0.01, 100 branches.
SCALE = "sf0.01"
# One block of the request stream, in this order: 15 forecasts (three of
# each move-type variant), 4 trends (one per variant) and 1 invalid request,
# i.e. 75/20/5 %. The timed phase sends whole blocks, so every run measures
# the same mix in the same order; the seed picks the keys (branch, date).
BLOCK = (
    "forecast", "forecast", "forecast", "forecast", "trends",
    "forecast", "forecast", "forecast", "forecast", "trends",
    "forecast", "forecast", "forecast", "forecast", "trends",
    "forecast", "forecast", "forecast", "invalid", "trends",
)
INVALID_KINDS = ("bad_date", "capped_date", "unknown_branch")
# Requests sent concurrently after the first 200 and before timing starts:
# the first of each plan shape pays its code generation.
WARMUP_REQUESTS = 4
REQUEST_TIMEOUT_S = 60.0
SPAWN_TIMEOUT_S = 150.0
# Traced run: requests per kind, one per move-type variant, so the job counts
# do not depend on the seed.
TRACED_FORECASTS = 5
TRACED_TRENDS = 4
# Traced run: HTTP-overhead probes per invalid request drawn.
HTTP_PROBES = 20


@dataclass(frozen=True)
class Domain:
    """What a request may name, read from the data and the program's
    defaults, never written into the benchmark."""

    branches: tuple[int, ...]
    move_types: tuple[str, ...]
    today: dt.date
    max_date: dt.date
    years: tuple[int, int]

    @classmethod
    def load(cls, sf_dir: Path) -> Domain:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from move_forecast_ind_spark.__main__ import DEFAULT_MAX, DEFAULT_TODAY

        li = pq.read_table(sf_dir / "lineitem.parquet", columns=["l_suppkey", "l_returnflag"])
        return cls(
            branches=tuple(sorted(pc.unique(li["l_suppkey"]).to_pylist())),
            move_types=tuple(sorted(t for t in pc.unique(li["l_returnflag"]).to_pylist() if t)),
            today=dt.date.fromisoformat(DEFAULT_TODAY),
            max_date=dt.date.fromisoformat(DEFAULT_MAX),
            years=(1995, 2000),  # the years the serve command passes
        )


@dataclass(frozen=True)
class Request:
    kind: str  # forecast | trends | invalid
    path: str
    body: dict


def request_stream(seed: int, dom: Domain, salt: str):
    """Endless stream of whole blocks, deterministic in (``salt``, ``seed``).

    Forecast move types cycle over the data's types, ``None`` and one type
    the data lacks (which the server demotes to ``null``); trends over the
    data's types and ``None``. Dates are uniform over [today, max_date],
    branches uniform over the data's, so keys rarely repeat."""
    rng = random.Random(f"{salt}-{seed}")
    unknown = rng.choice([c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ" if c not in dom.move_types])
    forecast_types = itertools.cycle((*dom.move_types, None, unknown))
    trend_types = itertools.cycle((*dom.move_types, None))
    span = (dom.max_date - dom.today).days

    def day() -> str:
        return str(dom.today + dt.timedelta(days=rng.randint(0, span)))

    for block_no in itertools.count():
        bad = INVALID_KINDS[block_no % len(INVALID_KINDS)]
        for kind in BLOCK:
            body = {"date": day(), "branch": rng.choice(dom.branches), "move_type": None}
            if kind == "forecast":
                body["move_type"] = next(forecast_types)
                yield Request(kind, "/forecast/", body)
            elif kind == "trends":
                body["move_type"] = next(trend_types)
                yield Request(kind, "/historical_trends/", body)
            else:
                if bad == "bad_date":
                    body["date"] = body["date"].replace("-", "/")
                elif bad == "capped_date":
                    body["date"] = str(dom.max_date + dt.timedelta(days=rng.randint(1, 365)))
                else:
                    body["branch"] = max(dom.branches) + rng.randint(1, 1000)
                yield Request(kind, "/forecast/", body)


def whole_blocks(stream, seconds: float):
    """Requests from ``stream`` in whole blocks, until a block ends more than
    ``seconds`` after the first was taken."""
    deadline = time.perf_counter() + seconds
    while True:
        yield from itertools.islice(stream, len(BLOCK))
        if time.perf_counter() >= deadline:
            return


def _window(window: dict, dom: Domain) -> tuple[bool, dt.date, dt.date]:
    start = dt.date.fromisoformat(window["start_date"])
    end = dt.date.fromisoformat(window["end_date"])
    return dom.today <= start <= end <= dom.max_date, start, end


def check_forecast(req: Request, out: dict, dom: Domain) -> bool:
    want_type = req.body["move_type"]
    if want_type not in dom.move_types:
        want_type = None  # unknown types are silently demoted
    ok, start, end = _window(out["forecast_window"], dom)
    days = out["predicted_summary"]
    dates = [str(start + dt.timedelta(days=i)) for i in range((end - start).days + 1)]
    return (
        ok
        and out["branch"] == req.body["branch"]
        and out["move_type"] == want_type
        and 1 <= len(days) <= 7
        and [d["date"] for d in days] == dates
        and out["total_predicted_moves"] == sum(d["predicted_moves"] for d in days)
        and all(d["predicted_moves"] >= 0 for d in days)
    )


def check_trends(req: Request, out: dict, dom: Domain) -> bool:
    ok, start, end = _window(out["window"], dom)
    lo, hi = start.strftime("%m-%d"), end.strftime("%m-%d")
    years = [y["year"] for y in out["historical_trends"]]
    return (
        ok
        and out["branch"] == req.body["branch"]
        and out["move_type"] == req.body["move_type"]
        and years == list(range(dom.years[0], dom.years[1] + 1))
        and all(
            lo <= d["date"] <= hi and d["moves"] >= 0
            for y in out["historical_trends"]
            for d in y["data"]
        )
    )


def check(req: Request, status: int, out, dom: Domain) -> bool:
    """A response is correct when its status class matches the request's
    (200, or 400 for an invalid request) and its payload holds the
    endpoint's invariants."""
    if req.kind == "invalid":
        return status == 400 and isinstance(out, dict) and "detail" in out
    if status != 200 or not isinstance(out, dict):
        return False
    try:
        fn = check_forecast if req.kind == "forecast" else check_trends
        return fn(req, out, dom)
    except (KeyError, TypeError, ValueError):
        return False


def post(host: str, port: int, req: Request) -> tuple[int, object]:
    conn = http.client.HTTPConnection(host, port, timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request(
            "POST", req.path, body=json.dumps(req.body),
            headers={"Content-Type": "application/json"},
        )
        resp = conn.getresponse()
        data = resp.read()
        try:
            return resp.status, json.loads(data)
        except ValueError:
            return resp.status, None
    finally:
        conn.close()


class Server:
    """``python -m move_forecast_ind_spark serve`` in its own process group,
    cwd = repo root, stdout and stderr to files (Spark's warnings would fill
    an unread pipe and stall requests)."""

    def __init__(self, sf_dir: Path):
        OUT_DIR.mkdir(exist_ok=True)
        self.out_path = OUT_DIR / "serve_mixed.out"
        self.err_path = OUT_DIR / "serve_mixed.err"
        with open(self.out_path, "w") as out, open(self.err_path, "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "move_forecast_ind_spark", "serve",
                 "--sf-dir", str(sf_dir), "--port", "0"],
                cwd=ROOT, env=engine_env(), stdout=out, stderr=err,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
        try:
            self.host, self.port = self._await_address()
        except BaseException:
            self.stop()
            raise

    def _await_address(self) -> tuple[str, int]:
        deadline = time.monotonic() + SPAWN_TIMEOUT_S
        while time.monotonic() < deadline and self.proc.poll() is None:
            line = self.out_path.read_text().partition("\n")[0]
            if line.endswith("}"):
                url = json.loads(line)["serving"]
                host, port = url.removeprefix("http://").rsplit(":", 1)
                return host, int(port)
            time.sleep(0.05)
        raise RuntimeError(f"server did not start; see {self.err_path}")

    def stop(self) -> None:
        """SIGINT to the process group (the CLI's clean exit), SIGKILL if it
        has not exited within 30 s. What outlives the server process (the
        JVM, Spark's Python worker daemon, which leaves the group) is stopped
        by ``common.stop_descendants`` before the benchmark exits."""
        try:
            os.killpg(self.proc.pid, signal.SIGINT)
            self.proc.wait(timeout=30)
        except ProcessLookupError:
            pass
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait(timeout=30)


def closed_loop(address: tuple[str, int], requests, dom: Domain, clients: int, until):
    """``clients`` threads share the endless ``requests`` iterator of
    (phase, Request) pairs; each sends its next request when its last one
    has returned.

    Returns the records (phase, kind, start, end, correct) as soon as
    ``until(records)`` holds, and the threads. Requests still in flight are
    cut off when the server stops, and are not recorded."""
    lock = threading.Lock()
    records = []
    done = threading.Event()

    def client() -> None:
        while not done.is_set():
            with lock:
                phase, req = next(requests)
            t = time.perf_counter()
            try:
                status, out = post(*address, req)
            except OSError:
                status, out = 0, None  # timeout or refused: a failure
            end = time.perf_counter()
            ok = check(req, status, out, dom)
            with lock:
                if done.is_set():
                    return
                records.append((phase, req.kind, t, end, ok))
                if until(records):
                    done.set()

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for th in threads:
        th.start()
    done.wait(timeout=900)
    with lock:
        done.set()
        return list(records), threads


def http_phase(sf_dir: Path, dom: Domain, seed: int, clients: int, seconds: float) -> dict:
    """Spawn the server and time it until the first /forecast/ returns 200
    (set-up). Then, from ``clients`` clients without a pause: warm-up
    requests, whole blocks of the timed stream for at least ``seconds``, and
    unrecorded cool-down requests until the last timed one returns, so every
    timed request runs at full concurrency."""
    warm = request_stream(seed, dom, "warmup")
    t_spawn = time.perf_counter()
    server = Server(sf_dir)
    address = (server.host, server.port)
    threads = []
    try:
        first = next(r for r in warm if r.kind == "forecast")
        status, out = post(*address, first)
        setup_s = time.perf_counter() - t_spawn
        if not check(first, status, out, dom):
            raise RuntimeError(f"first /forecast/ failed: {status} {out}")
        phase = {"setup_s": setup_s}
        issued = {"timed": 0, "closed": False}

        def requests():
            for r in itertools.islice(warm, WARMUP_REQUESTS):
                yield "warm", r
            phase["cpu_start_s"] = tree_cpu_s(server.proc.pid)
            for r in whole_blocks(request_stream(seed, dom, "timed"), seconds):
                issued["timed"] += 1
                yield "timed", r
            issued["closed"] = True
            for r in request_stream(seed, dom, "cooldown"):
                yield "cool", r

        def timed_done(records) -> bool:
            if issued["closed"] and sum(r[0] == "timed" for r in records) == issued["timed"]:
                phase["cpu_end_s"] = tree_cpu_s(server.proc.pid)
                return True
            return False

        phase["records"], threads = closed_loop(address, requests(), dom, clients, timed_done)
        return phase
    finally:
        server.stop()
        for th in threads:
            th.join(timeout=60)


def run(args, sf_dir: Path) -> dict:
    dom = Domain.load(sf_dir)
    if args.trace:
        return traced(args.seed, sf_dir, dom)
    clients = nproc()
    phase = http_phase(sf_dir, dom, args.seed, clients, args.seconds)
    records = [r for r in phase["records"] if r[0] != "cool"]
    timed = [r for r in records if r[0] == "timed"]
    ok = [r for r in timed if r[4]]
    forecasts = [r[3] - r[2] for r in ok if r[1] == "forecast"]
    trends = [r[3] - r[2] for r in ok if r[1] == "trends"]
    mean_latency = sum(r[3] - r[2] for r in timed) / len(timed)
    window = max(r[3] for r in timed) - min(r[2] for r in timed)
    lat = latency_summary(forecasts)
    metrics = {
        "setup_s": phase["setup_s"],
        "geomean_ms": lat["geomean_ms"],
        # Every client is busy from before the first timed request to after
        # the last, so by Little's law throughput = clients / mean latency;
        # unlike completions / window it does not hinge on two edge events.
        "ops_per_s": clients / mean_latency * len(ok) / len(timed),
        "cpu_ms_per_op": 1000.0 * (phase["cpu_end_s"] - phase["cpu_start_s"]) / len(timed),
    }
    detail = {
        "forecast_p50_ms": lat["p50_ms"],
        "forecast_p90_ms": lat["p90_ms"],
        "trends_p50_ms": quantile(trends, 0.5) * 1000.0 if trends else None,
        "req_per_s": metrics["ops_per_s"],
        "completed_per_s": len(ok) / window,
        "timed_s": window,
        "sent": {k: sum(1 for r in timed if r[1] == k) for k in ("forecast", "trends", "invalid")},
    }
    return {
        "metrics": metrics,
        "attempted": 1 + len(records),
        "failed": sum(1 for r in records if not r[4]),
        "detail": detail,
    }


def traced(seed: int, sf_dir: Path, dom: Domain) -> dict:
    """The per-layer pass, in-process: a serving context built the way the
    serve command builds it, each layer called from outside; the program's
    HTTP server on that context for the HTTP overhead; then the refresh
    layers. The timed HTTP workload is not run: tracing cannot reach into
    the server process, so its numbers would not change."""
    from common import start_spark, stop_spark
    from move_forecast_ind_spark.plans.percentages import compute_percentages
    from move_forecast_ind_spark.plans.service import RequestError, forecast_request, trends_request
    from move_forecast_ind_spark.plans.training import train_models
    from move_forecast_ind_spark.queries.ml import CUTOFF, _daily_series
    from move_forecast_ind_spark.server import (
        ServingContext,
        forecast_response_dict,
        serve,
        trends_response_dict,
    )
    from move_forecast_ind_spark.sources import load_table
    from refresh import layer_pass

    def fresh(kind: str, salt: str) -> list[Request]:
        """Requests on keys not sent before: the engine's first call on a
        key costs more than a repeat (keys rarely repeat in serve_mixed)."""
        n = {"forecast": TRACED_FORECASTS, "trends": TRACED_TRENDS}.get(kind, len(INVALID_KINDS))
        stream = (r for r in request_stream(seed, dom, salt) if r.kind == kind)
        return list(itertools.islice(stream, n))

    failed = 0
    spark, start_s = start_spark()
    try:
        tr = JobTracer(spark)
        sf = str(sf_dir)
        li = load_table(spark, sf, "lineitem").cache()
        models = train_models(_daily_series(spark, sf), cutoff=CUTOFF).cache()
        pct = compute_percentages(
            li, branch_col="l_suppkey", type_col="l_returnflag",
            date_col="l_shipdate", count_col="l_quantity",
        ).cache()
        for name, frame in (("models", models), ("pct", pct), ("facts", li)):
            with tr.span(f"serve.setup.{name}"):
                frame.count()
        ctx = ServingContext(
            spark=spark, models=models, pct=pct, facts=li,
            branch_col="l_suppkey", date_col="l_shipdate", count_col="l_quantity",
            type_col="l_returnflag", today=dom.today, max_date=dom.max_date,
            years=dom.years,
        )
        for req in fresh("forecast", "warmup") + fresh("trends", "warmup")[:1]:
            handler = forecast_response_dict if req.kind == "forecast" else trends_response_dict
            handler(ctx, req.body)  # warm-up: every plan shape once
        srv = serve(ctx, port=0)
        th = threading.Thread(target=srv.serve_forever, daemon=True)
        th.start()
        untraced, traced_walls, http_walls, direct_walls = [], [], [], []
        try:
            # Untraced and traced calls alternate, each on a fresh key, so
            # neither warming over the loop nor key reuse counts as overhead.
            for plain, req in zip(fresh("forecast", "untraced"), fresh("forecast", "handler")):
                t = time.perf_counter()
                failed += not check(plain, 200, forecast_response_dict(ctx, plain.body), dom)
                untraced.append(time.perf_counter() - t)
                t = time.perf_counter()
                with tr.span("server.forecast_handler"):
                    out = forecast_response_dict(ctx, req.body)
                traced_walls.append(time.perf_counter() - t)
                failed += not check(req, 200, out, dom)
            # The HTTP layer's own cost, on requests the handler rejects
            # before any Spark work (bad date format): over HTTP through the
            # program's server on this context, and called directly.
            invalid = [r for r in fresh("invalid", "http") if "/" in r.body["date"]]
            for req in invalid * HTTP_PROBES:
                t = time.perf_counter()
                failed += not check(req, *post(*srv.server_address[:2], req), dom)
                http_walls.append(time.perf_counter() - t)
                t = time.perf_counter()
                try:
                    forecast_response_dict(ctx, req.body)
                    failed += 1  # must be rejected
                except RequestError:
                    pass
                direct_walls.append(time.perf_counter() - t)
        finally:
            srv.shutdown()
            srv.server_close()
            th.join(timeout=60)
        for req in fresh("forecast", "layers"):
            b = req.body
            with tr.span("plans.service.forecast_request"):
                daily, summary = forecast_request(
                    spark, models, pct, date=b["date"], branch=b["branch"],
                    move_type=b["move_type"], today=dom.today, max_date=dom.max_date,
                )
            with tr.span("plans.service.forecast_collect"):
                daily.collect()
                summary.collect()
        for req in fresh("trends", "handler"):
            with tr.span("server.trends_handler"):
                out = trends_response_dict(ctx, req.body)
            failed += not check(req, 200, out, dom)
        for req in fresh("trends", "layers"):
            b = req.body
            with tr.span("plans.trends.request"):
                nested = trends_request(
                    spark, li, branch_col="l_suppkey", date_col="l_shipdate",
                    count_col="l_quantity", date=b["date"], branch=b["branch"],
                    move_type=b["move_type"], type_col="l_returnflag",
                    today=dom.today, max_date=dom.max_date, years=dom.years,
                )
            with tr.span("plans.trends.collect"):
                nested.collect()

        spark.catalog.clearCache()  # the refresh layers read the lake, not the caches
        refresh_layers, refresh_failed = layer_pass(spark, sf_dir, tr)
    finally:
        stop_spark(spark)

    handler_p50 = tr.p50_ms("server.forecast_handler")
    per_req = {k: v / TRACED_FORECASTS for k, v in tr.shape["server.forecast_handler"].items()}
    per_trend = {k: v / TRACED_TRENDS for k, v in tr.shape["server.trends_handler"].items()}
    layers = {
        "session.start_s": start_s,
        "serve.setup.models_s": tr.total_s("serve.setup.models"),
        "serve.setup.pct_s": tr.total_s("serve.setup.pct"),
        "serve.setup.facts_s": tr.total_s("serve.setup.facts"),
        "plans.service.forecast_request_ms": tr.p50_ms("plans.service.forecast_request"),
        "plans.service.forecast_collect_ms": tr.p50_ms("plans.service.forecast_collect"),
        "server.forecast_handler_ms": handler_p50,
        "server.http_overhead_ms": 1000.0 * (quantile(http_walls, 0.5) - quantile(direct_walls, 0.5)),
        **{f"server.forecast_{k}": v for k, v in per_req.items()},
        "plans.trends.request_ms": tr.p50_ms("plans.trends.request"),
        "plans.trends.collect_ms": tr.p50_ms("plans.trends.collect"),
        "server.trends_jobs": per_trend["jobs"],
        "server.trends_single_task_stages": per_trend["single_task_stages"],
        **refresh_layers,
    }
    per_layer = {
        "session.start_s": start_s,
        "setup.materialise_s": sum(
            layers[f"serve.setup.{k}_s"] for k in ("models", "pct", "facts")
        ),
        "build.p50_ms": layers["plans.service.forecast_request_ms"],
        "build.jobs": tr.shape["plans.service.forecast_request"]["jobs"] / TRACED_FORECASTS,
        "exec.p50_ms": layers["plans.service.forecast_collect_ms"],
        "op.p50_ms": handler_p50,
        **{f"op.{k}": v for k, v in per_req.items()},
        **refresh_layers,
        "trace.overhead_pct": 100.0 * (quantile(traced_walls, 0.5) / quantile(untraced, 0.5) - 1.0),
    }
    return {
        "metrics": {},
        "attempted": 2 * TRACED_FORECASTS + TRACED_TRENDS + len(http_walls) + 2,
        "failed": failed + refresh_failed,
        "detail": {},
        "layers": {"per_layer": per_layer, "detail": layers},
    }
