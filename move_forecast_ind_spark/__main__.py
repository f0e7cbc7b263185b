"""Command-line entry point — the switchable user surface.

The reference exposes POST /forecast/ and POST /historical_trends/ over
uvicorn (reference main.py:415-447). This engine offers the same surface
two ways: a CLI over the request shapes, and a real HTTP server
(``serve`` → move_forecast_ind_spark/server.py, an asyncio event loop that
answers surface hits inline and runs Spark-path requests on a small thread
pool — no web framework exists in this environment and none is required):

    python -m move_forecast_ind_spark forecast --date 1999-06-03 --branch 7 \
        [--move-type R] [--sf-dir /root/testdata/sf0.01]
    python -m move_forecast_ind_spark trends   --date 1999-06-03 --branch 7
    python -m move_forecast_ind_spark pct-etl  --out /tmp/pct
    python -m move_forecast_ind_spark serve    --port 8000
    python -m move_forecast_ind_spark list-queries

Output is one JSON document on stdout; ``forecast`` and ``trends`` print
exactly the POST /forecast/ and POST /historical_trends/ response body
``serve`` would send for the same request.
Errors exit 2 with the validation message (the HTTP-400 analog). ``serve``
builds its forecast and trends surfaces before it binds, then prints one
line, ``{"serving": url, "surface_rows": n, "surface_s": s, "trends_rows":
n, "trends_s": s}``, and writes a JSON access-log line per request to
stderr.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.01"
# injected clock defaults matched to the fixture's date range
DEFAULT_TODAY = "1999-06-01"
DEFAULT_MAX = "1999-07-31"


def _spark():
    from .session import get_spark

    return get_spark("move_forecast_ind_spark.cli")


def _serving_context(args):
    """The serving context ``serve`` answers from, built from the CLI args."""
    from .plans.percentages import compute_percentages
    from .plans.training import train_models
    from .queries.ml import CUTOFF, _daily_series
    from .server import ServingContext
    from .sources import load_table

    spark = _spark()
    li = load_table(spark, args.sf_dir, "lineitem").cache()
    return ServingContext(
        spark=spark,
        models=train_models(_daily_series(spark, args.sf_dir), cutoff=CUTOFF).cache(),
        pct=compute_percentages(
            li, branch_col="l_suppkey", type_col="l_returnflag",
            date_col="l_shipdate", count_col="l_quantity",
        ).cache(),
        facts=li,
        branch_col="l_suppkey",
        date_col="l_shipdate",
        count_col="l_quantity",
        type_col="l_returnflag",
        today=dt.date.fromisoformat(args.today),
        max_date=dt.date.fromisoformat(args.max_date),
        years=(1995, 2000),
    )


def cmd_forecast(args) -> int:
    from .plans.service import RequestError
    from .server import forecast_response

    body = {"date": args.date, "branch": args.branch, "move_type": args.move_type}
    try:
        data, _ = forecast_response(_serving_context(args), body)
    except RequestError as e:
        print(json.dumps({"error": str(e)}), file=sys.stderr)
        return 2
    print(data.decode())
    return 0


def cmd_trends(args) -> int:
    from .plans.service import RequestError
    from .server import trends_response

    body = {"date": args.date, "branch": args.branch, "move_type": args.move_type}
    try:
        data, _ = trends_response(_serving_context(args), body)
    except RequestError as e:
        print(json.dumps({"error": str(e)}), file=sys.stderr)
        return 2
    print(data.decode())
    return 0


def cmd_pct_etl(args) -> int:
    from .plans.percentages import compute_percentages, write_percentages
    from .sources import load_table

    spark = _spark()
    li = load_table(spark, args.sf_dir, "lineitem")
    pct = compute_percentages(
        li, branch_col="l_suppkey", type_col="l_returnflag",
        date_col="l_shipdate", count_col="l_quantity",
    )
    write_percentages(pct, args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"written": args.out, "rows": n}))
    return 0


def cmd_serve(args) -> int:
    from .server import serve

    srv = serve(_serving_context(args), host=args.host, port=args.port)
    surface, trends = srv.ctx.surface, srv.ctx.trends_surface
    print(
        json.dumps({
            "serving": f"http://{srv.server_address[0]}:{srv.server_address[1]}",
            "surface_rows": surface.num_rows,
            "surface_s": round(surface.build_s, 3),
            "trends_rows": trends.num_rows,
            "trends_s": round(trends.build_s, 3),
        }),
        flush=True,
    )
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


def cmd_list_queries(args) -> int:
    from .queries import REGISTRY

    out = [
        {"name": s.name, "oracle": s.oracle is not None, "bench": s.bench,
         "tags": list(s.tags)}
        for s in REGISTRY.values()
    ]
    print(json.dumps(out, indent=2))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="move_forecast_ind_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    common.add_argument("--today", default=DEFAULT_TODAY)
    common.add_argument("--max-date", default=DEFAULT_MAX)

    f = sub.add_parser("forecast", parents=[common])
    f.add_argument("--date", required=True)
    f.add_argument("--branch", type=int, required=True)
    f.add_argument("--move-type", default=None)
    f.set_defaults(fn=cmd_forecast)

    t = sub.add_parser("trends", parents=[common])
    t.add_argument("--date", required=True)
    t.add_argument("--branch", type=int, required=True)
    t.add_argument("--move-type", default=None)
    t.set_defaults(fn=cmd_trends)

    p = sub.add_parser("pct-etl", parents=[common])
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_pct_etl)

    s = sub.add_parser("serve", parents=[common])
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8000)
    s.set_defaults(fn=cmd_serve)

    lq = sub.add_parser("list-queries")
    lq.set_defaults(fn=cmd_list_queries)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
