"""CLI entry point — the `analyst run` / `analyst test` / `analyst
validate` analog (cmd/main.go:15-88, cmd/run.go).

Usage:
  python tools/run_aql.py run      script.aql [--params '{"K":"v"}'] [--sf-dir DIR]
  python tools/run_aql.py test     script.aql [--params ...]
  python tools/run_aql.py validate script.aql
  python tools/run_aql.py serve    [--port 4040] [--sf-dir DIR] [--db analyst.db]

`--sf-dir` registers the driver parquet tables as temp views first, so
scripts can `QUERY ... FROM GLOBAL (SELECT ... FROM lineitem ...)`.
`serve` starts the HTTP API server (analyst_spark/server.py) with every
`POST /run` executed on one SparkSession; it prints the address it
listens on and runs until interrupted.
Console-destination output goes to stdout (stderr in the reference —
console_dest.go:14; stdout is friendlier to pipes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="run_aql")
    ap.add_argument("mode", choices=["run", "test", "validate", "serve"])
    ap.add_argument("script", nargs="?")
    ap.add_argument("--params", default="{}", help="JSON object of options")
    ap.add_argument("--sf-dir", default=None, help="register parquet tables from DIR")
    ap.add_argument("--cpus", default=None)
    ap.add_argument("--port", type=int, default=4040, help="serve: port (0 = any free)")
    ap.add_argument("--db", default=":memory:", help="serve: SQLite file for tasks")
    args = ap.parse_args(argv)

    if args.mode == "serve":
        return serve(args)
    if args.script is None:
        ap.error(f"{args.mode} needs a script")
    with open(args.script) as f:
        text = f.read()
    script_dir = os.path.dirname(os.path.abspath(args.script))
    params = json.loads(args.params)

    if args.mode == "validate":
        from analyst_spark.aql.engine import validate_script

        n = validate_script(text, params or None, script_dir)
        print(f"OK: {n} blocks")
        return 0

    from analyst_spark.aql.engine import execute_script, test_script
    from analyst_spark.session import get_spark
    from analyst_spark.tables import register_views

    spark = get_spark("run_aql", cpus=args.cpus)
    if args.sf_dir:
        register_views(spark, args.sf_dir)

    runner = test_script if args.mode == "test" else execute_script
    res = runner(spark, text, options=params, script_dir=script_dir)
    for line in res.console:
        print(line)
    if args.mode == "test":
        print("TESTS PASSED")
    return 0


def serve(args) -> int:
    from analyst_spark import server
    from analyst_spark.session import get_spark

    spark = get_spark("run_aql", cpus=args.cpus)
    srv = server.AnalystServer(
        script_runner=server.spark_script_runner(spark, args.sf_dir),
        db_path=args.db,
    )
    httpd = server.serve(srv, port=args.port)
    host, port = httpd.server_address[:2]
    print(f"serving on http://{host}:{port}", flush=True)
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        httpd._analyst_stop.set()
        httpd.server_close()
        srv.db.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
