"""clickhouse-local-style CLI: run ClickHouse-dialect SQL against
local/remote files from the shell.

    python -m bighouse_spark -q "SELECT count() FROM file('x.parquet', 'Parquet')"
    echo "SELECT 1 FORMAT JSONEachRow" | python -m bighouse_spark
    python -m bighouse_spark -q "SELECT ... FORMAT CSVWithNames" > out.csv

Multiple ``-q`` flags and ``;``-separated multi-statement scripts run
in order against one warm session. A trailing ``FORMAT X`` inside a
statement wins over ``--format``. The HTTP / PG / MySQL service lives
in ``python -m bighouse_spark.server`` (--port/--pg-port/--mysql-port).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m bighouse_spark",
        description="Run ClickHouse-dialect SQL on the Spark engine "
        "(clickhouse-local analog).",
    )
    ap.add_argument(
        "-q", "--query", action="append",
        help="statement(s) to run; repeatable, ';'-separated scripts "
        "accepted; omit to read from stdin",
    )
    ap.add_argument(
        "-f", "--format", default="TabSeparated",
        help="default result FORMAT (a statement's trailing FORMAT "
        "clause wins)",
    )
    ap.add_argument("--cpus", type=int, default=None,
                    help="local parallelism (default: all cores)")
    ap.add_argument(
        "--param", action="append", default=[], metavar="NAME=VALUE",
        help="bind a {name:Type} query parameter (clickhouse-client "
        "--param_name analog); repeatable",
    )
    args = ap.parse_args(argv)

    params: dict[str, str] = {}
    for p in args.param:
        if "=" not in p:
            ap.error(f"--param needs NAME=VALUE, got {p!r}")
        k, v = p.split("=", 1)
        params[k.strip()] = v

    scripts = args.query or []
    if not scripts:
        data = sys.stdin.read()
        if not data.strip():
            ap.error("no --query given and stdin is empty")
        scripts = [data]

    from bighouse_spark.dialect.lexer import split_top_level
    from bighouse_spark.engine import BigHouseEngine, QueryRequest
    from bighouse_spark.formats import (
        normalize_format,
        render_result,
        split_result_format,
    )
    from bighouse_spark.session import get_spark
    from bighouse_spark.session_settings import (
        init_queries,
        merge,
        parse_set_statement,
    )

    default_fmt = normalize_format(args.format)
    if default_fmt is None:
        ap.error(f"unknown format {args.format!r}")
    eng = BigHouseEngine(get_spark(app_name="bighouse-cli",
                                   cpus=args.cpus))
    # The run is one scope, like a client session: its SETs go with
    # every later statement as that statement's init SET.
    settings: dict[str, str] = {}
    for script in scripts:
        # CH multiquery: top-level ``;`` outside quoted spans/comments
        for stmt in [p for p in split_top_level(script, ";") if p]:
            try:
                sql, fmt_in_sql = split_result_format(stmt)
            except ValueError as e:
                print(f"Error: {e}", file=sys.stderr)
                return 1
            fmt = fmt_in_sql or default_fmt
            try:
                r = eng.execute(QueryRequest(
                    query=sql, params=params,
                    init_queries=init_queries(settings),
                ))
            except Exception as e:
                print(f"Error: {e}", file=sys.stderr)
                return 1
            if set_pairs := parse_set_statement(sql):
                settings = merge(settings, set_pairs)
            out, _ = render_result(
                r.cols, r.rows, fmt, types=r.types,
                elapsed=r.elapsed_sec,
            )
            sys.stdout.buffer.write(out)
            sys.stdout.buffer.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
