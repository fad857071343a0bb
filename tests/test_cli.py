"""CLI entry point (``python -m bighouse_spark`` — the
clickhouse-local analog). One subprocess run covers multi-statement
scripts, per-statement FORMAT, file() reads and the error path."""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import SF_SMOKE


def test_cli_end_to_end(tmp_path):
    script = (
        "SELECT 1 + 1 AS two; "
        "SELECT count() AS c FROM "
        f"file('{SF_SMOKE}/region.parquet', 'Parquet') "
        "FORMAT JSONEachRow; "
        "SELECT 'x' AS s FORMAT CSVWithNames"
    )
    proc = subprocess.run(
        [sys.executable, "-m", "bighouse_spark", "-q", script,
         "--cpus", "4"],
        capture_output=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    out = proc.stdout.decode()
    assert out == '2\n{"c": 5}\n"s"\n"x"\n'


def test_cli_error_exit_code():
    proc = subprocess.run(
        [sys.executable, "-m", "bighouse_spark", "-q", "SELEC nonsense",
         "--cpus", "2"],
        capture_output=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 1
    assert "Error:" in proc.stderr.decode()


def test_cli_splits_statements_by_the_ch_quote_rule(monkeypatch):
    # `\'` stays inside the literal, so its `;` does not end the
    # statement; an apostrophe in a comment opens nothing. In process:
    # the engine is a stub that records what it was asked to run.
    from bighouse_spark import __main__ as cli
    from bighouse_spark import engine as engine_mod
    from bighouse_spark import session

    seen = []

    class StubEngine:
        def __init__(self, spark):
            pass

        def execute(self, req):
            seen.append(req.query)
            return engine_mod.QueryResult(cols=["x"], rows=[[1]])

    monkeypatch.setattr(engine_mod, "BigHouseEngine", StubEngine)
    monkeypatch.setattr(session, "get_spark", lambda **kw: None)
    assert cli.main(["-q", r"SELECT 'a\';b'; SELECT 2"]) == 0
    assert seen == [r"SELECT 'a\';b'", "SELECT 2"]
    seen.clear()
    assert cli.main(["-q", "SELECT 1 -- don't\n; SELECT 2"]) == 0
    assert seen == ["SELECT 1 -- don't", "SELECT 2"]


def test_cli_script_set_is_the_scripts_scope(spark, monkeypatch, capsys):
    # A script's SET goes with each later statement of the run, as the
    # statement's init SET; the base session's conf is not written.
    from bighouse_spark import __main__ as cli
    from bighouse_spark import session
    from bighouse_spark.engine import BigHouseEngine

    BigHouseEngine(spark)  # sets its CBO flags before the snapshot
    before = spark.conf.getAll
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    assert cli.main(
        ["-q", "SET max_result_rows = 2; SELECT number FROM numbers(5)"]
    ) == 1
    assert "TOO_MANY_ROWS" in capsys.readouterr().err
    assert cli.main(["-q", "SELECT number FROM numbers(5)"]) == 0
    assert capsys.readouterr().out.split()[-5:] == ["0", "1", "2", "3", "4"]
    assert spark.conf.getAll == before
