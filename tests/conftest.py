from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bighouse_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # UI off for the test session: no test reads the web UI, and the
    # per-query SQL-tab bookkeeping costs a measured ~5% of the
    # suite's per-statement floor (interleaved fresh-process A/B,
    # min-of-12 batteries: 1.04/1.69/1.20 s vs 1.21/1.73/1.25 s).
    s = get_spark(
        app_name="bighouse-tests", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    conn = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        conn.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield conn
    conn.close()


_GUARD = {"active": 0, "gen": 0, "checked": 0, "seconds": 0.0}


@pytest.fixture(scope="session", autouse=True)
def _base_session_guard():
    """Every outermost statement that is not DDL or ``SYSTEM`` leaves
    the base session's temp-view names and conf as it found them: its
    views and knobs live on its own statement session. Checked only
    when no other statement ran meanwhile (another may write the base
    legitimately)."""
    import threading
    import time

    from bighouse_spark import engine as engine_mod

    eng_cls = engine_mod.BigHouseEngine
    run = eng_cls._run
    lock = threading.Lock()
    skip = eng_cls._DDL_KINDS | {"System"}

    def fingerprint(spark) -> tuple:
        t0 = time.perf_counter()
        state = spark._jsparkSession.sessionState()
        out = (state.conf().getAllConfs().hashCode(),
               state.catalog().getTempViewNames().toSet().hashCode())
        _GUARD["seconds"] += time.perf_counter() - t0
        return out

    def guarded(self, request, handler, kind="Select"):
        if getattr(engine_mod._REQ_LOCAL, "depth", 0):
            return run(self, request, handler, kind)
        req = (engine_mod.QueryRequest(query=request)
               if isinstance(request, str) else request)
        kinds = {kind, *(self._route_of(q)[1]
                         for q in (req.query, *req.init_queries))}
        with lock:
            _GUARD["active"] += 1
            _GUARD["gen"] += 1
            gen, alone = _GUARD["gen"], _GUARD["active"] == 1
        before = fingerprint(self.spark) if alone and not kinds & skip \
            else None
        try:
            return run(self, request, handler, kind)
        finally:
            after = fingerprint(self.spark) if before else None
            with lock:
                _GUARD["active"] -= 1
                clean = _GUARD["gen"] == gen
                _GUARD["checked"] += bool(before and clean)
            assert not (before and clean) or after == before, (
                f"{req.query[:200]!r} changed the base session's temp "
                "views or conf: "
                + str(sorted(t.name for t in self.spark.catalog.listTables()
                             if t.isTemporary))
            )

    eng_cls._run = guarded
    yield
    eng_cls._run = run


def pytest_terminal_summary(terminalreporter):
    if _GUARD["checked"]:
        terminalreporter.write_line(
            f"base-session guard: {_GUARD['checked']} statements checked "
            f"in {_GUARD['seconds']:.1f} s"
        )
