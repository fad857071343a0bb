"""Prometheus /metrics endpoint + the in-process metric registry.

The reference exposes Prometheus on an internal HTTP port
(``observability/internal_http.go:17-29``); here the scrape rides the
main HTTP server and derives query counters from the engine's
query_log, so the numbers can never drift from system.query_log."""

from __future__ import annotations

import socket
import struct
import urllib.error
import urllib.request

import pytest

from bighouse_spark import metrics
from bighouse_spark.engine import BigHouseEngine, QueryRequest
from bighouse_spark.pgwire import PGWireServer
from bighouse_spark.server import start_in_background


@pytest.fixture(scope="module")
def eng(spark):
    return BigHouseEngine(spark)


@pytest.fixture(scope="module")
def srv(eng):
    server, _ = start_in_background(eng)
    yield server
    server.shutdown()


def _scrape(server) -> tuple[str, dict[str, float]]:
    url = f"http://127.0.0.1:{server.server_port}/metrics"
    with urllib.request.urlopen(url) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    vals: dict[str, float] = {}
    for line in text.splitlines():
        if line.startswith("#") or not line.strip():
            continue
        name, _, val = line.rpartition(" ")
        vals[name] = float(val)
    return text, vals


def test_scrape_shape_and_query_counters(eng, srv):
    before = len(eng.query_log)
    eng.execute("SELECT 1 AS one")
    with pytest.raises(Exception):
        eng.execute("SELECT definitely_not_a_column FROM nowhere((")
    text, vals = _scrape(srv)
    # exposition format: every sample has HELP+TYPE
    for want in (
        "# HELP bighouse_queries_total",
        "# TYPE bighouse_queries_total counter",
        "# TYPE bighouse_connections_active gauge",
    ):
        assert want in text
    assert vals["bighouse_queries_total"] >= before + 2
    assert vals["bighouse_query_errors_total"] >= 1
    assert vals["bighouse_query_seconds_total"] > 0
    assert "bighouse_http_sessions_active" in text


def test_cache_hit_counter(eng, srv):
    q = "SELECT 41 + 1 AS x SETTINGS use_query_cache=1"
    eng.execute(QueryRequest(query=q))
    eng.execute(QueryRequest(query=q))
    _, vals = _scrape(srv)
    assert vals["bighouse_query_cache_hits_total"] >= 1
    assert vals["bighouse_result_cache_entries"] >= 1


def test_schema_memo_counters(eng, srv, tmp_path):
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "m.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), p)
    old = time.time() - 60  # outside the memo's 1-s racy window
    os.utime(p, (old, old))
    q = f"SELECT sum(a) AS s FROM file('{p}', 'Parquet')"
    _, before = _scrape(srv)
    eng.execute(q)
    eng.execute(q)
    _, after = _scrape(srv)
    hits = "bighouse_source_schema_memo_hits_total"
    misses = "bighouse_source_schema_memo_misses_total"
    assert after[hits] - before[hits] == 1
    assert after[misses] - before[misses] == 1


def test_small_plan_counter(eng, srv):
    p = "/root/testdata/sf0.01/nation.parquet"
    small = f"SELECT count() AS c FROM file('{p}', 'Parquet')"
    _, before = _scrape(srv)
    assert eng.execute(small).rows == [[25]]
    eng.execute(small + " SETTINGS max_threads = 2")  # a knob: not small
    _, after = _scrape(srv)
    name = "bighouse_small_plan_statements_total"
    assert after[name] - before[name] == 1


def test_wire_connection_counters(eng, srv):
    _, before = _scrape(srv)
    key = 'bighouse_connections_total{protocol="postgresql"}'
    pg = PGWireServer(engine=eng).start()
    try:
        s = socket.create_connection((pg.host, pg.port), timeout=10)
        try:
            params = b"user\x00t\x00\x00"
            body = struct.pack("!I", 196608) + params
            s.sendall(struct.pack("!I", len(body) + 4) + body)
            s.recv(65536)
        finally:
            s.close()
    finally:
        pg.shutdown()
    _, after = _scrape(srv)
    assert after[key] >= before.get(key, 0) + 1
    # the connection is closed again: active gauge did not leak
    active = 'bighouse_connections_active{protocol="postgresql"}'
    assert after[active] <= before.get(active, 0) + 1


def test_http_connections_tracked(srv):
    _, vals = _scrape(srv)
    assert vals['bighouse_connections_total{protocol="http"}'] >= 1


def test_unknown_protocol_is_dropped():
    # cardinality guard: label values are a fixed enum; junk input
    # must not mint a new series
    metrics.connection_opened("garbage'); DROP SERIES")
    assert "garbage" not in str(metrics._conn_total)
    assert "garbage" not in str(metrics._conn_active)


def test_kill_counter(eng, srv):
    # KILL QUERY on an unknown id does not bump; the counter field
    # exists and renders
    _, vals = _scrape(srv)
    assert "bighouse_queries_killed_total" in vals
    assert vals["bighouse_queries_killed_total"] == float(eng.kill_count)


def test_metrics_open_without_auth(eng):
    import threading

    from bighouse_spark.server import make_server

    server = make_server(engine=eng, auth=("u", "pw"))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_port}/metrics"
        with urllib.request.urlopen(url) as resp:
            assert resp.status == 200  # scraper is infra, like /hc
    finally:
        server.shutdown()


def test_debug_threads_dump(eng, srv):
    url = f"http://127.0.0.1:{srv.server_port}/debug/threads"
    with urllib.request.urlopen(url) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/plain")
        text = resp.read().decode()
    # the dump includes this very request handler's thread stack
    assert "=== python threads (" in text
    assert "=== in-flight queries (" in text
    assert "do_GET" in text or "_debug_threads" in text


def test_debug_threads_shows_inflight_query(eng, srv):
    import threading

    started = threading.Event()
    orig = dict(eng._inflight)

    def slow():
        # fake an in-flight entry (a real long query would race the
        # scrape); the lock discipline is what the dump exercises
        import time as _t

        with eng._inflight_lock:
            eng._inflight["dbg-q1"] = ("SELECT sleepy FROM t", _t.monotonic())
        started.set()

    slow()
    started.wait(5)
    try:
        url = f"http://127.0.0.1:{srv.server_port}/debug/threads"
        with urllib.request.urlopen(url) as resp:
            text = resp.read().decode()
        assert "dbg-q1" in text and "SELECT sleepy" in text
        assert "elapsed=" in text
    finally:
        with eng._inflight_lock:
            eng._inflight.pop("dbg-q1", None)
            assert set(eng._inflight) == set(orig)


def test_debug_threads_gated_by_auth(eng):
    import threading

    from bighouse_spark.server import make_server

    server = make_server(engine=eng, auth=("u", "pw"))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_port}/debug/threads"
        try:
            urllib.request.urlopen(url)
            raise AssertionError("expected 401/403")
        except urllib.error.HTTPError as e:
            assert e.code in (401, 403)
    finally:
        server.shutdown()
