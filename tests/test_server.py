"""HTTP service shell tests — POST /query, POST /query/sink, GET /hc,
GET /query_log over a live (threaded, ephemeral-port) server."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.server import start_in_background
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def server_url(spark):
    server, _ = start_in_background(BigHouseEngine(spark))
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def _get(url: str):
    with urllib.request.urlopen(url) as resp:
        return resp.status, json.loads(resp.read())


def test_hc(server_url):
    status, body = _get(f"{server_url}/hc")
    assert status == 200 and body == {"ok": True}


def test_query_roundtrip(server_url):
    status, body = _post(
        f"{server_url}/query",
        {
            "query": (
                f"SELECT count() AS n FROM "
                f"file('file://{SF_SMOKE}/region.parquet', 'Parquet')"
            )
        },
    )
    assert status == 200
    assert body["cols"] == ["n"]
    assert body["rows"] == [[5]]
    assert body["elapsed_sec"] > 0


def test_query_with_init_queries(server_url):
    status, body = _post(
        f"{server_url}/query",
        {
            "init_queries": ["SET spark.sql.shuffle.partitions=4"],
            "query": "SELECT 40 + 2 AS answer",
        },
    )
    assert status == 200 and body["rows"] == [[42]]


def test_query_serializes_dates_and_decimals(server_url):
    status, body = _post(
        f"{server_url}/query",
        {
            "query": (
                "SELECT DATE '2024-01-02' AS d, CAST(1.5 AS DECIMAL(10,2)) AS m"
            )
        },
    )
    assert status == 200
    assert body["rows"][0][0].startswith("2024-01-02")
    assert body["rows"][0][1] == 1.5


def test_query_error_is_400_and_logged(server_url):
    req = urllib.request.Request(
        f"{server_url}/query",
        data=json.dumps({"query": "SELECT * FROM nonexistent_table_xyz"}).encode(),
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    assert "error" in json.loads(ei.value.read())

    status, log = _get(f"{server_url}/query_log")
    assert status == 200
    errored = [e for e in log if e["error"]]
    assert any("nonexistent_table_xyz" in e["query"] for e in errored)


def test_sink_endpoint_writes_parquet(server_url, spark, tmp_path):
    out = str(tmp_path / "result")
    status, body = _post(
        f"{server_url}/query/sink",
        {
            "query": (
                f"SELECT r_regionkey, r_name FROM "
                f"file('file://{SF_SMOKE}/region.parquet', 'Parquet')"
            ),
            "path": out,
            "partition_by": ["r_regionkey"],
        },
    )
    assert status == 200 and body["path"] == out
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert set(back.columns) == {"r_regionkey", "r_name"}


def test_clickhouse_summary_reports_result_rows(server_url):
    # The summary counts RESULT rows; read_rows (rows scanned) stays
    # out until the engine measures scans. max_result_rows keeps the
    # response on the collected path, which sends the summary.
    import urllib.parse

    qs = urllib.parse.urlencode({
        "query": "SELECT number FROM numbers(3) SETTINGS max_result_rows=9"
    })
    with urllib.request.urlopen(f"{server_url}/?{qs}") as resp:
        summary = json.loads(resp.headers["X-ClickHouse-Summary"])
    assert summary["result_rows"] == "3"
    assert "read_rows" not in summary


def test_missing_query_field_is_400(server_url):
    req = urllib.request.Request(
        f"{server_url}/query", data=b'{"nope": 1}', method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400


def test_unknown_route_404(server_url):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{server_url}/nope")
    assert ei.value.code == 404


def test_concurrent_queries(server_url):
    import concurrent.futures

    def one(i):
        status, body = _post(
            f"{server_url}/query", {"query": f"SELECT {i} * 2 AS v"}
        )
        return status, body["rows"][0][0]

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(16)))
    assert all(s == 200 for s, _ in results)
    assert [v for _, v in results] == [i * 2 for i in range(16)]


def test_operator_table_functions_over_http(server_url):
    # The operator library surfaced through SQL: LSH dedup and TF-IDF
    # as table functions over an engine-owned table.
    status, body = _post(
        f"{server_url}/query",
        {"query": (
            "CREATE TABLE stress_docs (doc_id Int64, text String) "
            "ENGINE = MergeTree ORDER BY doc_id"
        )},
    )
    assert status == 200
    rows = ", ".join(
        f"({i}, 'shared words alpha beta gamma delta doc{i // 2}')"
        for i in range(20)
    )
    status, _ = _post(
        f"{server_url}/query",
        {"query": f"INSERT INTO stress_docs VALUES {rows}"},
    )
    assert status == 200
    status, body = _post(
        f"{server_url}/query",
        {"query": (
            "SELECT count() AS n FROM "
            "dedupMinhashLSH(stress_docs, 'doc_id', 'text', 0.5)"
        )},
    )
    assert status == 200 and body["rows"][0][0] > 0
    status, body = _post(
        f"{server_url}/query",
        {"query": (
            "SELECT count() AS n FROM "
            "tfidfTopK(stress_docs, 'doc_id', 'text', 2)"
        )},
    )
    assert status == 200 and body["rows"][0][0] == 40  # 20 docs * k=2


def test_concurrent_cache_heavy_queries_release_all_persists(
    server_url, spark
):
    # N threads hammer POST /query with operator-backed queries whose
    # plans tracked_persist scratch tables (LSH signatures, TF-IDF
    # term counts). The per-thread release design
    # (operators/caching.py) must drop every scratch persist under
    # real interleaving: a request's finally releases ITS caches only,
    # and when all requests complete the session's storage is back to
    # baseline.
    import concurrent.futures

    status, body = _post(
        f"{server_url}/query", {"query": "EXISTS stress_docs"}
    )
    if body["rows"][0][0] != 1:
        _post(
            f"{server_url}/query",
            {"query": (
                "CREATE TABLE stress_docs (doc_id Int64, text String) "
                "ENGINE = MergeTree ORDER BY doc_id"
            )},
        )
        rows = ", ".join(
            f"({i}, 'shared words alpha beta gamma delta doc{i // 2}')"
            for i in range(20)
        )
        _post(
            f"{server_url}/query",
            {"query": f"INSERT INTO stress_docs VALUES {rows}"},
        )
    baseline = spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def one(i):
        q = (
            "SELECT count() AS n FROM "
            "dedupMinhashLSH(stress_docs, 'doc_id', 'text', 0.5)"
            if i % 2
            else "SELECT count() AS n FROM "
                 "tfidfTopK(stress_docs, 'doc_id', 'text', 2)"
        )
        try:
            return _post(f"{server_url}/query", {"query": q})
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    with concurrent.futures.ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(one, range(12)))
    assert all(s == 200 for s, _ in results), [
        b for s, b in results if s != 200
    ]
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= baseline, (
        f"storage leak: {after - baseline} persisted RDDs survived "
        "concurrent request completion"
    )
