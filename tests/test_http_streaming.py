"""Driver-streamed HTTP results (VERDICT r5 "Next #7"): line-based
FORMATs render from ``toLocalIterator`` with chunked
transfer-encoding — the driver holds at most two partitions (the one
being read and the prefetched next), never the whole result."""

from __future__ import annotations

import gzip
import socket
import urllib.parse
import urllib.request

import pytest

from bighouse_spark.engine import BigHouseEngine, QueryRequest
from bighouse_spark.server import start_in_background

BIG = (
    "SELECT number AS n, concat('row-', toString(number)) AS s "
    "FROM numbers(20000) ORDER BY n"
)


@pytest.fixture(scope="module")
def server(spark):
    srv, _ = start_in_background(BigHouseEngine(spark))
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def base(server):
    return f"http://127.0.0.1:{server.server_port}"


def _get(base: str, sql: str, headers=None, **params):
    qs = urllib.parse.urlencode({"query": sql, **params})
    req = urllib.request.Request(f"{base}/?{qs}", headers=headers or {})
    with urllib.request.urlopen(req) as resp:
        return resp.read(), dict(resp.headers)


@pytest.mark.parametrize(
    "fmt",
    [
        "TabSeparated", "TabSeparatedWithNames",
        "TabSeparatedWithNamesAndTypes", "CSV", "CSVWithNames",
        "CSVWithNamesAndTypes", "JSONEachRow", "JSONCompactEachRow",
    ],
)
def test_streamed_bytes_identical_to_collected(base, fmt):
    streamed, sh = _get(base, BIG, default_format=fmt)
    assert sh.get("Transfer-Encoding") == "chunked"
    assert "Content-Length" not in sh
    # The gzip response takes the collected path (render_result over
    # the full rows) — the byte-identity oracle.
    collected, ch = _get(
        base, BIG, headers={"Accept-Encoding": "gzip"},
        default_format=fmt,
    )
    assert "Transfer-Encoding" not in ch
    assert gzip.decompress(collected) == streamed
    assert len(streamed) > 200_000  # genuinely large result


def test_chunk_frames_are_bounded(base):
    """Raw-socket read of the chunked framing: a large result arrives
    in MANY frames, each bounded by the sink's 64 KiB buffer — the
    proof that driver-side buffering is chunk-sized, not result-sized."""
    host, port = base.replace("http://", "").split(":")
    qs = urllib.parse.urlencode({"query": BIG})
    with socket.create_connection((host, int(port)), timeout=60) as s:
        s.sendall(
            f"GET /?{qs} HTTP/1.1\r\nHost: {host}\r\n"
            f"Connection: close\r\n\r\n".encode()
        )
        raw = b""
        while True:
            b = s.recv(65536)
            if not b:
                break
            raw += b
    head, _, body = raw.partition(b"\r\n\r\n")
    assert b"Transfer-Encoding: chunked" in head
    sizes = []
    pos = 0
    while True:
        eol = body.index(b"\r\n", pos)
        size = int(body[pos:eol], 16)
        if size == 0:
            break
        sizes.append(size)
        pos = eol + 2 + size + 2
    total = sum(sizes)
    assert total > 250_000
    assert len(sizes) >= 4  # streamed in many frames...
    assert max(sizes) < 80_000  # ...each bounded by the chunk buffer


def test_materializing_settings_fall_back_to_collected(base):
    body, h = _get(
        base,
        "SELECT number AS n FROM numbers(10) SETTINGS max_result_rows=100, "
        "result_overflow_mode='break'",
    )
    # max_result_rows needs the count before the first byte leaves —
    # collected path, Content-Length present.
    assert "Content-Length" in h
    assert body.decode().strip().splitlines() == [str(i) for i in range(10)]


def test_non_select_keeps_ack_path(base):
    body, h = _get(base, "SET max_threads = 4")
    assert "Content-Length" in h  # ack result, not streamed


def test_engine_stream_sink_never_materializes(spark):
    class Sink:
        def __init__(self):
            self.started = False
            self.cols = None
            self.n = 0

        def start(self, cols, types):
            self.started = True
            self.cols = cols

        def write_row(self, row):
            self.n += 1

    eng = BigHouseEngine(spark)
    sink = Sink()
    res = eng.execute(
        QueryRequest(query="SELECT number AS n FROM numbers(50000)",
                     remote=True),
        stream_to=sink,
    )
    assert sink.started and sink.n == 50000 and sink.cols == ["n"]
    assert res.rows == []  # nothing materialized on the driver
    # query_log still records the true row count.
    assert eng.query_log[-1].row_count == 50000

    # Cache forces materialization: the sink is ignored.
    sink2 = Sink()
    res2 = eng.execute(
        QueryRequest(
            query="SELECT 1 AS x SETTINGS use_query_cache=1",
        ),
        stream_to=sink2,
    )
    assert not sink2.started
    assert res2.rows == [[1]]


def test_concurrent_streamed_and_session_queries(base):
    """8 threads × mixed traffic: chunked streaming, collected gzip,
    session SETs and session reads — all against one engine. Proves
    the sink/session/inflight locking composes under concurrency."""
    import threading

    errors: list[str] = []

    def worker(i: int) -> None:
        try:
            sid = f"conc_{i}"
            _get(base, f"SET max_threads = {i + 1}", session_id=sid)
            body, h = _get(
                base,
                f"SELECT number AS n FROM numbers({1000 * (i + 1)}) "
                "ORDER BY n",
            )
            lines = body.decode().strip().splitlines()
            if len(lines) != 1000 * (i + 1) or lines[-1] != str(
                1000 * (i + 1) - 1
            ):
                errors.append(f"worker {i}: bad streamed result")
            gz, _ = _get(
                base, "SELECT count() AS c FROM numbers(5000)",
                headers={"Accept-Encoding": "gzip"},
            )
            if gzip.decompress(gz).strip() != b"5000":
                errors.append(f"worker {i}: bad collected result")
            body2, _ = _get(base, "SELECT 1 AS x", session_id=sid)
            if body2.strip() != b"1":
                errors.append(f"worker {i}: bad session read")
        except Exception as e:  # noqa: BLE001
            errors.append(f"worker {i}: {e}")

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert errors == []


def test_keepalive_reuse_after_chunked_response(base):
    """Two requests on ONE HTTP/1.1 connection, the first streamed:
    the chunked framing must terminate exactly (0-chunk) or the
    second response never parses — the keep-alive contract
    clickhouse-connect style clients rely on."""
    import socket

    host, port = base.replace("http://", "").split(":")
    q1 = urllib.parse.urlencode(
        {"query": "SELECT number FROM numbers(5000)"}
    )
    q2 = urllib.parse.urlencode({"query": "SELECT 42 AS x"})
    with socket.create_connection((host, int(port)), timeout=60) as s:
        s.sendall(
            f"GET /?{q1} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode()
        )
        buf = b""
        while b"0\r\n\r\n" not in buf:
            chunk = s.recv(65536)
            assert chunk, "closed before the terminal chunk"
            buf += chunk
        assert b"Transfer-Encoding: chunked" in buf
        s.sendall(
            f"GET /?{q2} HTTP/1.1\r\nHost: {host}\r\n"
            f"Connection: close\r\n\r\n".encode()
        )
        buf2 = b""
        while True:
            chunk = s.recv(65536)
            if not chunk:
                break
            buf2 += chunk
    assert b"200" in buf2.split(b"\r\n", 1)[0]
    # The second response streams too: one "42\n" chunk + terminal.
    assert b"\r\n42\n\r\n" in buf2
    assert buf2.rstrip().endswith(b"0")
