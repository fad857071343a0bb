"""Hostile-input robustness for all four wire endpoints.

Every listener reads length fields and framing bytes from untrusted
clients. These tests throw seeded garbage, truncated frames, and
hostile declared lengths at each port and assert two things: the
connection is dropped or answered with an error (never a hang past
the deadline), and the server still serves a well-formed request
afterwards — one bad client must not take the endpoint down.

The declared-length attacks pin the caps added for them:
``pgwire.MAX_MSG_LEN`` / ``MAX_STARTUP_LEN`` and
``chwire.MAX_WIRE_STR`` (MySQL frames are inherently capped by the
3-byte packet length).
"""

from __future__ import annotations

import glob
import json
import os
import random
import socket
import stat
import struct
import tempfile
import time
import urllib.parse
import urllib.request

import pytest
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.util import _load_from_socket, _local_iterator_from_socket

from bighouse_spark import session
from bighouse_spark.chwire import CHWireServer
from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.mysqlwire import MySQLWireServer
from bighouse_spark.pgwire import PGWireServer
from bighouse_spark.server import start_in_background
from tests.test_chwire import CHClient
from tests.test_mysqlwire import MyClient
from tests.test_pgwire import PGClient

IO_DEADLINE = 20.0  # generous; a hang would exceed it by design


@pytest.fixture(scope="module")
def engine(spark):
    return BigHouseEngine(spark=spark)


@pytest.fixture(scope="module")
def pg_srv(engine):
    srv = PGWireServer(engine=engine).start()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def my_srv(engine):
    srv = MySQLWireServer(engine=engine).start()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def ch_srv(engine):
    srv = CHWireServer(engine=engine).start()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def http_srv(engine):
    srv, _t = start_in_background(engine=engine)
    yield srv
    srv.shutdown()


def _conn(host, port):
    s = socket.create_connection((host, port), timeout=IO_DEADLINE)
    s.settimeout(IO_DEADLINE)
    return s


def _drain(sock) -> bytes:
    """Read until the peer closes or the deadline trips; a timeout
    here IS the failure mode these tests exist to catch."""
    out = b""
    while True:
        try:
            chunk = sock.recv(65536)
        except TimeoutError:
            raise AssertionError(
                "server neither answered nor dropped the connection "
                f"within {IO_DEADLINE}s"
            ) from None
        except OSError:
            return out
        if not chunk:
            return out
        out += chunk
        if len(out) > 1 << 20:
            return out


def _pg_alive(srv) -> None:
    """A fresh well-formed PG startup + Query must still work."""
    s = _conn(srv.host, srv.port)
    try:
        params = b"user\x00t\x00database\x00t\x00\x00"
        body = struct.pack("!I", 196608) + params
        s.sendall(struct.pack("!I", len(body) + 4) + body)
        q = b"SELECT 1 AS one\x00"
        s.sendall(b"Q" + struct.pack("!I", len(q) + 4) + q)
        buf = b""
        while b"C\x00\x00\x00" not in buf and b"E\x00\x00\x00" not in buf:
            chunk = s.recv(65536)
            assert chunk, "server closed mid-reply"
            buf = (buf + chunk)[-262144:]
        assert b"SELECT 1" in buf or b"D\x00" in buf
    finally:
        s.close()


def _my_alive(srv) -> None:
    """A fresh MySQL connection must still get a server greeting."""
    s = _conn(srv.host, srv.port)
    try:
        head = s.recv(4)
        assert len(head) == 4
        length = int.from_bytes(head[:3], "little")
        payload = b""
        while len(payload) < length:
            chunk = s.recv(length - len(payload))
            assert chunk
            payload += chunk
        assert payload[0] == 10  # protocol version
    finally:
        s.close()


def _leb(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _chs(b: bytes) -> bytes:
    return _leb(len(b)) + b


def _ch_alive(srv) -> None:
    """A fresh native-TCP Hello + Ping must still be answered."""
    s = _conn(srv.host, srv.port)
    try:
        hello = (
            _leb(0)  # client Hello
            + _chs(b"robustness")
            + _leb(1) + _leb(1) + _leb(54429)  # major, minor, revision
            + _chs(b"default") + _chs(b"default") + _chs(b"")
        )
        s.sendall(hello)
        buf = _recv_some(s)
        assert buf and buf[0] == 0  # server Hello
        s.sendall(_leb(4))  # Ping
        buf2 = _recv_some(s)
        assert buf2 and buf2[0] == 4  # Pong
    finally:
        s.close()


def _recv_some(sock) -> bytes:
    try:
        return sock.recv(65536)
    except TimeoutError:
        raise AssertionError(
            f"server did not answer within {IO_DEADLINE}s"
        ) from None


def _http_alive(srv) -> None:
    url = f"http://{srv.server_address[0]}:{srv.server_address[1]}/ping"
    with urllib.request.urlopen(url, timeout=IO_DEADLINE) as r:
        assert r.status == 200


@pytest.mark.parametrize("name", ["http_srv", "ch_srv", "pg_srv", "my_srv"])
def test_accepted_sockets_set_tcp_nodelay(request, name):
    # Responses go out as several small sends; with Nagle on, each one
    # after the first can wait on the client's delayed ACK.
    srv = request.getfixturevalue(name)
    tcp = getattr(srv, "_server", srv)
    seen = []
    serve = tcp.process_request

    def record(sock, addr):
        seen.append(sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        serve(sock, addr)

    tcp.process_request = record
    try:
        s = _conn(*tcp.server_address[:2])
        try:
            deadline = time.monotonic() + IO_DEADLINE
            while not seen and time.monotonic() < deadline:
                time.sleep(0.01)
        finally:
            s.close()
    finally:
        del tcp.process_request
    assert seen and seen[0] != 0


def test_socket_dir_is_private(spark):
    # PySpark sends no secret over a Unix-domain socket: the
    # directory's owner and mode are the whole access check.
    d = session._socket_dir
    assert d and spark.conf.get("spark.python.unix.domain.socket.dir") == d
    st = os.stat(d)
    assert st.st_uid == os.getuid()
    assert stat.S_IMODE(st.st_mode) == 0o700


def test_python_channels_use_unix_sockets(spark):
    ser = BatchedSerializer(CPickleSerializer())
    streamed = spark.range(3)._jdf.toPythonIterator(False)
    collected = spark.range(3)._jdf.collectToPython()
    for path, secret, _server in (streamed, collected):
        assert isinstance(path, str)
        assert os.path.dirname(path) == session._socket_dir
        assert secret is None
    # Connect, so neither JVM server waits out its accept timeout.
    assert [r.id for r in _local_iterator_from_socket(streamed, ser)] == [0, 1, 2]
    assert [r.id for r in _load_from_socket(collected, ser)] == [0, 1, 2]


def test_repeated_get_spark_makes_one_socket_dir(spark):
    pattern = os.path.join(os.path.dirname(session._socket_dir), "bh*")
    before = set(glob.glob(pattern))
    for _ in range(10):
        # The fixture's own arguments, so the shared session's
        # shuffle partitions stay as they are.
        again = session.get_spark(cpus=8, shuffle_partitions=8)
        assert again.sparkContext is spark.sparkContext
    assert set(glob.glob(pattern)) == before
    assert session._socket_dir in before


def test_overlong_socket_dir_turns_uds_off():
    assert session.uds_conf("/" + "d" * 60) == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": "/" + "d" * 60,
    }
    assert session.uds_conf("/" + "d" * 61) == {}


def test_deep_temp_dir_falls_back_to_tmp(tmp_path, monkeypatch):
    deep = tmp_path / ("d" * max(1, 52 - len(str(tmp_path))))
    deep.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(deep))
    path = session._new_socket_dir()
    try:
        assert path and os.path.dirname(path) == "/tmp"
        assert len(path) <= session.UDS_DIR_MAX
        assert os.listdir(deep) == []  # the overlong try was removed
    finally:
        if path:
            os.rmdir(path)


# Eight range partitions of 2500 rows each; no ORDER BY, so both the
# streamed and the collected path return them in partition order.
STREAMED = (
    "SELECT number AS n, concat('r', toString(number)) AS s "
    "FROM numbers(20000)"
)


@pytest.fixture()
def streamed_partitions(monkeypatch):
    """Partition counts of the results the engine streams."""
    counts = []
    stream = ClassicDataFrame.toLocalIterator

    def spy(df, *args, **kwargs):
        counts.append(df.rdd.getNumPartitions())
        return stream(df, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "toLocalIterator", spy)
    return counts


def _http_rows(srv, sql):
    qs = urllib.parse.urlencode({"query": sql + " FORMAT JSONEachRow"})
    url = f"http://127.0.0.1:{srv.server_port}/?{qs}"
    with urllib.request.urlopen(url, timeout=IO_DEADLINE) as r:
        assert r.headers.get("Transfer-Encoding") == "chunked"
        return [[d["n"], d["s"]] for d in map(json.loads, r.read().splitlines())]


def _ch_rows(srv, sql):
    c = CHClient(srv.host, srv.port)
    try:
        c.read_hello()
        return c.query(sql)["rows"]
    finally:
        c.close()


def _pg_rows(srv, sql):
    c = PGClient(srv.host, srv.port)
    try:
        _, rows, err = c.query(sql)
        assert err is None
        return rows
    finally:
        c.close()


def _my_rows(srv, sql):
    c = MyClient(srv.host, srv.port)
    try:
        _, rows, err = c.query(sql)
        assert err is None
        return rows
    finally:
        c.close()


@pytest.mark.parametrize("name, rows", [
    ("http_srv", _http_rows), ("ch_srv", _ch_rows),
    ("pg_srv", _pg_rows), ("my_srv", _my_rows),
])
def test_multi_partition_stream_matches_collected(
    request, engine, streamed_partitions, name, rows,
):
    collected = engine.execute(STREAMED).rows
    got = rows(request.getfixturevalue(name), STREAMED)
    assert streamed_partitions and streamed_partitions[0] >= 4
    assert [[str(n), s] for n, s in got] == [[str(n), s] for n, s in collected]


def _serving_threads(spark) -> int:
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return sum(t.getName() == "serve toLocalIterator" for t in threads)


def test_abandoned_streams_leave_nothing_behind(spark, engine, http_srv):
    # Long-lived sockets only: the accumulator server's, and one per
    # Python worker daemon that earlier UDFs started.
    sockets = set(os.listdir(session._socket_dir))
    # A client that hangs up after the first chunk: the server's next
    # write fails mid-stream, with partitions still unread.
    big = "SELECT number AS n, repeat('x', 200) AS pad FROM numbers(200000)"
    qs = urllib.parse.urlencode({"query": big + " FORMAT JSONEachRow"})
    s = _conn("127.0.0.1", http_srv.server_port)
    try:
        s.sendall(f"GET /?{qs} HTTP/1.1\r\nHost: x\r\n\r\n".encode())
        head = b""
        while b"\r\n\r\n" not in head:
            chunk = _recv_some(s)
            assert chunk, "server closed before the first chunk"
            head += chunk
        assert b"Transfer-Encoding: chunked" in head
    finally:
        s.close()
    deadline = time.monotonic() + IO_DEADLINE
    while engine._inflight and time.monotonic() < deadline:
        time.sleep(0.1)
    assert any(big in e.query and e.error for e in engine.query_log)

    class Sink:
        def start(self, cols, types):
            pass

        def write_row(self, row):
            pass

    for _ in range(100):
        engine.execute("SELECT number AS n FROM numbers(8)", stream_to=Sink())

    # The JVM serves each stream from its own thread; one left waiting
    # would outlive the 15 s accept timeout.
    deadline = time.monotonic() + IO_DEADLINE
    while _serving_threads(spark) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert _serving_threads(spark) == 0
    assert not engine._inflight
    assert set(os.listdir(session._socket_dir)) <= sockets


class TestGarbageBytes:
    """Seeded random bytes: the server must drop or error, then keep
    serving well-formed clients."""

    def _blast(self, host, port, seed, rounds=8):
        rng = random.Random(seed)
        for _ in range(rounds):
            s = _conn(host, port)
            try:
                s.sendall(rng.randbytes(rng.randint(1, 4096)))
                try:
                    s.shutdown(socket.SHUT_WR)
                except OSError:
                    pass
                _drain(s)
            finally:
                s.close()

    def test_pg_garbage(self, pg_srv):
        self._blast(pg_srv.host, pg_srv.port, seed=1)
        _pg_alive(pg_srv)

    def test_mysql_garbage(self, my_srv):
        self._blast(my_srv.host, my_srv.port, seed=2)
        _my_alive(my_srv)

    def test_ch_garbage(self, ch_srv):
        self._blast(ch_srv.host, ch_srv.port, seed=3)
        _ch_alive(ch_srv)

    def test_http_garbage(self, http_srv):
        host, port = http_srv.server_address[:2]
        self._blast(host, port, seed=4)
        _http_alive(http_srv)


class TestTruncatedFrames:
    """Valid prefixes cut mid-frame, then an abrupt close: the
    handler thread must unwind, not crash or spin."""

    def test_pg_truncated_startup(self, pg_srv):
        s = _conn(pg_srv.host, pg_srv.port)
        try:
            # declares 200 bytes, sends 10, closes
            s.sendall(struct.pack("!II", 200, 196608) + b"user\x00t")
        finally:
            s.close()
        _pg_alive(pg_srv)

    def test_mysql_truncated_handshake_response(self, my_srv):
        s = _conn(my_srv.host, my_srv.port)
        try:
            s.recv(4096)  # greeting
            s.sendall(b"\x40\x00\x00\x01" + b"\x00" * 8)  # 64 declared, 8 sent
        finally:
            s.close()
        _my_alive(my_srv)

    def test_ch_truncated_hello(self, ch_srv):
        s = _conn(ch_srv.host, ch_srv.port)
        try:
            s.sendall(bytes([0]) + b"\x20abc")  # name declares 32 bytes
        finally:
            s.close()
        _ch_alive(ch_srv)


class TestHostileLengths:
    """Declared lengths far beyond any legitimate message must be
    rejected without the server trying to buffer them."""

    def test_pg_huge_startup_length(self, pg_srv):
        s = _conn(pg_srv.host, pg_srv.port)
        try:
            s.sendall(struct.pack("!II", 0xFFFFFFF0, 196608))
            assert _drain(s) == b""  # dropped, nothing buffered
        finally:
            s.close()
        _pg_alive(pg_srv)

    def test_pg_huge_message_length(self, pg_srv):
        s = _conn(pg_srv.host, pg_srv.port)
        try:
            params = b"user\x00t\x00\x00"
            body = struct.pack("!I", 196608) + params
            s.sendall(struct.pack("!I", len(body) + 4) + body)
            _recv_some(s)  # auth ok + ready
            s.sendall(b"Q" + struct.pack("!I", 0xFFFFFFF0))
            assert b"E" not in _drain(s)[:1]  # dropped, not buffered
        finally:
            s.close()
        _pg_alive(pg_srv)

    def test_pg_undersized_length(self, pg_srv):
        s = _conn(pg_srv.host, pg_srv.port)
        try:
            s.sendall(struct.pack("!II", 3, 196608))  # length < 8
            _drain(s)
        finally:
            s.close()
        _pg_alive(pg_srv)

    def test_pg_huge_password_length(self, engine):
        # Pre-auth DoS: a PasswordMessage declaring ~4 GiB must be
        # dropped before buffering (pgwire.MAX_AUTH_MSG_LEN), on a
        # server in password-auth mode — the one path the main-loop
        # MAX_MSG_LEN check does not cover.
        srv = PGWireServer(
            engine=engine, auth=("password", "u", "pw")
        ).start()
        try:
            s = _conn(srv.host, srv.port)
            try:
                params = b"user\x00u\x00\x00"
                body = struct.pack("!I", 196608) + params
                s.sendall(struct.pack("!I", len(body) + 4) + body)
                _recv_some(s)  # AuthenticationCleartextPassword
                s.sendall(b"p" + struct.pack("!I", 0xFFFFFFF0))
                _drain(s)  # dropped, never buffered — must not hang
            finally:
                s.close()
            # endpoint still authenticates a well-formed client
            s2 = _conn(srv.host, srv.port)
            try:
                s2.sendall(struct.pack("!I", len(body) + 4) + body)
                _recv_some(s2)
                pw = b"pw\x00"
                s2.sendall(b"p" + struct.pack("!I", len(pw) + 4) + pw)
                buf = _recv_some(s2)
                assert b"R" in buf  # AuthenticationOk
            finally:
                s2.close()
        finally:
            srv.shutdown()

    def test_ch_huge_string_varint(self, ch_srv):
        s = _conn(ch_srv.host, ch_srv.port)
        try:
            # client Hello whose name string declares ~2^49 bytes
            s.sendall(bytes([0]) + b"\xff\xff\xff\xff\xff\xff\x7f")
            _drain(s)  # exception frame or drop — must not hang
        finally:
            s.close()
        _ch_alive(ch_srv)


class TestHTTPBodyCaps:
    """Content-Length and gzip-inflation bounds on the CH HTTP
    endpoint."""

    def _url(self, srv, path="/"):
        h, p = srv.server_address[:2]
        return f"http://{h}:{p}{path}"

    def test_huge_content_length_rejected(self, http_srv):
        import urllib.error

        req = urllib.request.Request(
            self._url(http_srv, "/?query=SELECT+1"),
            data=b"x",
            method="POST",
        )
        req.add_header("Content-Length", str(1 << 40))
        try:
            urllib.request.urlopen(req, timeout=IO_DEADLINE)
            raise AssertionError("expected rejection")
        except urllib.error.HTTPError as e:
            assert e.code == 413
        except OSError:
            pass  # connection dropped mid-body is also acceptable

    def test_gzip_bomb_rejected(self, http_srv):
        import gzip
        import urllib.error

        from bighouse_spark.server import MAX_HTTP_BODY

        # ~300 MiB of zeros compresses to ~300 KiB
        bomb = gzip.compress(b"\x00" * (MAX_HTTP_BODY + 1024))
        assert len(bomb) < 1 << 20
        req = urllib.request.Request(
            self._url(http_srv, "/?query=SELECT+1"), data=bomb,
            method="POST",
        )
        req.add_header("Content-Encoding", "gzip")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=IO_DEADLINE)
        assert ei.value.code == 413

    def test_malformed_gzip_rejected(self, http_srv):
        import urllib.error

        req = urllib.request.Request(
            self._url(http_srv, "/?query=SELECT+1"),
            data=b"not gzip at all", method="POST",
        )
        req.add_header("Content-Encoding", "gzip")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=IO_DEADLINE)
        assert ei.value.code == 400

    def test_normal_gzip_insert_still_works(self, http_srv):
        import gzip

        body = gzip.compress(b"SELECT 41 + 1 AS v FORMAT JSONEachRow")
        req = urllib.request.Request(
            self._url(http_srv, "/"), data=body, method="POST",
        )
        req.add_header("Content-Encoding", "gzip")
        with urllib.request.urlopen(req, timeout=60) as r:
            assert b'"v":42' in r.read().replace(b" ", b"")


class TestTruncatedGzipBody:
    def test_truncated_gzip_member_is_400(self, http_srv):
        import gzip
        import urllib.error

        whole = gzip.compress(b"SELECT 1")
        truncated = whole[:-4]  # cut mid-member -> EOFError path
        h, p = http_srv.server_address[:2]
        req = urllib.request.Request(
            f"http://{h}:{p}/?query=SELECT+1", data=truncated,
            method="POST",
        )
        req.add_header("Content-Encoding", "gzip")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=IO_DEADLINE)
        assert ei.value.code == 400
        assert b"malformed gzip" in ei.value.read()
