"""PG wire-protocol endpoint tests via a raw-socket v3 client (no PG
driver in the container — the client below implements the public
protocol: startup, simple query, message parsing)."""

from __future__ import annotations

import socket
import struct

import pytest

from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.pgwire import PGWireServer


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class PGClient:
    def __init__(self, host: str, port: int, ssl_probe: bool = False):
        self.sock = socket.create_connection((host, port), timeout=30)
        if ssl_probe:
            self.sock.sendall(struct.pack("!II", 8, 80877103))
            assert self.sock.recv(1) == b"N"
        params = _cstr("user") + _cstr("test") + _cstr("database") + _cstr(
            "default"
        ) + b"\x00"
        body = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        msgs = self.read_until(b"Z")
        assert any(t == b"R" for t, _ in msgs), "AuthenticationOk expected"

    def _read_msg(self):
        head = self._exact(5)
        tag = head[0:1]
        (length,) = struct.unpack("!I", head[1:5])
        return tag, self._exact(length - 4)

    def _exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            assert chunk, "connection closed"
            buf += chunk
        return buf

    def read_until(self, end_tag: bytes):
        msgs = []
        while True:
            tag, payload = self._read_msg()
            msgs.append((tag, payload))
            if tag == end_tag:
                return msgs

    def query(self, sql: str):
        body = _cstr(sql)
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        msgs = self.read_until(b"Z")
        cols, rows, err = [], [], None
        for tag, payload in msgs:
            if tag == b"T":
                (n,) = struct.unpack("!H", payload[:2])
                off = 2
                for _ in range(n):
                    end = payload.index(b"\x00", off)
                    cols.append(payload[off:end].decode())
                    off = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!H", payload[:2])
                off, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[off:off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(payload[off:off + ln].decode())
                        off += ln
                rows.append(row)
            elif tag == b"E":
                fields = {}
                off = 0
                while off < len(payload) and payload[off:off + 1] != b"\x00":
                    code = payload[off:off + 1]
                    end = payload.index(b"\x00", off + 1)
                    fields[code] = payload[off + 1:end].decode()
                    off = end + 1
                err = fields
        return cols, rows, err

    def close(self) -> None:
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


@pytest.fixture(scope="module")
def pg(spark):
    srv = PGWireServer(engine=BigHouseEngine(spark=spark)).start()
    yield srv
    srv.shutdown()


class TestPGWire:
    def test_startup_ssl_probe_and_select(self, pg):
        c = PGClient(pg.host, pg.port, ssl_probe=True)
        try:
            cols, rows, err = c.query(
                "SELECT number AS n, number * 2 AS d FROM numbers(3) "
                "ORDER BY n"
            )
            assert err is None
            assert cols == ["n", "d"]
            assert rows == [["0", "0"], ["1", "2"], ["2", "4"]]
        finally:
            c.close()

    def test_ch_dialect_surface_over_pg(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            cols, rows, err = c.query(
                "SELECT count() AS c, uniq(x) AS u FROM "
                "(SELECT number % 5 AS x FROM numbers(100))"
            )
            assert err is None
            assert cols == ["c", "u"]
            assert rows == [["100", "5"]]
        finally:
            c.close()

    def test_error_keeps_connection_alive(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            _, _, err = c.query("SELECT FROM WHERE nonsense")
            assert err is not None and err[b"S"] == "ERROR"
            assert err[b"C"]  # sqlstate present
            cols, rows, err2 = c.query("SELECT 1 AS ok")
            assert err2 is None and rows == [["1"]]
        finally:
            c.close()

    def test_null_rendering_and_empty_result(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            _, rows, err = c.query("SELECT NULL AS v, 'x' AS s")
            assert err is None and rows == [[None, "x"]]
            cols, rows, err = c.query(
                "SELECT number FROM numbers(5) WHERE number < 0"
            )
            assert err is None and rows == [] and cols == ["number"]
        finally:
            c.close()

    def test_concurrent_connections(self, pg):
        import threading

        results = {}

        def run(i):
            c = PGClient(pg.host, pg.port)
            try:
                _, rows, err = c.query(f"SELECT {i} * 10 AS v")
                results[i] = (rows, err)
            finally:
                c.close()

        ts = [threading.Thread(target=run, args=(i,)) for i in range(4)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert all(
            err is None and rows == [[str(i * 10)]]
            for i, (rows, err) in results.items()
        )

    def test_null_first_row_types_from_schema(self, pg):
        # Typing must come from the result schema, not row-0 value
        # sampling: a NULL leading an Int64 column still types int8.
        c = PGClient(pg.host, pg.port)
        try:
            body = _cstr(
                "SELECT nullIf(number, 0) AS v FROM numbers(3) "
                "ORDER BY number"
            )
            c.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
            msgs = c.read_until(b"Z")
            oids = []
            for tag, payload in msgs:
                if tag == b"T":
                    (n,) = struct.unpack("!H", payload[:2])
                    off = 2
                    for _ in range(n):
                        end = payload.index(b"\x00", off)
                        fixed = payload[end + 1:end + 1 + 18]
                        oids.append(struct.unpack("!I", fixed[6:10])[0])
                        off = end + 1 + 18
            assert oids == [20]  # int8, despite NULL in row 0
            rows = [
                p for t, p in msgs if t == b"D"
            ]
            assert len(rows) == 3
        finally:
            c.close()

    def test_date_and_float_oids_from_schema(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            body = _cstr(
                "SELECT DATE '2024-01-01' AS d, "
                "CAST(1.5 AS DOUBLE) AS f, CAST(NULL AS STRING) AS s"
            )
            c.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
            msgs = c.read_until(b"Z")
            oids = []
            for tag, payload in msgs:
                if tag == b"T":
                    (n,) = struct.unpack("!H", payload[:2])
                    off = 2
                    for _ in range(n):
                        end = payload.index(b"\x00", off)
                        fixed = payload[end + 1:end + 1 + 18]
                        oids.append(struct.unpack("!I", fixed[6:10])[0])
                        off = end + 1 + 18
            assert oids == [1082, 701, 25]  # date, float8, text
        finally:
            c.close()


class TestPGExtendedProtocol:
    """Parse/Bind/Describe/Execute/Close/Sync — the flow psycopg3 and
    JDBC emit by default, driven over raw sockets."""

    @staticmethod
    def _send(c, tag: bytes, payload: bytes):
        c.sock.sendall(tag + struct.pack("!I", len(payload) + 4) + payload)

    def _parse(self, c, stmt: str, sql: str):
        self._send(
            c, b"P", _cstr(stmt) + _cstr(sql) + struct.pack("!H", 0)
        )

    def _bind(self, c, portal: str, stmt: str, params: list):
        body = _cstr(portal) + _cstr(stmt) + struct.pack("!H", 0)
        body += struct.pack("!H", len(params))
        for p in params:
            if p is None:
                body += struct.pack("!i", -1)
            else:
                b = p.encode()
                body += struct.pack("!I", len(b)) + b
        body += struct.pack("!H", 0)  # result formats: default text
        self._send(c, b"B", body)

    def _drain_until_ready(self, c):
        self._send(c, b"S", b"")
        return c.read_until(b"Z")

    def test_parse_bind_describe_execute(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            self._parse(
                c, "s1",
                "SELECT number AS n, number * 3 AS t FROM numbers($1) "
                "ORDER BY n",
            )
            self._bind(c, "", "s1", ["3"])
            self._send(c, b"D", b"P" + _cstr(""))
            self._send(c, b"E", _cstr("") + struct.pack("!i", 0))
            msgs = self._drain_until_ready(c)
            tags = [t for t, _ in msgs]
            assert b"1" in tags  # ParseComplete
            assert b"2" in tags  # BindComplete
            assert b"T" in tags  # RowDescription (from Describe)
            rows = [p for t, p in msgs if t == b"D"]
            assert len(rows) == 3
            # OID from schema in the extended path too.
            tdesc = next(p for t, p in msgs if t == b"T")
            (ncols,) = struct.unpack("!H", tdesc[:2])
            assert ncols == 2
            complete = next(p for t, p in msgs if t == b"C")
            assert complete.startswith(b"SELECT 3")
        finally:
            c.close()

    def test_null_param_and_reuse(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            self._parse(c, "s2", "SELECT coalesce($1, 'absent') AS v")
            for param, want in ([None], b"absent"), (["x"], b"x"):
                self._bind(c, "", "s2", param)
                self._send(c, b"D", b"P" + _cstr(""))
                self._send(c, b"E", _cstr("") + struct.pack("!i", 0))
                msgs = self._drain_until_ready(c)
                row = next(p for t, p in msgs if t == b"D")
                assert want in row
        finally:
            c.close()

    def test_error_skips_to_sync_and_recovers(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            self._bind(c, "", "never_parsed", [])
            # These must be SKIPPED (no dangling responses).
            self._send(c, b"E", _cstr("") + struct.pack("!i", 0))
            msgs = self._drain_until_ready(c)
            errs = [p for t, p in msgs if t == b"E"]
            assert len(errs) == 1  # one error, Execute was swallowed
            # Connection fully usable again after Sync.
            cols, rows, err = c.query("SELECT 9 AS v")
            assert err is None and rows == [["9"]]
        finally:
            c.close()

    def test_close_statement(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            self._parse(c, "s3", "SELECT 1 AS one")
            self._send(c, b"C", b"S" + _cstr("s3"))
            msgs = self._drain_until_ready(c)
            assert b"3" in [t for t, _ in msgs]  # CloseComplete
            self._bind(c, "", "s3", [])
            msgs = self._drain_until_ready(c)
            errs = [p for t, p in msgs if t == b"E"]
            assert errs and b"26000" in errs[0]
        finally:
            c.close()


class TestParamSubstitution:
    def test_backslash_and_quote_escaping(self):
        from bighouse_spark.pgwire import _substitute_params

        out = _substitute_params("SELECT $1 AS v", ["C:\\"])
        assert out == "SELECT 'C:\\\\' AS v"
        out = _substitute_params("SELECT $1", ["it's"])
        assert out == "SELECT 'it''s'"

    def test_dollar_inside_string_literal_untouched(self):
        from bighouse_spark.pgwire import _substitute_params

        out = _substitute_params(
            "SELECT '$1 discount', $1 AS v", ["x"]
        )
        assert out == "SELECT '$1 discount', 'x' AS v"

    def test_out_of_range_token_not_partially_clobbered(self):
        from bighouse_spark.pgwire import _substitute_params

        out = _substitute_params("SELECT $13", ["a"])
        assert out == "SELECT $13"  # left for the engine to reject

    def test_null_and_multi_params(self):
        from bighouse_spark.pgwire import _substitute_params

        out = _substitute_params(
            "SELECT $2, $1, $2", ["a", None]
        )
        assert out == "SELECT NULL, 'a', NULL"

    def test_end_to_end_backslash_param(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            ext = TestPGExtendedProtocol()
            ext._parse(c, "sp", "SELECT length($1) AS n")
            ext._bind(c, "", "sp", ["a\\b"])
            c.sock.sendall(
                b"E" + struct.pack("!I", 4 + len(_cstr("")) + 4)
                + _cstr("") + struct.pack("!i", 0)
            )
            msgs = ext._drain_until_ready(c)
            row = next(p for t, p in msgs if t == b"D")
            # length('a\\b') with escaped backslash = 3 chars
            assert b"3" in row
        finally:
            c.close()


class TestPGConnectionSettings:
    def test_set_persists_per_connection(self, pg):
        # PG semantics: SET lasts for the connection. exact_cityhash
        # flips cityHash64 to the bit-exact path — observable proof
        # of which settings were in effect.
        K2 = "11160318154034397263"
        c1 = PGClient(pg.host, pg.port)
        c2 = PGClient(pg.host, pg.port)
        try:
            c1.query("SET exact_cityhash = 1")
            cols, rows, err = c1.query("SELECT cityHash64('') AS h")
            assert err is None and rows[0][0] == K2
            # Another connection is unaffected.
            _, rows2, err2 = c2.query("SELECT cityHash64('') AS h")
            assert err2 is None and rows2[0][0] != K2
            # PG's SET ... TO spelling works too.
            c2.query("SET exact_cityhash TO 1")
            _, rows3, _ = c2.query("SELECT cityHash64('') AS h")
            assert rows3[0][0] == K2
        finally:
            c1.close()
            c2.close()

    def test_set_is_scoped_to_its_connection(self, pg, spark):
        # A connection's SET is its own: a second connection, and the
        # base session's conf, keep the base value.
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.getAll
        c1 = PGClient(pg.host, pg.port)
        c2 = PGClient(pg.host, pg.port)
        try:
            assert c1.query(f"SET {key} = 3")[2] is None
            assert c1.query(f"SET {key}")[1] == [[key, "3"]]
            assert c2.query(f"SET {key}")[1] == [[key, before[key]]]
        finally:
            c1.close()
            c2.close()
        assert spark.conf.getAll == before

    def test_set_time_zone_is_scoped_to_its_connection(self, pg, spark):
        key = "spark.sql.session.timeZone"
        base = spark.conf.get(key)
        q = "SELECT current_timezone() AS z"
        c1 = PGClient(pg.host, pg.port)
        c2 = PGClient(pg.host, pg.port)
        try:
            assert c1.query("SET TIME ZONE 'America/New_York'")[2] is None
            assert c1.query(q)[1] == [["America/New_York"]]
            assert c2.query(q)[1] == [[base]]
        finally:
            c1.close()
            c2.close()
        assert spark.conf.get(key) == base


class TestPGStreaming:
    def test_large_result_streams_identically(self, pg):
        # The PG protocol is row-framed, so the streamed path emits
        # byte-identical messages to the collected one — the client
        # just sees all rows. 20k rows exercises multiple 64 KiB
        # flush batches and the engine-side toLocalIterator path
        # (rows=[] driver-side, proven in test_http_streaming).
        c = PGClient(pg.host, pg.port)
        try:
            cols, rows, err = c.query(
                "SELECT number AS n, concat('r', toString(number)) AS s "
                "FROM numbers(20000) ORDER BY n"
            )
            assert err is None
            assert cols == ["n", "s"]
            assert len(rows) == 20000
            assert rows[0] == ["0", "r0"] and rows[-1] == ["19999", "r19999"]
            # connection stays healthy for the next query
            _, r2, e2 = c.query("SELECT 1 AS x")
            assert e2 is None and r2 == [["1"]]
        finally:
            c.close()


class TestPGExtendedProtocolSettings(TestPGExtendedProtocol):
    def test_set_to_persists_via_extended_protocol(self, pg):
        # psycopg3 sends SET through Parse/Bind/Execute; the TO
        # spelling must normalize and persist for the connection.
        K2 = "11160318154034397263"
        c = PGClient(pg.host, pg.port)
        try:
            self._parse(c, "", "SET exact_cityhash TO 1")
            self._bind(c, "", "", [])
            self._send(c, b"E", _cstr("") + struct.pack("!i", 0))
            self._drain_until_ready(c)
            _, rows, err = c.query("SELECT cityHash64('') AS h")
            assert err is None and rows[0][0] == K2
        finally:
            c.close()


class TestPGRbacOverWire:
    """Round-12 seam probe: the RBAC acknowledgements travel the PG
    wire — SET ROLE is NOT swallowed by the per-connection settings
    path (it has no k=v pair), GRANT/SHOW GRANTS answer, REVOKE
    refuses with the trust-model message and the connection stays
    alive for the next query."""

    def test_rbac_statements_over_pg_wire(self, pg):
        c = PGClient(pg.host, pg.port)
        try:
            cols, rows, err = c.query("SET ROLE admin")
            assert err is None and rows == [["1"]]
            _, rows, err = c.query("SHOW GRANTS")
            assert err is None
            assert rows == [["GRANT ALL ON *.* TO default"]]
            _, rows, err = c.query("GRANT SELECT ON *.* TO bob")
            assert err is None and rows == [["1"]]
            _, _, err = c.query("REVOKE SELECT ON *.* FROM bob")
            assert err is not None
            assert "trust auth model" in err[b"M"]
            # connection survives the refusal
            _, rows, err = c.query("SELECT 1 AS x")
            assert err is None and rows == [["1"]]
        finally:
            c.close()

    def test_set_role_does_not_pollute_settings(self, pg):
        # SET ROLE must not leave a bogus per-connection setting that
        # gets re-injected as SETTINGS role = ... on later SELECTs.
        c = PGClient(pg.host, pg.port)
        try:
            c.query("SET ROLE admin")
            _, rows, err = c.query(
                "SELECT number AS n FROM numbers(2) ORDER BY n"
            )
            assert err is None and rows == [["0"], ["1"]]
        finally:
            c.close()
