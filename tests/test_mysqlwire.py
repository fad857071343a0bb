"""MySQL wire-protocol endpoint tests via a raw-socket 4.1 client."""

from __future__ import annotations

import socket
import struct

import pytest

from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.mysqlwire import MySQLWireServer


class MyClient:
    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port), timeout=30)
        self.seq = 0
        handshake = self._recv()
        assert handshake[0] == 10  # protocol version
        assert b"BigHouseSpark" in handshake
        # HandshakeResponse41: caps, max packet, charset, 23 zeros,
        # user, empty auth response.
        body = (
            struct.pack("<I", 0x0200)
            + struct.pack("<I", 1 << 24)
            + bytes([0x21])
            + b"\x00" * 23
            + b"tester\x00"
            + b"\x00"
        )
        self._send(body)
        ok = self._recv()
        assert ok[0] == 0x00

    def _send(self, payload: bytes) -> None:
        self.sock.sendall(
            struct.pack("<I", len(payload))[:3]
            + bytes([self.seq & 0xFF])
            + payload
        )
        self.seq += 1

    def _recv(self) -> bytes:
        head = self._exact(4)
        length = int.from_bytes(head[:3], "little")
        self.seq = (head[3] + 1) & 0xFF
        return self._exact(length)

    def _exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            assert chunk, "connection closed"
            buf += chunk
        return buf

    @staticmethod
    def _lenenc(buf: bytes, off: int):
        b0 = buf[off]
        if b0 < 0xFB:
            return b0, off + 1
        if b0 == 0xFC:
            return int.from_bytes(buf[off + 1:off + 3], "little"), off + 3
        if b0 == 0xFD:
            return int.from_bytes(buf[off + 1:off + 4], "little"), off + 4
        return int.from_bytes(buf[off + 1:off + 9], "little"), off + 9

    def query(self, sql: str):
        self.seq = 0
        self._send(b"\x03" + sql.encode())
        first = self._recv()
        if first[0] == 0xFF:
            code = struct.unpack("<H", first[1:3])[0]
            return None, None, (code, first[9:].decode(errors="replace"))
        ncols, _ = self._lenenc(first, 0)
        cols = []
        for _ in range(ncols):
            pkt = self._recv()
            off = 0
            vals = []
            for _ in range(6):  # catalog..org_name
                ln, off = self._lenenc(pkt, off)
                vals.append(pkt[off:off + ln])
                off += ln
            cols.append(vals[4].decode())
        eof = self._recv()
        assert eof[0] == 0xFE
        rows = []
        while True:
            pkt = self._recv()
            if pkt[0] == 0xFE and len(pkt) < 9:
                break
            off, row = 0, []
            for _ in range(ncols):
                if pkt[off] == 0xFB:
                    row.append(None)
                    off += 1
                else:
                    ln, off = self._lenenc(pkt, off)
                    row.append(pkt[off:off + ln].decode())
                    off += ln
            rows.append(row)
        return cols, rows, None

    def ping(self) -> bool:
        self.seq = 0
        self._send(b"\x0e")
        return self._recv()[0] == 0x00

    def close(self) -> None:
        self.seq = 0
        self._send(b"\x01")
        self.sock.close()


@pytest.fixture(scope="module")
def my(spark):
    srv = MySQLWireServer(engine=BigHouseEngine(spark=spark)).start()
    yield srv
    srv.shutdown()


class TestMySQLWire:
    def test_handshake_ping_and_select(self, my):
        c = MyClient(my.host, my.port)
        try:
            assert c.ping()
            cols, rows, err = c.query(
                "SELECT number AS n, number + 1 AS m FROM numbers(3) "
                "ORDER BY n"
            )
            assert err is None
            assert cols == ["n", "m"]
            assert rows == [["0", "1"], ["1", "2"], ["2", "3"]]
        finally:
            c.close()

    def test_ch_dialect_and_null(self, my):
        c = MyClient(my.host, my.port)
        try:
            cols, rows, err = c.query(
                "SELECT uniq(x) AS u, NULL AS v FROM "
                "(SELECT number % 7 AS x FROM numbers(50))"
            )
            assert err is None
            assert cols == ["u", "v"]
            assert rows == [["7", None]]
        finally:
            c.close()

    def test_error_then_recovery(self, my):
        c = MyClient(my.host, my.port)
        try:
            _, _, err = c.query("SELEC nonsense")
            assert err is not None and err[0] == 1064
            cols, rows, err2 = c.query("SELECT 42 AS a")
            assert err2 is None and rows == [["42"]]
        finally:
            c.close()


class TestMySQLTyping:
    def test_null_first_row_types_from_schema(self, my):
        # Column type must come from the result schema, not row-0
        # sampling: NULL leading an Int64 column still types LONGLONG.
        c = MyClient(my.host, my.port)
        try:
            c.seq = 0
            c._send(
                b"\x03" + b"SELECT nullIf(number, 0) AS v FROM "
                b"numbers(3) ORDER BY number"
            )
            first = c._recv()
            assert first[0] != 0xFF
            ncols, _ = c._lenenc(first, 0)
            types = []
            for _ in range(ncols):
                pkt = c._recv()
                off = 0
                for _ in range(6):
                    ln, off = c._lenenc(pkt, off)
                    off += ln
                # fixed block: 0x0C marker, charset(2), length(4),
                # type(1), ...
                types.append(pkt[off + 7])
            assert types == [0x08]  # MYSQL_TYPE_LONGLONG
            # drain: EOF, rows, EOF
            eof = c._recv()
            assert eof[0] == 0xFE
            while True:
                pkt = c._recv()
                if pkt[0] == 0xFE and len(pkt) < 9:
                    break
        finally:
            c.close()


class PreparedClient(MyClient):
    """Adds COM_STMT_PREPARE/EXECUTE/CLOSE (binary protocol)."""

    def stmt_prepare(self, sql: str):
        self.seq = 0
        self._send(b"\x16" + sql.encode())
        first = self._recv()
        if first[0] == 0xFF:
            code = struct.unpack("<H", first[1:3])[0]
            return None, (code, first[9:].decode(errors="replace"))
        assert first[0] == 0x00
        sid = struct.unpack("<I", first[1:5])[0]
        ncols = struct.unpack("<H", first[5:7])[0]
        nparams = struct.unpack("<H", first[7:9])[0]
        if nparams:
            for _ in range(nparams):
                self._recv()
            assert self._recv()[0] == 0xFE
        if ncols:
            for _ in range(ncols):
                self._recv()
            assert self._recv()[0] == 0xFE
        return {"sid": sid, "ncols": ncols, "nparams": nparams}, None

    @staticmethod
    def _encode_param(v):
        import datetime as dt

        if isinstance(v, bool):
            return bytes([0x01, 0]), struct.pack("<b", int(v))
        if isinstance(v, int):
            return bytes([0x08, 0]), struct.pack("<q", v)
        if isinstance(v, float):
            return bytes([0x05, 0]), struct.pack("<d", v)
        if isinstance(v, dt.datetime):
            return bytes([0x0C, 0]), bytes([7]) + struct.pack(
                "<HBBBBB", v.year, v.month, v.day,
                v.hour, v.minute, v.second)
        if isinstance(v, dt.date):
            return bytes([0x0A, 0]), bytes([4]) + struct.pack(
                "<HBB", v.year, v.month, v.day)
        b = v.encode() if isinstance(v, str) else bytes(v)
        assert len(b) < 251
        return bytes([0xFD, 0]), bytes([len(b)]) + b

    def stmt_execute(self, sid: int, params, rebind=True):
        self.seq = 0
        payload = (b"\x17" + struct.pack("<I", sid) + b"\x00"
                   + struct.pack("<I", 1))
        n = len(params)
        if n:
            bitmap = bytearray((n + 7) // 8)
            types = b""
            values = b""
            for i, v in enumerate(params):
                if v is None:
                    bitmap[i // 8] |= 1 << (i % 8)
                    types += bytes([0x06, 0])
                else:
                    t, enc = self._encode_param(v)
                    types += t
                    values += enc
            payload += bytes(bitmap)
            payload += (b"\x01" + types) if rebind else b"\x00"
            payload += values
        self._send(payload)
        first = self._recv()
        if first[0] == 0xFF:
            code = struct.unpack("<H", first[1:3])[0]
            return None, None, (code, first[9:].decode(errors="replace"))
        ncols, _ = self._lenenc(first, 0)
        cols, ctypes = [], []
        for _ in range(ncols):
            pkt = self._recv()
            off = 0
            vals = []
            for _ in range(6):
                ln, off = self._lenenc(pkt, off)
                vals.append(pkt[off:off + ln])
                off += ln
            cols.append(vals[4].decode())
            ctypes.append(pkt[off + 7])
        assert self._recv()[0] == 0xFE
        rows = []
        while True:
            pkt = self._recv()
            if pkt[0] == 0xFE and len(pkt) < 9:
                break
            assert pkt[0] == 0x00
            nb = (ncols + 7 + 2) // 8
            bitmap, off = pkt[1:1 + nb], 1 + nb
            row = []
            for i, t in enumerate(ctypes):
                if bitmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                    row.append(None)
                    continue
                if t == 0x08:
                    row.append(struct.unpack("<q", pkt[off:off + 8])[0])
                    off += 8
                elif t == 0x03:
                    row.append(struct.unpack("<i", pkt[off:off + 4])[0])
                    off += 4
                elif t == 0x02:
                    row.append(struct.unpack("<h", pkt[off:off + 2])[0])
                    off += 2
                elif t == 0x05:
                    row.append(struct.unpack("<d", pkt[off:off + 8])[0])
                    off += 8
                elif t == 0x04:
                    row.append(struct.unpack("<f", pkt[off:off + 4])[0])
                    off += 4
                elif t == 0x01:
                    row.append(struct.unpack("<b", pkt[off:off + 1])[0])
                    off += 1
                elif t in (0x0A, 0x0C, 0x07):
                    ln = pkt[off]
                    row.append(pkt[off:off + 1 + ln])
                    off += 1 + ln
                else:
                    ln, off = self._lenenc(pkt, off)
                    row.append(pkt[off:off + ln].decode())
                    off += ln
            rows.append(row)
        return cols, rows, None

    def stmt_close(self, sid: int) -> None:
        self.seq = 0
        self._send(b"\x19" + struct.pack("<I", sid))  # no response


class TestMySQLPreparedStatements:
    def test_prepare_execute_int_params(self, my):
        c = PreparedClient(my.host, my.port)
        try:
            st, err = c.stmt_prepare(
                "SELECT number AS n FROM numbers(10) "
                "WHERE number > ? AND number < ? ORDER BY n"
            )
            assert err is None and st["nparams"] == 2
            cols, rows, err = c.stmt_execute(st["sid"], [3, 7])
            assert err is None
            assert cols == ["n"]
            assert rows == [[4], [5], [6]]  # typed ints, binary protocol
        finally:
            c.close()

    def test_string_null_and_literal_placeholder(self, my):
        c = PreparedClient(my.host, my.port)
        try:
            st, err = c.stmt_prepare("SELECT '?' AS lit, upper(?) AS u, ? AS v")
            assert err is None
            assert st["nparams"] == 2  # the quoted ? is not a param
            cols, rows, err = c.stmt_execute(st["sid"], ["abc", None])
            assert err is None
            assert cols == ["lit", "u", "v"]
            assert rows == [["?", "ABC", None]]
        finally:
            c.close()

    def test_reexecute_without_rebind(self, my):
        c = PreparedClient(my.host, my.port)
        try:
            st, _ = c.stmt_prepare("SELECT ? + 1 AS x")
            _, rows, err = c.stmt_execute(st["sid"], [41])
            assert err is None and rows == [[42]]
            # second execute: new_params_bound_flag = 0, types reused
            _, rows2, err2 = c.stmt_execute(st["sid"], [99], rebind=False)
            assert err2 is None and rows2 == [[100]]
        finally:
            c.close()

    def test_double_and_date_params(self, my):
        import datetime as dt

        c = PreparedClient(my.host, my.port)
        try:
            st, _ = c.stmt_prepare(
                "SELECT ? * 2 AS d, toYear(toDate(?)) AS y"
            )
            cols, rows, err = c.stmt_execute(
                st["sid"], [2.25, dt.date(2024, 3, 15)]
            )
            assert err is None
            # 2.25 parses as DECIMAL(3,2): NEWDECIMAL rides as a
            # length-encoded string in the binary protocol.
            assert float(rows[0][0]) == 4.5
            assert rows[0][1] in (2024, "2024")
        finally:
            c.close()

    def test_close_then_execute_errors(self, my):
        c = PreparedClient(my.host, my.port)
        try:
            st, _ = c.stmt_prepare("SELECT ? AS v")
            c.stmt_close(st["sid"])
            _, _, err = c.stmt_execute(st["sid"], [1])
            assert err is not None and err[0] == 1243
            # connection survives: plain query still works
            cols, rows, qerr = c.query("SELECT 7 AS ok")
            assert qerr is None and rows == [["7"]]
        finally:
            c.close()

    def test_prepare_bad_sql_errors_at_execute(self, my):
        # Prepare doesn't dry-run (num_columns=0); a bad statement
        # errors at execute and the connection survives.
        c = PreparedClient(my.host, my.port)
        try:
            st, err = c.stmt_prepare("SELEC nonsense FROM ?")
            assert err is None
            _, _, xerr = c.stmt_execute(st["sid"], ["t"])
            assert xerr is not None and xerr[0] == 1064
            assert c.ping()
        finally:
            c.close()


class TestMySQLConnectionSettings:
    def test_set_persists_per_connection(self, my):
        K2 = "11160318154034397263"
        c1 = MyClient(my.host, my.port)
        c2 = MyClient(my.host, my.port)
        try:
            c1.query("SET exact_cityhash = 1")
            _, rows, err = c1.query("SELECT cityHash64('') AS h")
            assert err is None and rows[0][0] == K2
            _, rows2, err2 = c2.query("SELECT cityHash64('') AS h")
            assert err2 is None and rows2[0][0] != K2
        finally:
            c1.close()
            c2.close()

    def test_set_is_scoped_to_its_connection(self, my, spark):
        # A connection's SET is its own: a second connection, and the
        # base session's conf, keep the base value.
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.getAll
        c1 = MyClient(my.host, my.port)
        c2 = MyClient(my.host, my.port)
        try:
            assert c1.query(f"SET {key} = 3")[2] is None
            assert c1.query(f"SET {key}")[1] == [[key, "3"]]
            assert c2.query(f"SET {key}")[1] == [[key, before[key]]]
        finally:
            c1.close()
            c2.close()
        assert spark.conf.getAll == before


class TestMySQLStreaming:
    def test_large_result_streams_identically(self, my):
        c = MyClient(my.host, my.port)
        try:
            cols, rows, err = c.query(
                "SELECT number AS n FROM numbers(20000) ORDER BY n"
            )
            assert err is None and cols == ["n"]
            assert len(rows) == 20000
            assert rows[0] == ["0"] and rows[-1] == ["19999"]
            assert c.ping()
        finally:
            c.close()


class TestMySQLRbacOverWire:
    """Round-12 seam probe twin of TestPGRbacOverWire."""

    def test_rbac_statements_over_mysql_wire(self, my):
        c = MyClient(my.host, my.port)
        try:
            cols, rows, err = c.query("SET ROLE admin")
            assert err is None and rows == [["1"]]
            _, rows, err = c.query("SHOW GRANTS")
            assert err is None
            assert rows == [["GRANT ALL ON *.* TO default"]]
            _, _, err = c.query("REVOKE SELECT ON *.* FROM bob")
            assert err is not None and "trust auth model" in err[1]
            _, rows, err = c.query("SELECT 1 AS x")
            assert err is None and rows == [["1"]]
        finally:
            c.close()
