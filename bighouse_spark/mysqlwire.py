"""MySQL wire-protocol (client/server protocol 4.1, text resultsets)
endpoint over ``BigHouseEngine`` — the ``mysql_port 9004`` half of the
reference's compatibility surface (``ch/config.xml:138``; the PG half
is ``bighouse_spark.pgwire``). ClickHouse's MySQL endpoint executes
ClickHouse SQL over MySQL framing; same here: every ``COM_QUERY``
routes through ``BigHouseEngine.execute``.

Protocol scope:

* Initial Handshake v10 advertising ``CLIENT_PROTOCOL_41``; any
  credentials accepted (trust, like the PG endpoint — auth is the
  deployment's concern, the reference's CH node is open inside the
  private network).
* ``COM_QUERY`` → column-count, ColumnDefinition41 packets, EOF,
  text rows (length-encoded; NULL = 0xFB), EOF. Errors → ERR packet
  (code 1064) with the engine's message; the connection survives.
* ``COM_STMT_PREPARE``/``EXECUTE``/``CLOSE``/``RESET`` — prepared
  statements, the default path of Connector/J and
  mysql-connector-python for parameterized queries. ``?``
  placeholders are counted outside string literals at prepare,
  bound binary-protocol values are decoded at execute (NULL bitmap,
  rebound types, the common type set), substituted as SQL literals,
  and the result returns as a BINARY resultset (typed LONGLONG/
  DOUBLE/DATE/DATETIME encodings, NULL bitmap).
* ``COM_PING``/``COM_INIT_DB`` → OK; ``COM_QUIT`` closes; anything
  else → ERR 1047 (unknown command), connection survives.

All values render as text with honest column *types* (LONGLONG,
DOUBLE, DATE, DATETIME, VAR_STRING) so clients coerce correctly.
"""

from __future__ import annotations

import hashlib
import hmac
import os
import re
import socketserver
import struct
import threading
from datetime import date, datetime
from decimal import Decimal
from typing import Any

from bighouse_spark.dialect.lexer import mask
from bighouse_spark.engine import BigHouseEngine, QueryRequest
from bighouse_spark.netutil import NoDelayMixin
from bighouse_spark.session_settings import (
    init_queries,
    merge,
    parse_set_statement,
)
from bighouse_spark.formats import ch_base_type

_CLIENT_PROTOCOL_41 = 0x0200
_CLIENT_SSL = 0x0800
_CLIENT_SECURE_CONNECTION = 0x8000
_CLIENT_PLUGIN_AUTH = 0x80000

_TYPE_TINY = 0x01
_TYPE_SHORT = 0x02
_TYPE_LONG = 0x03
_TYPE_FLOAT = 0x04
_TYPE_LONGLONG = 0x08
_TYPE_DOUBLE = 0x05
_TYPE_NULL = 0x06
_TYPE_TIMESTAMP = 0x07
_TYPE_INT24 = 0x09
_TYPE_TIME = 0x0B
_TYPE_YEAR = 0x0D
_TYPE_VARCHAR = 0x0F
_TYPE_NEWDECIMAL = 0xF6
_TYPE_BLOB = 0xFC
_TYPE_DATE = 0x0A
_TYPE_DATETIME = 0x0C
_TYPE_VAR_STRING = 0xFD
_TYPE_STRING = 0xFE

# Result-schema (ClickHouse-spelled) type → MySQL column type; the
# primary typing path (schema-derived, NULL-proof). Value sampling
# remains only for schema-less results (DDL acks).
_CH_MYSQL_TYPES = {
    "Bool": _TYPE_TINY,
    "Int8": _TYPE_TINY,
    "Int16": _TYPE_SHORT,
    "Int32": _TYPE_LONG,
    "Int64": _TYPE_LONGLONG,
    "Float32": _TYPE_FLOAT,
    "Float64": _TYPE_DOUBLE,
    "Decimal": _TYPE_NEWDECIMAL,
    "Date": _TYPE_DATE,
    "DateTime": _TYPE_DATETIME,
    "DateTime64": _TYPE_DATETIME,
    "String": _TYPE_VAR_STRING,
}


def _mysql_type_for(ch_type: str) -> int:
    return _CH_MYSQL_TYPES.get(ch_base_type(ch_type), _TYPE_VAR_STRING)


def _mysql_type(value: Any) -> int:
    if isinstance(value, bool):
        return _TYPE_LONGLONG
    if isinstance(value, int):
        return _TYPE_LONGLONG
    if isinstance(value, float):
        return _TYPE_DOUBLE
    if isinstance(value, Decimal):
        return _TYPE_NEWDECIMAL
    if isinstance(value, datetime):
        return _TYPE_DATETIME
    if isinstance(value, date):
        return _TYPE_DATE
    return _TYPE_VAR_STRING


def _render(value: Any) -> bytes | None:
    if value is None:
        return None
    if isinstance(value, bool):
        return b"1" if value else b"0"
    if isinstance(value, bytes):
        return value.hex().encode()
    if isinstance(value, datetime):
        return value.isoformat(sep=" ").encode()
    if isinstance(value, (list, dict)):
        import json

        return json.dumps(value, default=str).encode()
    return str(value).encode()


def _lenenc(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(b: bytes) -> bytes:
    return _lenenc(len(b)) + b


def _read_lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return int.from_bytes(buf[pos + 1 : pos + 3], "little"), pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9


# -- prepared statements ---------------------------------------------
# ``?`` placeholders live OUTSIDE string literals, quoted identifiers
# and comments.

def _placeholder_positions(sql: str) -> list[int]:
    return [m.start() for m in re.finditer(r"\?", mask(sql))]


def _sql_literal(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, float, Decimal)):
        return str(v)
    if isinstance(v, bytes):
        return "X'" + v.hex() + "'"
    if isinstance(v, datetime):
        s = v.isoformat(sep=" ")
        return f"'{s}'"
    if isinstance(v, date):
        return f"'{v.isoformat()}'"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _substitute_params(sql: str, params: list[Any]) -> str:
    positions = _placeholder_positions(sql)
    if len(positions) != len(params):
        raise ValueError(
            f"statement has {len(positions)} placeholders, "
            f"{len(params)} values bound"
        )
    out, last = [], 0
    for pos, v in zip(positions, params):
        out.append(sql[last:pos])
        out.append(_sql_literal(v))
        last = pos + 1
    out.append(sql[last:])
    return "".join(out)


def _decode_binary_param(
    buf: bytes, pos: int, ptype: int, unsigned: bool
) -> tuple[Any, int]:
    """One bound value off the COM_STMT_EXECUTE payload (binary
    protocol value encoding — the common client-sent type set)."""
    if ptype == _TYPE_NULL:
        return None, pos
    if ptype == _TYPE_TINY:
        v = buf[pos]
        return (v if unsigned else struct.unpack("<b", buf[pos:pos + 1])[0],
                pos + 1)
    if ptype in (_TYPE_SHORT, _TYPE_YEAR):
        fmt = "<H" if unsigned else "<h"
        return struct.unpack(fmt, buf[pos:pos + 2])[0], pos + 2
    if ptype in (_TYPE_LONG, _TYPE_INT24):
        fmt = "<I" if unsigned else "<i"
        return struct.unpack(fmt, buf[pos:pos + 4])[0], pos + 4
    if ptype == _TYPE_LONGLONG:
        fmt = "<Q" if unsigned else "<q"
        return struct.unpack(fmt, buf[pos:pos + 8])[0], pos + 8
    if ptype == _TYPE_FLOAT:
        return struct.unpack("<f", buf[pos:pos + 4])[0], pos + 4
    if ptype == _TYPE_DOUBLE:
        return struct.unpack("<d", buf[pos:pos + 8])[0], pos + 8
    if ptype in (_TYPE_DATE, _TYPE_DATETIME, _TYPE_TIMESTAMP):
        n = buf[pos]
        pos += 1
        if n == 0:
            v: Any = date(1970, 1, 1) if ptype == _TYPE_DATE else \
                datetime(1970, 1, 1)
            return v, pos
        y, mo, d = struct.unpack("<HBB", buf[pos:pos + 4])
        if n == 4:
            val = date(y, mo, d) if ptype == _TYPE_DATE else \
                datetime(y, mo, d)
            return val, pos + 4
        h, mi, s = buf[pos + 4], buf[pos + 5], buf[pos + 6]
        if n == 7:
            return datetime(y, mo, d, h, mi, s), pos + 7
        us = struct.unpack("<I", buf[pos + 7:pos + 11])[0]
        return datetime(y, mo, d, h, mi, s, us), pos + 11
    if ptype == _TYPE_TIME:
        n = buf[pos]
        pos += 1
        if n == 0:
            return "00:00:00", pos
        neg = buf[pos]
        days = struct.unpack("<I", buf[pos + 1:pos + 5])[0]
        h, mi, s = buf[pos + 5], buf[pos + 6], buf[pos + 7]
        frac = ""
        if n == 12:
            us = struct.unpack("<I", buf[pos + 8:pos + 12])[0]
            frac = f".{us:06d}"
        sign = "-" if neg else ""
        return f"{sign}{days * 24 + h:02d}:{mi:02d}:{s:02d}{frac}", pos + n
    # Everything else (VARCHAR/VAR_STRING/STRING/BLOB/NEWDECIMAL/
    # JSON/ENUM...) is a length-encoded string.
    ln, pos = _read_lenenc(buf, pos)
    raw = buf[pos:pos + ln]
    try:
        return raw.decode("utf-8"), pos + ln
    except UnicodeDecodeError:
        return raw, pos + ln


def _encode_binary_value(v: Any, mtype: int) -> bytes:
    """One result value in binary-resultset encoding, matching the
    column type we declared for it."""
    if mtype == _TYPE_TINY:
        return struct.pack("<b", max(-128, min(127, int(v))))
    if mtype == _TYPE_SHORT:
        return struct.pack("<h", int(v))
    if mtype == _TYPE_LONG:
        return struct.pack("<i", int(v))
    if mtype == _TYPE_LONGLONG:
        return struct.pack("<q", int(v))
    if mtype == _TYPE_FLOAT:
        return struct.pack("<f", float(v))
    if mtype == _TYPE_DOUBLE:
        return struct.pack("<d", float(v))
    if mtype == _TYPE_DATE:
        if isinstance(v, datetime):
            v = v.date()
        return bytes([4]) + struct.pack("<HBB", v.year, v.month, v.day)
    if mtype in (_TYPE_DATETIME, _TYPE_TIMESTAMP):
        if isinstance(v, date) and not isinstance(v, datetime):
            v = datetime(v.year, v.month, v.day)
        if v.microsecond:
            return bytes([11]) + struct.pack(
                "<HBBBBBI", v.year, v.month, v.day,
                v.hour, v.minute, v.second, v.microsecond,
            )
        return bytes([7]) + struct.pack(
            "<HBBBBB", v.year, v.month, v.day, v.hour, v.minute, v.second
        )
    data = _render(v)
    return _lenenc_str(data if data is not None else b"")


class _Conn:
    """Packet framing: 3-byte little-endian length + sequence id."""

    def __init__(self, sock):
        self.sock = sock
        self.seq = 0

    def send(self, payload: bytes) -> None:
        # A payload can legally exceed 0xFFFFFF; engine results are
        # driver-bounded rows, so single-frame is fine here.
        self.sock.sendall(
            struct.pack("<I", len(payload))[:3]
            + bytes([self.seq & 0xFF])
            + payload
        )
        self.seq += 1

    def recv(self) -> bytes | None:
        head = self._exact(4)
        if head is None:
            return None
        length = int.from_bytes(head[:3], "little")
        self.seq = (head[3] + 1) & 0xFF
        return self._exact(length)

    def _exact(self, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf


class _MySQLStreamSink:
    """Engine → MySQL-wire row sink (COM_QUERY text resultsets):
    column definitions go out when the engine calls ``start``
    (schema-derived types), each row is one text-protocol packet; the
    caller closes with EOF. A mid-stream failure becomes an ERR
    packet, which legally terminates a resultset."""

    def __init__(self, handler, conn: "_Conn") -> None:
        self._handler = handler
        self._conn = conn
        self.started = False
        self.rows_sent = 0

    def start(self, cols: list[str], types: list[str] | None) -> None:
        self.started = True
        col_types = (
            [_mysql_type_for(t) for t in types]
            if types else [_TYPE_VAR_STRING] * len(cols)
        )
        self._conn.send(_lenenc(len(cols)))
        for name, mtype in zip(cols, col_types):
            self._conn.send(self._handler._coldef(name, mtype))
        self._handler._send_eof(self._conn)

    def write_row(self, row: list) -> None:
        body = b""
        for v in row:
            data = _render(v)
            body += b"\xfb" if data is None else _lenenc_str(data)
        self._conn.send(body)
        self.rows_sent += 1


class _Handler(socketserver.BaseRequestHandler):
    def setup(self) -> None:
        super().setup()
        from bighouse_spark import metrics as _metrics

        _metrics.connection_opened("mysql")

    def finish(self) -> None:
        from bighouse_spark import metrics as _metrics

        try:
            super().finish()
        finally:
            _metrics.connection_closed("mysql")

    def handle(self) -> None:
        conn = _Conn(self.request)
        self._stmts: dict[int, dict[str, Any]] = {}
        self._next_stmt_id = 1
        # Per-connection settings (MySQL semantics: SET is
        # session-scoped): sent with every later statement as its
        # init SET.
        self._settings: dict[str, str] = {}
        try:
            self._handshake(conn)
            resp = conn.recv()  # HandshakeResponse41 (or SSLRequest)
            if resp is None:
                return
            # CLIENT_SSL upgrade: the short SSLRequest packet is the
            # HandshakeResponse prefix only (caps + max-packet +
            # charset + 23 filler = 32 bytes, no username). Wrap the
            # socket and read the real HandshakeResponse over TLS —
            # the packet sequence continues across the handshake.
            ctx = getattr(self.server, "tls_ctx", None)
            if (
                ctx is not None
                and len(resp) == 32
                and struct.unpack_from("<I", resp, 0)[0] & _CLIENT_SSL
            ):
                from bighouse_spark.tlsutil import wrap_server_side

                conn.sock = wrap_server_side(ctx, conn.sock)
                resp = conn.recv()
                if resp is None:
                    return
            if not self._authenticate(conn, resp):
                return
            self._send_ok(conn)
            while True:
                conn.seq = 0
                pkt = conn.recv()
                # Empty packet: treat like a clean close (indexing
                # pkt[0] on b"" would kill the handler thread).
                if not pkt or pkt[0] == 0x01:  # COM_QUIT
                    return
                cmd, arg = pkt[0], pkt[1:]
                if cmd == 0x03:  # COM_QUERY
                    self._query(conn, arg.decode(errors="replace"))
                elif cmd == 0x16:  # COM_STMT_PREPARE
                    self._stmt_prepare(conn, arg.decode(errors="replace"))
                elif cmd == 0x17:  # COM_STMT_EXECUTE
                    self._stmt_execute(conn, arg)
                elif cmd == 0x19:  # COM_STMT_CLOSE — no response
                    if len(arg) >= 4:
                        self._stmts.pop(
                            struct.unpack("<I", arg[:4])[0], None
                        )
                elif cmd == 0x1A:  # COM_STMT_RESET
                    self._send_ok(conn)
                elif cmd in (0x0E, 0x02):  # COM_PING / COM_INIT_DB
                    self._send_ok(conn)
                else:
                    self._send_err(conn, 1047, f"unknown command {cmd:#x}")
        except (ConnectionError, BrokenPipeError, OSError):
            pass

    def _handshake(self, conn: _Conn) -> None:
        caps = (
            _CLIENT_PROTOCOL_41 | _CLIENT_PLUGIN_AUTH
            | _CLIENT_SECURE_CONNECTION
        )
        if getattr(self.server, "tls_ctx", None) is not None:
            caps |= _CLIENT_SSL
        # Per-connection 20-byte scramble nonce, NUL-free (the parts
        # are NUL-terminated on the wire; a 0x00 inside would
        # truncate naive clients).
        self._nonce = bytes((b % 255) + 1 for b in os.urandom(20))
        payload = (
            bytes([10])
            + b"8.0.0-BigHouseSpark\x00"
            + struct.pack("<I", threading.get_ident() & 0x7FFFFFFF)
            + self._nonce[:8] + b"\x00"  # auth-data part 1 + filler
            + struct.pack("<H", caps & 0xFFFF)
            + bytes([0x21])  # charset utf8_general_ci
            + struct.pack("<H", 0x0002)  # status: autocommit
            + struct.pack("<H", (caps >> 16) & 0xFFFF)
            + bytes([21])  # auth data total length
            + b"\x00" * 10
            + self._nonce[8:20] + b"\x00"  # part 2 (13 B incl NUL)
            + b"mysql_native_password\x00"
        )
        conn.send(payload)

    # -- authentication ---------------------------------------------
    #
    # Optional: MySQLWireServer(auth=(user, password)) verifies the
    # mysql_native_password scramble — SHA1(pw) XOR SHA1(nonce +
    # SHA1(SHA1(pw))) — against the per-connection nonce. Default
    # (None) stays trust. The scramble check here and the client's
    # scramble construction in sources/dbclients.py are independent
    # implementations of the two protocol sides.

    def _authenticate(self, conn: _Conn, resp: bytes) -> bool:
        auth = getattr(self.server, "auth", None)
        if auth is None:
            return True
        want_user, want_pw = auth
        try:
            caps = struct.unpack_from("<I", resp, 0)[0]
            off = 4 + 4 + 1 + 23
            end = resp.index(b"\x00", off)
            user = resp[off:end].decode(errors="replace")
            off = end + 1
            if caps & 0x00200000:  # PLUGIN_AUTH_LENENC_CLIENT_DATA
                n, off = _read_lenenc(resp, off)
                token = resp[off:off + n]
            elif caps & _CLIENT_SECURE_CONNECTION:
                n = resp[off]
                off += 1
                token = resp[off:off + n]
            else:  # legacy NUL-terminated
                end = resp.find(b"\x00", off)
                token = resp[off:end if end >= 0 else len(resp)]
        except (IndexError, ValueError, struct.error):
            self._send_err(conn, 1045, "malformed handshake response")
            return False
        if want_pw == "":
            expect = b""
        else:
            pw_sha = hashlib.sha1(want_pw.encode()).digest()
            expect = bytes(
                a ^ b
                for a, b in zip(
                    pw_sha,
                    hashlib.sha1(
                        self._nonce + hashlib.sha1(pw_sha).digest()
                    ).digest(),
                )
            )
        user_ok = hmac.compare_digest(user.encode(), want_user.encode())
        pw_ok = hmac.compare_digest(token, expect)
        if not (user_ok and pw_ok):
            self._send_err(
                conn, 1045,
                f"Access denied for user '{user}' (using password: "
                + ("YES" if token else "NO") + ")",
            )
            return False
        return True

    def _query(self, conn: _Conn, sql: str) -> None:
        sql = sql.strip().rstrip(";")
        if not sql:
            self._send_ok(conn)
            return
        # SELECT rows stream straight off toLocalIterator (at most two
        # partitions on the driver, never the whole result); the
        # engine falls back to the collected path for DDL/acks, cached
        # and capped results.
        sink = _MySQLStreamSink(self, conn)
        try:
            result = self.server.engine.execute(  # type: ignore[attr-defined]
                QueryRequest(
                    query=sql, init_queries=init_queries(self._settings),
                    remote=True,
                ),
                stream_to=sink,
            )
        except Exception as e:
            # An ERR packet legally terminates an in-flight resultset.
            self._send_err(conn, 1064, str(e)[:1500])
            return
        if set_pairs := parse_set_statement(sql):
            self._settings = merge(self._settings, set_pairs)
        if sink.started:
            self._send_eof(conn)
            return
        self._send_resultset(conn, result, binary=False)

    @staticmethod
    def _coldef(name: str, mtype: int) -> bytes:
        nb = name.encode()
        return (
            _lenenc_str(b"def")        # catalog
            + _lenenc_str(b"")          # schema
            + _lenenc_str(b"")          # table
            + _lenenc_str(b"")          # org_table
            + _lenenc_str(nb)           # name
            + _lenenc_str(nb)           # org_name
            + bytes([0x0C])             # fixed-length fields marker
            + struct.pack("<H", 0x21)   # charset
            + struct.pack("<I", 1 << 16)  # column length
            + bytes([mtype])
            + struct.pack("<H", 0)      # flags
            + bytes([0x1F])             # decimals
            + b"\x00\x00"
        )

    def _send_resultset(self, conn: _Conn, result, binary: bool) -> None:
        if result.types:
            col_types = [_mysql_type_for(t) for t in result.types]
        else:
            sample = (
                result.rows[0] if result.rows else [None] * len(result.cols)
            )
            col_types = [_mysql_type(v) for v in sample]
        conn.send(_lenenc(len(result.cols)))
        for name, mtype in zip(result.cols, col_types):
            conn.send(self._coldef(name, mtype))
        self._send_eof(conn)
        if binary:
            # Binary-resultset rows: 0x00 header, NULL bitmap with
            # bit offset 2, then values in binary encoding.
            ncols = len(result.cols)
            for row in result.rows:
                bitmap = bytearray((ncols + 7 + 2) // 8)
                body = bytearray()
                for i, (v, mtype) in enumerate(zip(row, col_types)):
                    if v is None:
                        bitmap[(i + 2) // 8] |= 1 << ((i + 2) % 8)
                    else:
                        body += _encode_binary_value(v, mtype)
                conn.send(b"\x00" + bytes(bitmap) + bytes(body))
        else:
            for row in result.rows:
                tbody = b""
                for v in row:
                    data = _render(v)
                    tbody += b"\xfb" if data is None else _lenenc_str(data)
                conn.send(tbody)
        self._send_eof(conn)

    def _stmt_prepare(self, conn: _Conn, sql: str) -> None:
        sql = sql.strip().rstrip(";")
        nparams = len(_placeholder_positions(sql))
        sid = self._next_stmt_id
        self._next_stmt_id += 1
        self._stmts[sid] = {"sql": sql, "nparams": nparams, "types": None}
        # COM_STMT_PREPARE_OK. num_columns=0: the result schema is
        # only known at execute time (we don't dry-run the query);
        # clients take the execute-time resultset metadata.
        conn.send(
            b"\x00"
            + struct.pack("<I", sid)
            + struct.pack("<H", 0)          # num_columns
            + struct.pack("<H", nparams)
            + b"\x00"
            + struct.pack("<H", 0)          # warnings
        )
        if nparams:
            for _ in range(nparams):
                conn.send(self._coldef("?", _TYPE_VAR_STRING))
            self._send_eof(conn)

    def _stmt_execute(self, conn: _Conn, payload: bytes) -> None:
        if len(payload) < 9:
            self._send_err(conn, 1064, "malformed COM_STMT_EXECUTE")
            return
        sid = struct.unpack("<I", payload[:4])[0]
        st = self._stmts.get(sid)
        if st is None:
            self._send_err(
                conn, 1243, f"Unknown prepared statement handler ({sid})"
            )
            return
        pos = 9  # id(4) + flags(1) + iteration_count(4)
        params: list[Any] = []
        n = st["nparams"]
        try:
            if n:
                nb = (n + 7) // 8
                null_bitmap = payload[pos:pos + nb]
                pos += nb
                if payload[pos]:  # new_params_bound_flag
                    pos += 1
                    types = []
                    for _ in range(n):
                        types.append(
                            (payload[pos], bool(payload[pos + 1] & 0x80))
                        )
                        pos += 2
                    st["types"] = types
                else:
                    pos += 1
                types = st["types"]
                if types is None:
                    self._send_err(conn, 1210, "parameters not bound")
                    return
                for i in range(n):
                    if null_bitmap[i // 8] & (1 << (i % 8)):
                        params.append(None)
                    else:
                        v, pos = _decode_binary_param(
                            payload, pos, *types[i]
                        )
                        params.append(v)
            sql = _substitute_params(st["sql"], params)
        except (IndexError, ValueError, struct.error) as e:
            self._send_err(conn, 1064, f"bad parameter block: {e}")
            return
        try:
            result = self.server.engine.execute(  # type: ignore[attr-defined]
                QueryRequest(
                    query=sql, init_queries=init_queries(self._settings),
                    remote=True,
                )
            )
        except Exception as e:
            self._send_err(conn, 1064, str(e)[:1500])
            return
        if set_pairs := parse_set_statement(sql):
            self._settings = merge(self._settings, set_pairs)
        self._send_resultset(conn, result, binary=True)

    def _send_ok(self, conn: _Conn) -> None:
        conn.send(b"\x00" + _lenenc(0) + _lenenc(0)
                  + struct.pack("<H", 0x0002) + struct.pack("<H", 0))

    def _send_eof(self, conn: _Conn) -> None:
        conn.send(b"\xfe" + struct.pack("<H", 0) + struct.pack("<H", 0x0002))

    def _send_err(self, conn: _Conn, code: int, message: str) -> None:
        conn.send(
            b"\xff" + struct.pack("<H", code) + b"#42000"
            + message.encode()[:1500]
        )


class MySQLWireServer:
    """Threaded MySQL-protocol listener bound to ``engine`` (same
    shape as ``PGWireServer``; ``port=0`` picks a free port)."""

    def __init__(
        self,
        engine: BigHouseEngine | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        auth: tuple[str, str] | None = None,
        tls: tuple[str, str] | None = None,
    ) -> None:
        """``auth``: optional ``(user, password)`` verified with the
        mysql_native_password scramble; None = trust. ``tls``:
        optional ``(certfile, keyfile)`` — the handshake advertises
        CLIENT_SSL; a client that replies with the short SSLRequest
        packet upgrades before sending its real HandshakeResponse
        (plaintext clients remain accepted, MySQL's own default)."""
        self.engine = engine or BigHouseEngine()
        self.auth = auth
        tls_ctx = None
        if tls is not None:
            from bighouse_spark.tlsutil import server_context

            tls_ctx = server_context(*tls)

        outer = self

        class _Server(NoDelayMixin, socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True
            engine = outer.engine
            auth = outer.auth

        _Server.tls_ctx = tls_ctx

        self._server = _Server((host, port), _Handler)
        self.host, self.port = self._server.server_address
        self._thread: threading.Thread | None = None

    def start(self) -> "MySQLWireServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()
