"""PostgreSQL wire-protocol (v3) endpoint over ``BigHouseEngine``.

The reference's ClickHouse node exposes MySQL and PostgreSQL
compatibility ports (``ch/config.xml:138,143``); ClickHouse's
postgresql endpoint speaks the PG *wire* protocol while executing
queries in ClickHouse SQL. This module is the Spark analog: a
framework-free (stdlib ``socketserver`` + ``struct``) PG v3 server
that routes every simple-protocol ``Query`` through
``BigHouseEngine.execute`` — so any PG client (psql, JDBC/psycopg in
simple-query mode) can run the engine's full ClickHouse-dialect
surface, table functions and SETTINGS included.

Protocol scope (mirrors what ClickHouse's own endpoint supports):

* StartupMessage (3.0). SSLRequest upgrades to TLS when the server
  was built with ``tls=(cert, key)`` (``S`` + handshake before the
  startup packet — the sslmode=require path); otherwise it is
  politely declined (``N``), like CH with SSL unconfigured.
  GSSENCRequest is always declined.
* AuthenticationOk (trust), ParameterStatus, BackendKeyData,
  ReadyForQuery.
* Simple ``Query`` ('Q'): RowDescription + DataRow* (text format) +
  CommandComplete + ReadyForQuery; errors → ErrorResponse with a
  SQLSTATE and the engine's message, then ReadyForQuery (the
  connection survives, matching PG semantics).
* Extended protocol (what psycopg3 / JDBC emit by default): Parse /
  Bind / Describe / Execute / Close / Sync / Flush. Prepared
  statements are stored as SQL text; Bind substitutes text-format
  ``$n`` parameters as quoted literals (the engine re-plans per
  execution — honest for an analytics engine with no plan cache);
  Describe-portal executes the query once to produce an accurate
  RowDescription, and Execute replays the cached result rows.
  Binary-format parameters and binary result codes are declined with
  0A000 so drivers fall back or surface a clean error.
* ``Terminate`` ('X') closes.

Results are rendered in text format with honest type OIDs for ints,
floats, bools, dates and timestamps (everything else is ``text``),
which every PG client accepts.
"""

from __future__ import annotations

import base64
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

from bighouse_spark.dialect.lexer import in_span, quote
from bighouse_spark.engine import BigHouseEngine, QueryRequest
from bighouse_spark.netutil import NoDelayMixin
from bighouse_spark.session_settings import (
    init_queries,
    merge,
    parse_set_statement,
)
from bighouse_spark.formats import ch_base_type

_PROTO_V3 = 196608
_SSL_REQUEST = 80877103

# Wire-safety caps: a message's declared length is attacker data —
# reading it verbatim lets one connection make the server buffer
# gigabytes. 64 MiB passes any real query text / COPY chunk; startup
# packets are key=value pairs and never approach 64 KiB (PG itself
# rejects oversized startup packets).
MAX_MSG_LEN = 64 * 1024 * 1024
MAX_STARTUP_LEN = 64 * 1024
# Pre-auth messages (PasswordMessage / SASLInitialResponse /
# SASLResponse) are tiny; cap them so an unauthenticated client cannot
# declare a ~4 GiB length and exhaust server memory.
MAX_AUTH_MSG_LEN = 64 * 1024
_GSSENC_REQUEST = 80877104
_CANCEL_REQUEST = 80877102

# PG type OIDs (pg_type.dat — public catalog constants).
_OID_BOOL = 16
_OID_INT2 = 21
_OID_INT4 = 23
_OID_INT8 = 20
_OID_FLOAT4 = 700
_OID_FLOAT8 = 701
_OID_NUMERIC = 1700
_OID_DATE = 1082
_OID_TIMESTAMP = 1114
_OID_TEXT = 25

# Result-schema (ClickHouse-spelled) type → OID. This is the primary
# typing path: derived from the DataFrame schema the engine already
# carries, so a NULL in row 0 can't demote a column to text.
_CH_OIDS = {
    "Bool": _OID_BOOL,
    "Int8": _OID_INT2,
    "Int16": _OID_INT2,
    "Int32": _OID_INT4,
    "Int64": _OID_INT8,
    "Float32": _OID_FLOAT4,
    "Float64": _OID_FLOAT8,
    "Decimal": _OID_NUMERIC,
    "Date": _OID_DATE,
    "DateTime": _OID_TIMESTAMP,
    "DateTime64": _OID_TIMESTAMP,
    "String": _OID_TEXT,
}


def _oid_for_type(ch_type: str) -> int:
    return _CH_OIDS.get(ch_base_type(ch_type), _OID_TEXT)


def _oid_for(value: Any) -> int:
    """Value-sampling fallback for results without schema metadata
    (DDL acks and other non-SELECT paths)."""
    if isinstance(value, bool):
        return _OID_BOOL
    if isinstance(value, int):
        return _OID_INT8
    if isinstance(value, float):
        return _OID_FLOAT8
    if isinstance(value, Decimal):
        return _OID_NUMERIC
    if isinstance(value, datetime):
        return _OID_TIMESTAMP
    if isinstance(value, date):
        return _OID_DATE
    return _OID_TEXT


def _render(value: Any) -> bytes | None:
    if value is None:
        return None
    if isinstance(value, bool):
        return b"t" if value else b"f"
    if isinstance(value, bytes):
        return b"\\x" + value.hex().encode()
    if isinstance(value, (datetime, date)):
        return value.isoformat(sep=" ").encode() if isinstance(
            value, datetime
        ) else value.isoformat().encode()
    if isinstance(value, (list, dict)):
        import json

        return json.dumps(value, default=str).encode()
    return str(value).encode()


_PARAM_TOKEN_RE = re.compile(r"\$(\d+)")


def _pg_literal(v: str | None) -> str:
    # lexer.quote escapes \\ too: a trailing backslash must not
    # swallow the closing quote (an injection-shaped bug).
    return "NULL" if v is None else quote(v)


def _substitute_params(sql: str, params: list) -> str:
    """Bind text-format params: ``$n`` → quoted literal (NULL for
    null). Token-exact (``$13`` never partially matches ``$1``),
    span-aware (``$n`` inside a string literal, quoted identifier
    or comment is data, not a parameter), and out-of-range tokens are left untouched so the
    engine reports them. String literals are fine for numerics too —
    the engine's analyzer coerces them (ANSI implicit cast)."""

    def bind(m: re.Match) -> str:
        idx = int(m.group(1))
        if in_span(sql, m.start()) or not 1 <= idx <= len(params):
            return m.group(0)
        return _pg_literal(params[idx - 1])

    return _PARAM_TOKEN_RE.sub(bind, sql)


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


class _PGStreamSink:
    """Engine → PG-wire row sink: RowDescription goes out when the
    engine calls ``start`` (schema-derived OIDs — the types are known
    before the first row), each row is one DataRow message."""

    CHUNK = 64 * 1024  # socket-write batch; the only row buffer

    def __init__(self, handler, sock) -> None:
        self._handler = handler
        self._sock = sock
        self.started = False
        self.rows_sent = 0
        self._buf = bytearray()

    def start(self, cols: list[str], types: list[str] | None) -> None:
        self.started = True
        oids = (
            [_oid_for_type(t) for t in types]
            if types else [_OID_TEXT] * len(cols)
        )
        desc = struct.pack("!H", len(cols))
        for name, oid in zip(cols, oids):
            desc += (
                _cstr(name)
                + struct.pack("!IHIhih", 0, 0, oid, -1, -1, 0)
            )
        self._buf += _msg(b"T", desc)

    def write_row(self, row: list) -> None:
        body = struct.pack("!H", len(row))
        for v in row:
            data = _render(v)
            if data is None:
                body += struct.pack("!i", -1)
            else:
                body += struct.pack("!I", len(data)) + data
        self._buf += _msg(b"D", body)
        self.rows_sent += 1
        if len(self._buf) >= self.CHUNK:
            self.flush()

    def flush(self) -> None:
        if self._buf:
            self._sock.sendall(bytes(self._buf))
            self._buf.clear()


class _Handler(socketserver.BaseRequestHandler):
    # self.server is the ThreadingTCPServer subclass carrying .engine

    def setup(self) -> None:
        super().setup()
        from bighouse_spark import metrics as _metrics

        _metrics.connection_opened("postgresql")

    def finish(self) -> None:
        from bighouse_spark import metrics as _metrics

        try:
            super().finish()
        finally:
            _metrics.connection_closed("postgresql")

    def handle(self) -> None:  # noqa: C901 — one protocol loop
        sock = self.request
        # Extended-protocol state: named prepared statements (SQL
        # text) and portals (bound SQL + cached execution result).
        self._stmts: dict[str, str] = {}
        self._portals: dict[str, dict[str, Any]] = {}
        self._ext_error = False  # swallow until Sync after an error
        # Per-connection settings (PG semantics: SET lasts for the
        # session/connection; 'SET k TO v' accepted too): sent with
        # every later statement as its init SET.
        self._settings: dict[str, str] = {}
        try:
            sock = self._startup(sock)
            if sock is None:
                return
            self._send_ready(sock)
            while True:
                head = self._recv_exact(sock, 5)
                if head is None:
                    return
                tag, length = head[0:1], struct.unpack("!I", head[1:5])[0]
                if not 4 <= length <= MAX_MSG_LEN:
                    return  # malformed or hostile framing: drop
                payload = self._recv_exact(sock, length - 4)
                if payload is None:
                    return
                if tag == b"X":
                    return
                if tag == b"Q":
                    self._query(sock, payload[:-1].decode(errors="replace"))
                    self._send_ready(sock)
                elif tag == b"S":  # Sync: clear error state, ready
                    self._ext_error = False
                    self._send_ready(sock)
                elif self._ext_error:
                    continue  # skip until Sync, per protocol
                elif tag == b"P":
                    self._ext_parse(sock, payload)
                elif tag == b"B":
                    self._ext_bind(sock, payload)
                elif tag == b"D":
                    self._ext_describe(sock, payload)
                elif tag == b"E":
                    self._ext_execute(sock, payload)
                elif tag == b"C":
                    self._ext_close(sock, payload)
                elif tag == b"H":  # Flush — we always send eagerly
                    pass
                # anything else: ignore
        except (ConnectionError, BrokenPipeError, OSError):
            pass

    # -- startup ---------------------------------------------------

    def _startup(self, sock):
        """Run the startup negotiation; returns the (possibly
        TLS-wrapped) socket, or None to drop the connection."""
        while True:
            head = self._recv_exact(sock, 8)
            if head is None:
                return None
            length, code = struct.unpack("!II", head)
            if not 8 <= length <= MAX_STARTUP_LEN:
                return None  # malformed or hostile framing: drop
            if code == _SSL_REQUEST:
                # PG's STARTTLS: 'S' + handshake when the server has
                # a TLS context (sslmode=require/verify-*), else the
                # polite 'N' and the client may continue plaintext.
                ctx = getattr(self.server, "tls_ctx", None)
                if ctx is None:
                    sock.sendall(b"N")
                    continue
                sock.sendall(b"S")
                from bighouse_spark.tlsutil import wrap_server_side

                sock = wrap_server_side(ctx, sock)
                self.request = sock
                continue
            if code == _GSSENC_REQUEST:
                sock.sendall(b"N")
                continue
            if code == _CANCEL_REQUEST:
                return None
            body = self._recv_exact(sock, length - 8)
            if body is None or code != _PROTO_V3:
                return None
            break
        # Startup parameters: NUL-separated key/value pairs, NUL end.
        params: dict[str, str] = {}
        fields = body.split(b"\x00")
        for i in range(0, len(fields) - 1, 2):
            if fields[i]:
                params[fields[i].decode(errors="replace")] = fields[
                    i + 1
                ].decode(errors="replace")
        if not self._authenticate(sock, params.get("user", "")):
            return None
        sock.sendall(_msg(b"R", struct.pack("!I", 0)))  # AuthenticationOk
        for k, v in (
            ("server_version", "16.0 (BigHouse Spark engine)"),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO, YMD"),
            ("integer_datetimes", "on"),
        ):
            sock.sendall(_msg(b"S", _cstr(k) + _cstr(v)))
        sock.sendall(
            _msg(b"K", struct.pack("!II", threading.get_ident() & 0x7FFFFFFF, 0))
        )
        return sock

    # -- authentication ---------------------------------------------
    #
    # Optional: PGWireServer(auth=(mode, user, password)) with mode in
    # {"password", "md5", "scram-sha-256"}. Default (None) stays
    # trust, matching the reference's in-VPC posture. SCRAM follows
    # RFC 5802/7677 over the PG SASL framing (AuthenticationSASL /
    # SASLContinue / SASLFinal). Over a TLS-upgraded connection the
    # server also offers SCRAM-SHA-256-PLUS with tls-server-end-point
    # channel binding (RFC 5929) and enforces the RFC 5802 'y'-flag
    # downgrade check; plaintext connections offer only the base
    # mechanism.

    def _auth_fail(self, sock, user: str) -> bool:
        self._send_error(
            sock, "28P01",
            f'password authentication failed for user "{user}"',
        )
        return False

    def _read_password_msg(self, sock) -> bytes | None:
        head = self._recv_exact(sock, 5)
        if head is None or head[0:1] != b"p":
            return None
        (length,) = struct.unpack("!I", head[1:5])
        # Attacker-declared length: bound it BEFORE buffering, same as
        # the main loop's MAX_MSG_LEN check — an auth payload (password
        # or SCRAM message) never legitimately approaches even this.
        if not 4 <= length <= MAX_AUTH_MSG_LEN:
            return None
        return self._recv_exact(sock, length - 4)

    def _authenticate(self, sock, startup_user: str) -> bool:
        auth = getattr(self.server, "auth", None)
        if auth is None:
            return True
        mode, want_user, want_pw = auth
        # Never reject on username alone — run the full password
        # exchange with an unguessable doomed password instead, so the
        # response shape can't be used as a username-existence oracle
        # (real PostgreSQL behaves the same way).
        if not hmac.compare_digest(
            startup_user.encode(), want_user.encode()
        ):
            want_pw = base64.b64encode(os.urandom(18)).decode()
        if mode == "password":
            sock.sendall(_msg(b"R", struct.pack("!I", 3)))
            body = self._read_password_msg(sock)
            if body is None or not hmac.compare_digest(
                body.rstrip(b"\x00"), want_pw.encode()
            ):
                return self._auth_fail(sock, startup_user)
            return True
        if mode == "md5":
            salt = os.urandom(4)
            sock.sendall(_msg(b"R", struct.pack("!I", 5) + salt))
            body = self._read_password_msg(sock)
            inner = hashlib.md5(
                want_pw.encode() + want_user.encode()
            ).hexdigest().encode()
            want = b"md5" + hashlib.md5(inner + salt).hexdigest().encode()
            if body is None or not hmac.compare_digest(
                body.rstrip(b"\x00"), want
            ):
                return self._auth_fail(sock, startup_user)
            return True
        if mode == "scram-sha-256":
            return self._scram(sock, startup_user, want_pw)
        raise ValueError(f"unknown pg auth mode: {mode}")

    def _scram(self, sock, user: str, want_pw: str) -> bool:
        # Untrusted SASL payloads: any malformed framing/attr parse
        # below must answer 28P01, not dump a traceback (the MySQL
        # wire's _authenticate takes the same posture).
        try:
            return self._scram_exchange(sock, user, want_pw)
        except (ValueError, KeyError, IndexError, struct.error,
                UnicodeDecodeError):
            return self._auth_fail(sock, user)

    def _scram_exchange(self, sock, user: str, want_pw: str) -> bool:
        # Channel binding is offered iff THIS connection runs over
        # TLS (the server may accept plaintext startups too, where
        # there is no channel to bind). Binding data is
        # tls-server-end-point (RFC 5929): a hash of our own
        # certificate, precomputed by PGWireServer from the PEM.
        import ssl as _ssl

        cb_data = (
            getattr(self.server, "cb_data", None)
            if isinstance(sock, _ssl.SSLSocket) else None
        )
        if cb_data is not None:
            mechs = _cstr("SCRAM-SHA-256-PLUS") + _cstr("SCRAM-SHA-256")
        else:
            mechs = _cstr("SCRAM-SHA-256")
        sock.sendall(
            _msg(b"R", struct.pack("!I", 10) + mechs + b"\x00")
        )
        body = self._read_password_msg(sock)  # SASLInitialResponse
        if body is None:
            return False
        nul = body.index(b"\x00")
        mech = body[:nul].decode(errors="replace")
        (ilen,) = struct.unpack("!I", body[nul + 1:nul + 5])
        client_first = body[nul + 5:nul + 5 + ilen].decode()
        if mech == "SCRAM-SHA-256-PLUS" and cb_data is None:
            self._send_error(
                sock, "28000",
                "SASL mechanism SCRAM-SHA-256-PLUS not offered "
                "(channel binding requires TLS; use SCRAM-SHA-256)",
            )
            return False
        if mech not in ("SCRAM-SHA-256", "SCRAM-SHA-256-PLUS"):
            self._send_error(
                sock, "28000", f"SASL mechanism {mech} not offered",
            )
            return False
        plus = mech == "SCRAM-SHA-256-PLUS"
        # gs2-header = cbind-flag "," [authzid] ","  — e.g. "n,," or
        # "p=tls-server-end-point,,"
        if plus:
            if not client_first.startswith("p=tls-server-end-point,"):
                self._send_error(
                    sock, "28000",
                    "SCRAM-SHA-256-PLUS requires channel binding "
                    "type tls-server-end-point",
                )
                return False
        elif client_first.startswith("p="):
            self._send_error(
                sock, "28000",
                "channel binding requested on the non-PLUS mechanism",
            )
            return False
        elif client_first.startswith("y") and cb_data is not None:
            # RFC 5802 downgrade detection: 'y' claims the server
            # offered no -PLUS mechanism — but we did, so a MITM
            # stripped it from the list.
            self._send_error(
                sock, "28000",
                "channel binding flag 'y' but SCRAM-SHA-256-PLUS was "
                "offered (possible downgrade attack)",
            )
            return False
        second_comma = client_first.index(",", client_first.index(",") + 1)
        gs2_header = client_first[: second_comma + 1]
        client_first_bare = client_first[second_comma + 1:]
        attrs = dict(
            kv.split("=", 1) for kv in client_first_bare.split(",")
        )
        client_nonce = attrs["r"]
        nonce = client_nonce + base64.b64encode(os.urandom(18)).decode()
        salt = os.urandom(16)
        iterations = 4096
        server_first = (
            f"r={nonce},s={base64.b64encode(salt).decode()},i={iterations}"
        )
        sock.sendall(
            _msg(b"R", struct.pack("!I", 11) + server_first.encode())
        )
        final = self._read_password_msg(sock)  # SASLResponse
        if final is None:
            return False
        client_final = final.decode()
        without_proof, _, proof_b64 = client_final.rpartition(",p=")
        fattrs = dict(kv.split("=", 1) for kv in without_proof.split(","))
        # c= carries base64(gs2-header || cbind-data): the binding
        # data is empty for the base mechanism, our certificate hash
        # for -PLUS — a MITM terminating TLS with its own cert can't
        # reproduce it.
        expected_cbind = gs2_header.encode() + (cb_data if plus else b"")
        if fattrs.get("r") != nonce or base64.b64decode(
            fattrs.get("c", "")
        ) != expected_cbind:
            return self._auth_fail(sock, user)
        auth_message = (
            f"{client_first_bare},{server_first},{without_proof}".encode()
        )
        salted = hashlib.pbkdf2_hmac(
            "sha256", want_pw.encode(), salt, iterations
        )
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        client_sig = hmac.new(stored_key, auth_message, hashlib.sha256).digest()
        try:
            proof = base64.b64decode(proof_b64, validate=True)
        except Exception:
            return self._auth_fail(sock, user)
        if len(proof) != len(client_sig):
            return self._auth_fail(sock, user)
        recovered = bytes(a ^ b for a, b in zip(proof, client_sig))
        if not hmac.compare_digest(
            hashlib.sha256(recovered).digest(), stored_key
        ):
            return self._auth_fail(sock, user)
        server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        server_sig = hmac.new(server_key, auth_message, hashlib.sha256).digest()
        sock.sendall(
            _msg(
                b"R",
                struct.pack("!I", 12)
                + b"v=" + base64.b64encode(server_sig),
            )
        )
        return True

    # -- query -----------------------------------------------------

    def _query(self, sock, sql: str) -> None:
        if not sql.strip():
            sock.sendall(_msg(b"I", b""))  # EmptyQueryResponse
            return
        # Stream SELECT rows straight off toLocalIterator: the PG
        # protocol is row-framed (DataRow per row), so the driver
        # holds at most two partitions, never the whole result; a
        # mid-stream failure is a clean ErrorResponse (PG clients
        # handle errors after RowDescription). The engine falls back
        # to the collected path (sink never started) for DDL/acks,
        # cached results and capped results.
        sink = _PGStreamSink(self, sock)
        try:
            result = self.server.engine.execute(
                QueryRequest(
                    query=sql, init_queries=init_queries(self._settings),
                    remote=True,
                ),
                stream_to=sink,
            )
        except Exception as e:  # engine/transpile/Spark error
            # Mid-stream failures are clean in PG: flush any DataRows
            # already queued, then ErrorResponse — the client discards
            # the partial resultset.
            sink.flush()
            self._send_error(sock, "42601", str(e)[:2000])
            return
        if set_pairs := parse_set_statement(sql):
            self._settings = merge(self._settings, set_pairs)
        if sink.started:
            sink.flush()
            sock.sendall(_msg(b"C", _cstr(f"SELECT {sink.rows_sent}")))
            return
        self._send_row_description(sock, result)
        self._send_data_rows(sock, result)

    def _send_row_description(self, sock, result) -> None:
        if result.types:
            oids = [_oid_for_type(t) for t in result.types]
        else:
            sample = (
                result.rows[0] if result.rows else [None] * len(result.cols)
            )
            oids = [_oid_for(v) for v in sample]
        desc = struct.pack("!H", len(result.cols))
        for name, oid in zip(result.cols, oids):
            desc += (
                _cstr(name)
                + struct.pack("!IHIhih", 0, 0, oid, -1, -1, 0)
            )
        sock.sendall(_msg(b"T", desc))

    def _send_data_rows(self, sock, result) -> None:
        for row in result.rows:
            body = struct.pack("!H", len(row))
            for v in row:
                data = _render(v)
                if data is None:
                    body += struct.pack("!i", -1)
                else:
                    body += struct.pack("!I", len(data)) + data
            sock.sendall(_msg(b"D", body))
        sock.sendall(_msg(b"C", _cstr(f"SELECT {len(result.rows)}")))

    # -- extended protocol -----------------------------------------

    @staticmethod
    def _read_cstr(payload: bytes, off: int) -> tuple[str, int]:
        end = payload.index(b"\x00", off)
        return payload[off:end].decode(errors="replace"), end + 1

    def _ext_fail(self, sock, code: str, msg: str) -> None:
        self._send_error(sock, code, msg)
        self._ext_error = True  # skip messages until Sync

    def _ext_parse(self, sock, payload: bytes) -> None:
        name, off = self._read_cstr(payload, 0)
        sql, off = self._read_cstr(payload, off)
        # Declared parameter-type OIDs are accepted and ignored —
        # parameters substitute as text literals and the engine's
        # analyzer types them.
        self._stmts[name] = sql
        sock.sendall(_msg(b"1", b""))  # ParseComplete

    def _ext_bind(self, sock, payload: bytes) -> None:
        portal, off = self._read_cstr(payload, 0)
        stmt, off = self._read_cstr(payload, off)
        (nfmt,) = struct.unpack_from("!H", payload, off)
        off += 2
        fmts = struct.unpack_from(f"!{nfmt}H", payload, off)
        off += 2 * nfmt
        (nparams,) = struct.unpack_from("!H", payload, off)
        off += 2
        params: list[str | None] = []
        for i in range(nparams):
            (ln,) = struct.unpack_from("!i", payload, off)
            off += 4
            if ln == -1:
                params.append(None)
            else:
                fmt = fmts[i] if i < len(fmts) else (
                    fmts[0] if len(fmts) == 1 else 0
                )
                if fmt == 1:
                    self._ext_fail(
                        sock, "0A000",
                        "binary-format parameters not supported",
                    )
                    return
                params.append(
                    payload[off:off + ln].decode(errors="replace")
                )
                off += ln
        (nresfmt,) = struct.unpack_from("!H", payload, off)
        off += 2
        resfmts = struct.unpack_from(f"!{nresfmt}H", payload, off)
        if any(f == 1 for f in resfmts):
            self._ext_fail(
                sock, "0A000", "binary result format not supported"
            )
            return
        if stmt not in self._stmts:
            self._ext_fail(
                sock, "26000", f"prepared statement {stmt!r} not found"
            )
            return
        self._portals[portal] = {
            "sql": _substitute_params(self._stmts[stmt], params),
            "result": None,
        }
        sock.sendall(_msg(b"2", b""))  # BindComplete

    def _portal_result(self, sock, portal: dict) -> Any:
        if portal["result"] is None:
            portal["result"] = self.server.engine.execute(
                QueryRequest(
                    query=portal["sql"],
                    init_queries=init_queries(self._settings),
                    remote=True,
                )
            )
            if set_pairs := parse_set_statement(portal["sql"]):
                self._settings = merge(self._settings, set_pairs)
        return portal["result"]

    def _ext_describe(self, sock, payload: bytes) -> None:
        kind = payload[0:1]
        name, _ = self._read_cstr(payload, 1)
        if kind == b"S":
            if name not in self._stmts:
                self._ext_fail(
                    sock, "26000",
                    f"prepared statement {name!r} not found",
                )
                return
            # 0 declared parameters + NoData (schema is known only at
            # portal time — the engine has no prepare-time analyzer
            # pass separate from execution).
            sock.sendall(_msg(b"t", struct.pack("!H", 0)))
            sock.sendall(_msg(b"n", b""))
            return
        portal = self._portals.get(name)
        if portal is None:
            self._ext_fail(sock, "34000", f"portal {name!r} not found")
            return
        try:
            result = self._portal_result(sock, portal)
        except Exception as e:
            self._ext_fail(sock, "42601", str(e)[:2000])
            return
        self._send_row_description(sock, result)

    def _ext_execute(self, sock, payload: bytes) -> None:
        name, off = self._read_cstr(payload, 0)
        portal = self._portals.get(name)
        if portal is None:
            self._ext_fail(sock, "34000", f"portal {name!r} not found")
            return
        try:
            result = self._portal_result(sock, portal)
        except Exception as e:
            self._ext_fail(sock, "42601", str(e)[:2000])
            return
        # max_rows (int32 at off) intentionally ignored: results are
        # engine-bounded; portal suspension is not implemented.
        self._send_data_rows(sock, result)

    def _ext_close(self, sock, payload: bytes) -> None:
        kind = payload[0:1]
        name, _ = self._read_cstr(payload, 1)
        (self._stmts if kind == b"S" else self._portals).pop(name, None)
        sock.sendall(_msg(b"3", b""))  # CloseComplete

    # -- plumbing --------------------------------------------------

    def _send_ready(self, sock) -> None:
        sock.sendall(_msg(b"Z", b"I"))

    def _send_error(self, sock, sqlstate: str, message: str) -> None:
        fields = (
            b"S" + _cstr("ERROR")
            + b"V" + _cstr("ERROR")
            + b"C" + _cstr(sqlstate)
            + b"M" + _cstr(message)
            + b"\x00"
        )
        sock.sendall(_msg(b"E", fields))

    @staticmethod
    def _recv_exact(sock, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf


class PGWireServer:
    """Threaded PG-protocol listener bound to ``engine``. ``port=0``
    picks a free port (exposed as ``.port``). One engine == one warm
    SparkSession shared across connections, the same single-cluster
    posture as the HTTP server."""

    def __init__(
        self,
        engine: BigHouseEngine | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        auth: tuple[str, str, str] | None = None,
        tls: tuple[str, str] | None = None,
    ) -> None:
        """``auth``: optional ``(mode, user, password)`` with mode in
        {"password", "md5", "scram-sha-256"}; None = trust.
        ``tls``: optional ``(certfile, keyfile)`` — SSLRequest is
        answered ``S`` and the connection upgrades before the
        StartupMessage; plaintext startups remain accepted (PG's
        own default; pair with auth to force credentials)."""
        if auth is not None and auth[0] not in (
            "password", "md5", "scram-sha-256"
        ):
            raise ValueError(
                f"unknown pg auth mode {auth[0]!r}; use 'password', "
                "'md5' or 'scram-sha-256'"
            )
        self.engine = engine or BigHouseEngine()
        self.auth = auth
        tls_ctx = cb_data = None
        if tls is not None:
            from bighouse_spark.tlsutil import (
                cert_cb_hash,
                pem_cert_der,
                server_context,
            )

            tls_ctx = server_context(*tls)
            # tls-server-end-point binding data for SCRAM -PLUS: a
            # hash of our own certificate (RFC 5929 §4).
            cb_data = cert_cb_hash(pem_cert_der(tls[0]))

        outer = self

        class _Server(NoDelayMixin, socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True
            engine = outer.engine
            auth = outer.auth

        _Server.tls_ctx = tls_ctx
        _Server.cb_data = cb_data

        self._server = _Server((host, port), _Handler)
        self.host, self.port = self._server.server_address
        self._thread: threading.Thread | None = None

    def start(self) -> "PGWireServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()
