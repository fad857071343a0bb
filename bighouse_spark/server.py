"""HTTP service shell — the query endpoint the reference implies but
never wired (its Echo server registers only ``GET /hc``,
``http_server/http_server.go:50``; queries enter via Temporal with
``QueryExecutorInput`` → ``{Cols, Rows}``,
``temporal/workflow_query_executor.go:30-40``).

Framework-free (stdlib ``http.server``) because the container has no
web framework and the surface is three routes:

- ``POST /query``  — body ``{"query": str, "init_queries": [str],
  "num_nodes": int?, "cores": int?}`` → ``{"cols": [...], "rows":
  [[...]], "elapsed_sec": f}``; errors → 400 with ``{"error": ...}``.
- ``POST /query/sink`` — same body plus ``{"path": str, "format":
  str?, "partition_by": [str]?}`` → distributed write, no collect —
  the 100 TB result path (reference's "TODO: Return S3 url",
  ``temporal/workflow_query_executor.go:94``).
- ``GET /hc``      — health check (``http_server/http_server.go:83-85``).
- ``GET /query_log`` — the ``system.query_log`` analog
  (``ch/config.xml:932``).

One process = one warm SparkSession (the reference's own numbers show
per-query cluster spin-up halving fast-query throughput,
``README.md:58,104``). The server is threaded; Spark's scheduler
interleaves concurrent jobs on its own.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import re
import threading
import time
import urllib.parse
from dataclasses import asdict, dataclass, field
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from bighouse_spark.dialect.lexer import mask
from bighouse_spark.engine import BigHouseEngine, QueryRequest
from bighouse_spark.netutil import NoDelayMixin
from bighouse_spark.session_settings import (
    init_queries,
    merge,
    parse_set_statement,
)
from bighouse_spark.formats import (
    DEFAULT_FORMAT,
    STREAMABLE_FORMATS,
    StreamRenderer,
    normalize_format,
    render_result,
    split_result_format,
)


def _json_default(o: Any) -> Any:
    if isinstance(o, (datetime, date)):
        return o.isoformat()
    if isinstance(o, Decimal):
        return float(o)
    if isinstance(o, bytes):
        return o.hex()
    return str(o)


def _dumps(payload: Any) -> bytes:
    return json.dumps(payload, default=_json_default).encode("utf-8")


# -- CH HTTP sessions (?session_id=...) ------------------------------
# ClickHouse's HTTP interface (the port the reference's nodes expose,
# ch/config.xml:133) gives cross-request session scope: SET in a
# session persists to later requests, CREATE TEMPORARY TABLE lives
# until the session expires (sliding ?session_timeout= TTL, default
# 60 s), ?session_check=1 errors on a missing session (code 372), and
# concurrent use of one session errors (code 373). Temp tables are
# namespaced per session by name-mangling: the engine table is
# "bh_tmp_<sid-hash>_<name>" and in-session SQL references to the
# bare name are rewritten outside string literals, so another session
# (or no session) never resolves them.

# Binary INSERT head: optional TABLE keyword, optionally
# db-qualified and/or quoted table name, optional column list — the
# spellings real clients emit (clickhouse-connect sends a column
# list and the Native format).
_INSERT_RB_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?"
    r"((?:[`\"]?[A-Za-z_][A-Za-z0-9_]*[`\"]?\.)?"
    r"[`\"]?[A-Za-z_][A-Za-z0-9_]*[`\"]?)"
    r"\s*(?:\(([^)]*)\))?\s*"
    r"FORMAT\s+(RowBinary|RowBinaryWithNames|"
    r"RowBinaryWithNamesAndTypes|Native)\s*;?\s*$",
    re.IGNORECASE,
)


def _debug_threads(engine: BigHouseEngine) -> str:
    """On-demand stack dump for ``GET /debug/threads`` — the
    pprof-analog counterpart of /metrics (the reference serves
    /debug/pprof/* on its internal HTTP port). Plain text: the
    engine's in-flight queries (id, elapsed, SQL prefix) followed by
    every Python thread's current stack."""
    import sys
    import traceback

    frames = sys._current_frames()
    by_ident = {t.ident: t for t in threading.enumerate()}
    inflight = engine.processes()
    out = [f"=== in-flight queries ({len(inflight)}) ==="]
    for qid, sql, elapsed in sorted(inflight, key=lambda x: -x[2]):
        out.append(f"{qid} elapsed={elapsed:.1f}s {sql}")
    out.append("")
    out.append(f"=== python threads ({len(frames)}) ===")
    for ident, frame in sorted(frames.items()):
        t = by_ident.get(ident)
        name = t.name if t else "?"
        daemon = " daemon" if t is not None and t.daemon else ""
        out.append(f"--- {name} (ident {ident}{daemon}) ---")
        out.extend(
            line.rstrip()
            for line in traceback.format_stack(frame)
        )
    out.append("")
    return "\n".join(out)


def _rb_table_name(raw: str) -> str:
    return raw.split(".")[-1].strip('`"')

_CREATE_TMP_RE = re.compile(
    r"^\s*CREATE\s+TEMPORARY\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*)",
    re.IGNORECASE,
)
_SELECTISH_RE = re.compile(r"^\s*(\(|SELECT\b|WITH\b)", re.IGNORECASE)
_DROP_TMP_RE = re.compile(
    r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLE\s+(IF\s+EXISTS\s+)?"
    r"([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass
class _Session:
    settings: dict[str, str] = field(default_factory=dict)
    temp_tables: dict[str, str] = field(default_factory=dict)  # name -> mangled
    expires_at: float = 0.0
    lock: threading.Lock = field(default_factory=threading.Lock)


class SessionStore:
    """TTL-bounded ``session_id`` → session state, engine-dropping a
    session's temp tables when it expires. One store per server."""

    DEFAULT_TIMEOUT = 60.0

    def __init__(self) -> None:
        self._sessions: dict[str, _Session] = {}
        self._mu = threading.Lock()

    def sweep(self, engine: BigHouseEngine) -> None:
        now = time.monotonic()
        with self._mu:
            # A held lock means a request is mid-flight in that
            # session (its TTL renews only in the request's finally);
            # never reap a live session out from under it.
            dead = [
                (sid, s) for sid, s in self._sessions.items()
                if s.expires_at <= now and not s.lock.locked()
            ]
            for sid, _ in dead:
                del self._sessions[sid]
        for _, s in dead:
            _drop_temp_tables(engine, s)

    def get_or_create(
        self, sid: str, *, create: bool
    ) -> _Session | None:
        with self._mu:
            s = self._sessions.get(sid)
            if s is None and create:
                s = self._sessions[sid] = _Session(
                    # Born alive: a fresh session must survive until
                    # its first request's finally renews it.
                    expires_at=time.monotonic() + self.DEFAULT_TIMEOUT
                )
            return s

    def close(self, engine: BigHouseEngine, sid: str) -> bool:
        with self._mu:
            s = self._sessions.pop(sid, None)
        if s is not None:
            _drop_temp_tables(engine, s)
        return s is not None


def _drop_temp_tables(engine: BigHouseEngine, s: _Session) -> None:
    for mangled in s.temp_tables.values():
        try:
            engine.execute(
                QueryRequest(query=f"DROP TABLE IF EXISTS {mangled}")
            )
        except Exception:
            pass  # expiry cleanup is best-effort


def _mangle(sid: str, name: str) -> str:
    h = hashlib.md5(sid.encode("utf-8")).hexdigest()[:8]
    return f"bh_tmp_{h}_{name}"


_TABLE_POS_KEYWORDS = {
    "FROM", "JOIN", "INTO", "TABLE", "EXISTS", "DESC", "DESCRIBE",
    "UPDATE", "TRUNCATE", "RENAME", "TO",
}
# Clause keywords that end a FROM-list (commas after these are no
# longer table positions).
_FROM_LIST_ENDERS = {
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "SETTINGS", "UNION",
    "EXCEPT", "INTERSECT", "WINDOW", "QUALIFY", "SELECT", "ON",
    "USING", "PREWHERE", "FORMAT",
}
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _rewrite_names_outside_strings(sql: str, names: dict[str, str]) -> str:
    """Replace temp-table names with their mangled forms — only in
    TABLE positions (after FROM/JOIN/INTO/TABLE/EXISTS/DESCRIBE/
    UPDATE/TRUNCATE/RENAME…TO, and across comma-separated FROM
    lists), never in column/alias positions that merely share the
    name (exact-case: CH identifiers are case-sensitive), and never
    inside single-quoted string literals."""
    if not names:
        return sql
    out: list[str] = []
    i, n = 0, len(sql)
    masked = mask(sql, strings_only=True)
    expect_table = False   # next identifier is a table reference
    in_from_list = False   # commas re-arm expect_table
    while i < n:
        c = masked[i]
        if c == "," and in_from_list:
            expect_table = True
            out.append(c)
            i += 1
            continue
        m = _IDENT_RE.match(masked, i)
        if m:
            word = m.group(0)
            upper = word.upper()
            if upper in _TABLE_POS_KEYWORDS:
                expect_table = True
                if upper == "FROM":
                    in_from_list = True
                out.append(word)
            elif expect_table and word in names:
                out.append(names[word])
                expect_table = False
            else:
                if upper in _FROM_LIST_ENDERS:
                    in_from_list = False
                expect_table = False
                out.append(word)
            i = m.end()
            continue
        out.append(sql[i])
        i += 1
    return "".join(out)


def _apply_session_sql(
    sql: str, sid: str, sess: _Session
) -> tuple[str, tuple[str, str] | None, str | None]:
    """Session-scope a statement: CREATE TEMPORARY TABLE → mangled
    engine table (returned as pending_create, registered only after
    the engine succeeds), DROP of a session temp table → mangled +
    pending_drop, anything else → temp names rewritten."""
    m = _CREATE_TMP_RE.match(sql)
    if m:
        ine, name = m.group(1) or "", m.group(2)
        mangled = _mangle(sid, name)
        head = f"CREATE TABLE {ine}{mangled}"
        rest = sql[m.end():]
        others = {k: v for k, v in sess.temp_tables.items() if k != name}
        return head + _rewrite_names_outside_strings(rest, others), \
            (name, mangled), None
    dm = _DROP_TMP_RE.match(sql)
    if dm and dm.group(2) in sess.temp_tables:
        name = dm.group(2)
        return (
            f"DROP TABLE {dm.group(1) or ''}{sess.temp_tables[name]}",
            None, name,
        )
    return _rewrite_names_outside_strings(sql, sess.temp_tables), None, None


class _HTTPStreamSink:
    """Engine → chunked-HTTP row sink: headers go out when the engine
    calls ``start``, rows accumulate into ≤64 KiB chunks. The engine
    feeds it from ``toLocalIterator``, which holds at most two
    partitions on the driver (Spark collects each partition into an
    array, and prefetches the next), never the whole result."""

    CHUNK = 64 * 1024

    def __init__(self, handler, renderer: StreamRenderer, fmt: str,
                 qid: str | None) -> None:
        self._h = handler
        self._r = renderer
        self._fmt = fmt
        self._qid = qid
        self.started = False       # engine chose the streaming path
        self.headers_sent = False  # first byte is on the wire
        self.rows_sent = 0
        self._buf = bytearray()

    def start(self, cols: list[str], types: list[str] | None) -> None:
        # Defer the 200 + headers until the first ROW: a query that
        # fails before producing output (timeout/kill/runtime error
        # while the first partition computes) still gets a clean 400
        # from the normal error path.
        self.started = True
        self._head = self._r.header_bytes(cols, types)

    def _send_headers(self) -> None:
        h = self._h
        h.send_response(200)
        h.send_header("Content-Type", self._r.content_type)
        h.send_header("Transfer-Encoding", "chunked")
        h.send_header("X-ClickHouse-Format", self._fmt)
        if self._qid:
            h.send_header("X-ClickHouse-Query-Id", self._qid)
        h.end_headers()
        self.headers_sent = True
        if self._head:
            self._buf += self._head

    def write_row(self, row: list) -> None:
        if not self.headers_sent:
            self._send_headers()
        self._buf += self._r.row_bytes(row)
        self.rows_sent += 1
        if len(self._buf) >= self.CHUNK:
            self._flush()

    def _flush(self, tail: bytes = b"") -> None:
        """Write the buffered rows as one chunk, and ``tail`` in the
        same send."""
        out = b""
        if self._buf:
            out = f"{len(self._buf):X}\r\n".encode() + self._buf + b"\r\n"
            self._buf.clear()
        if out or tail:
            self._h.wfile.write(out + tail)

    def finish(self) -> None:
        if not self.headers_sent:  # empty result: headers + header rows
            self._send_headers()
        self._flush(b"0\r\n\r\n")  # last chunk and terminator: one send

    def abort(self, err_text: bytes) -> None:
        """Mid-stream failure: flush the error text as a final chunk
        and DON'T write the terminal 0-chunk — the truncated chunked
        encoding is the client's error signal (CH does the same when
        an exception fires after the first result byte)."""
        self._buf += err_text
        self._flush()


# Request-body safety caps: Content-Length is attacker data, and a
# gzip body is a decompression bomb unless the inflated size is
# bounded too. 256 MiB passes any sane bulk-INSERT payload; bigger
# loads belong on shared storage + ATTACH.
MAX_HTTP_BODY = 256 * 1024 * 1024


class _Handler(BaseHTTPRequestHandler):
    engine: BigHouseEngine  # set by make_server
    sessions: SessionStore  # set by make_server
    auth: tuple[str, str] | None = None  # set by make_server
    # Chunked transfer-encoding (the streamed-result path) needs 1.1;
    # every non-streamed response carries Content-Length, so
    # keep-alive stays correct.
    protocol_version = "HTTP/1.1"

    def log_message(self, *args: Any) -> None:  # silence default stderr log
        pass

    def setup(self) -> None:
        # Deferred TLS handshake (see make_server): the listener
        # wraps with do_handshake_on_connect=False, so the handshake
        # runs here in the connection's own thread. Failures (e.g. a
        # plain-HTTP client on the HTTPS port) raise SSLError, which
        # the server's handle_error treats as a clean close. The
        # handshake itself is deadline-bounded so a silent client
        # can't pin this thread forever.
        hs = getattr(self.request, "do_handshake", None)
        if hs is not None:
            from bighouse_spark.tlsutil import HANDSHAKE_TIMEOUT

            prev = self.request.gettimeout()
            self.request.settimeout(HANDSHAKE_TIMEOUT)
            try:
                hs()
            finally:
                self.request.settimeout(prev)
        super().setup()
        from bighouse_spark import metrics as _metrics

        _metrics.connection_opened("http")

    def finish(self) -> None:
        from bighouse_spark import metrics as _metrics

        try:
            super().finish()
        finally:
            _metrics.connection_closed("http")

    def _send(self, code: int, payload: Any) -> None:
        body = _dumps(payload)
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    # -- authentication ---------------------------------------------
    # Optional (None = trust): the CH HTTP credential surfaces —
    # ?user=&password= URL params, X-ClickHouse-User/-Key headers, or
    # HTTP Basic auth — checked constant-time; failures answer 403
    # with CH's code 516, matching what clickhouse-connect expects.
    # /ping and /hc stay open (CH's /ping is unauthenticated).

    def _check_auth(self, parsed) -> bool:
        auth = getattr(self, "auth", None)
        if auth is None:
            return True
        want_user, want_pw = auth
        params = urllib.parse.parse_qs(parsed.query)
        user = (params.get("user") or [None])[0]
        pw = (params.get("password") or [None])[0]
        if user is None and pw is None:
            hu = self.headers.get("X-ClickHouse-User")
            hk = self.headers.get("X-ClickHouse-Key")
            if hu is not None or hk is not None:
                user, pw = hu, hk
            else:
                h = self.headers.get("Authorization", "")
                if h.startswith("Basic "):
                    try:
                        dec = base64.b64decode(h[6:]).decode()
                        user, _, pw = dec.partition(":")
                    except Exception:
                        pass
        if hmac.compare_digest(
            (user or "").encode(), want_user.encode()
        ) and hmac.compare_digest((pw or "").encode(), want_pw.encode()):
            return True
        self._send_text(
            403,
            (
                f"Code: 516. DB::Exception: {user or 'default'}: "
                "Authentication failed: password is incorrect, or "
                "there is no user with such name.\n"
            ).encode(),
            "text/plain; charset=UTF-8",
            extra={"X-ClickHouse-Exception-Code": "516"},
        )
        return False

    def do_GET(self) -> None:
        parsed = urllib.parse.urlsplit(self.path)
        if parsed.path == "/hc":
            ok = self.engine.health_check()
            self._send(200 if ok else 500, {"ok": ok})
        elif parsed.path == "/query_log":
            if not self._check_auth(parsed):
                return
            # list(): copy the ring before iterating — request
            # threads append to it concurrently
            log = list(self.engine.query_log)
            self._send(200, [asdict(e) for e in log])
        elif parsed.path == "/metrics":
            # Prometheus scrape target (reference serves Prometheus on
            # an internal port, observability/internal_http.go:17-29).
            # Open like /hc: a scraper is infra, not a SQL client.
            from bighouse_spark import metrics as _metrics

            with self.sessions._mu:
                n_sessions = len(self.sessions._sessions)
            body = _metrics.render(
                self.engine, active_sessions=n_sessions
            ).encode()
            self.send_response(200)
            self.send_header(
                "Content-Type", "text/plain; version=0.0.4"
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif parsed.path == "/debug/threads":
            # pprof analog (the reference registers /debug/pprof/*
            # next to Prometheus, observability/internal_http.go:22-26).
            # Gated like /query_log: stacks and in-flight SQL leak
            # query text. JVM-side executor stacks live in the Spark
            # UI / api/v1 status REST instead; this dumps the Python
            # driver side.
            if not self._check_auth(parsed):
                return
            body = _debug_threads(self.engine).encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif parsed.path == "/ping":
            # the bare ping stays open (CH's /ping is unauthenticated),
            # but a ?query= rider executes SQL and must be gated like /
            has_query = bool(
                urllib.parse.parse_qs(parsed.query).get("query")
            )
            if has_query and not self._check_auth(parsed):
                return
            self._ch_http(parsed, body=b"")
        elif parsed.path == "/":
            # the bare ping (no query) stays open, like CH's /ping
            has_query = bool(
                urllib.parse.parse_qs(parsed.query).get("query")
            )
            if has_query and not self._check_auth(parsed):
                return
            self._ch_http(parsed, body=b"")
        else:
            self._send(404, {"error": f"no route {self.path}"})

    # -- ClickHouse-compatible HTTP interface ------------------------
    # The reference's nodes serve CH HTTP on 8123 (ch/config.xml:133):
    # GET/POST /?query=... with the result rendered per the trailing
    # FORMAT clause / default_format param / X-ClickHouse-Format
    # header (TabSeparated when unspecified — CH's HTTP default).
    # INSERT payloads ride in the POST body after a query param
    # carrying "INSERT INTO t FORMAT JSONEachRow" (CH concatenates
    # the two) and are handled by the engine's INSERT-FORMAT parser.

    def _send_text(
        self, code: int, body: bytes, content_type: str,
        extra: dict[str, str] | None = None,
    ) -> None:
        self.send_response(code)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _ch_http(self, parsed, body: bytes) -> None:
        params = urllib.parse.parse_qs(parsed.query)
        sql = (params.get("query") or [""])[0]
        # Binary INSERT payloads (FORMAT RowBinary*) must NOT ride the
        # text concatenation below — a utf-8 decode corrupts them.
        rb_insert: tuple[str, str, list[str] | None] | None = None
        rb_body = b""
        m_rb = _INSERT_RB_RE.match(sql) if body else None
        if m_rb:
            col_list = None
            if m_rb.group(2):
                col_list = [
                    c.strip().strip('`"')
                    for c in m_rb.group(2).split(",") if c.strip()
                ]
            rb_insert = (
                _rb_table_name(m_rb.group(1)),
                m_rb.group(3).lower(),
                col_list,
            )
            rb_body = body
        elif body:
            # CH semantics: URL query + body are concatenated — the
            # body is either the rest of the statement or an INSERT
            # data payload.
            sql = (sql + "\n" + body.decode("utf-8", "replace")) if sql \
                else body.decode("utf-8", "replace")
        if not sql.strip():
            # CH answers bare GET / with "Ok." (the canonical ping).
            self._send_text(200, b"Ok.\n", "text/plain; charset=UTF-8")
            return
        try:
            sql, fmt_in_sql = split_result_format(sql)
        except ValueError as e:
            # unknown FORMAT name: CH answers code 73
            self._send_text(
                400,
                f"Code: 73. DB::Exception: {e}\n".encode(),
                "text/plain; charset=UTF-8",
            )
            return
        df_param = (params.get("default_format") or [None])[0]
        if df_param is not None and normalize_format(df_param) is None:
            self._send_text(
                400,
                f"Code: 73. DB::Exception: Unknown format "
                f"{df_param!r}\n".encode(),
                "text/plain; charset=UTF-8",
            )
            return
        fmt = (
            fmt_in_sql
            or normalize_format(df_param)
            or normalize_format(self.headers.get("X-ClickHouse-Format"))
            or DEFAULT_FORMAT
        )
        # URL settings (CH accepts settings as query params): raw
        # values, this request's only, even inside a session — only
        # SET statements persist to the session, matching CH.
        # CH query parameters: ?param_<name>=value binds {name:Type}
        # placeholders (substituted engine-side, injection-safe).
        qparams = {
            k[len("param_"):]: v[0]
            for k, v in params.items()
            if k.startswith("param_")
        }
        pairs = {
            k: v[0]
            for k, v in params.items()
            if k not in ("query", "default_format", "database", "user",
                         "password", "session_id", "query_id",
                         "session_timeout", "session_check")
            and not k.startswith("param_")
        }
        qid = (params.get("query_id") or [None])[0]
        sid = (params.get("session_id") or [None])[0]
        sess = None
        timeout = SessionStore.DEFAULT_TIMEOUT
        if sid:
            self.sessions.sweep(self.engine)
            raw_timeout = (params.get("session_timeout") or [""])[0]
            try:
                timeout = float(raw_timeout) if raw_timeout else timeout
            except ValueError:
                self._send_text(
                    400,
                    f"Code: 36. DB::Exception: Invalid session_timeout "
                    f"{raw_timeout!r}\n".encode(),
                    "text/plain; charset=UTF-8",
                )
                return
            check = (params.get("session_check") or ["0"])[0]
            sess = self.sessions.get_or_create(
                sid, create=check not in ("1", "true")
            )
            if sess is None:
                self._send_text(
                    404,
                    f"Code: 372. DB::Exception: Session {sid} not "
                    f"found.\n".encode(),
                    "text/plain; charset=UTF-8",
                    extra={"X-ClickHouse-Exception-Code": "372"},
                )
                return
            if not sess.lock.acquire(blocking=False):
                self._send_text(
                    403,
                    b"Code: 373. DB::Exception: Session is locked by a "
                    b"concurrent client.\n",
                    "text/plain; charset=UTF-8",
                    extra={"X-ClickHouse-Exception-Code": "373"},
                )
                return
        pending_create: tuple[str, str] | None = None
        pending_drop: str | None = None
        try:
            if sess is not None:
                sql, pending_create, pending_drop = _apply_session_sql(
                    sql, sid, sess
                )
                # SET param_<name> in a session binds {name:Type}
                # placeholders in later requests (CH's session query
                # parameters); URL param_<name> wins on collision.
                # The session's other SETs go first, the URL's after.
                for k, v in sess.settings.items():
                    if k.startswith("param_"):
                        qparams.setdefault(k[len("param_"):], v)
                pairs = merge(
                    {k: v for k, v in sess.settings.items()
                     if not k.startswith("param_")},
                    pairs,
                )
            # Streamed results: line-based formats render from
            # toLocalIterator with chunked transfer-encoding — at most
            # two partitions on the driver, never the whole result.
            # The engine falls back to
            # the collected path (sink never started) when the result
            # cache or max_result_rows forces it; gzip responses stay
            # on the collected path too.
            _accept = self.headers.get("Accept-Encoding", "").lower()
            accept_compressed = "gzip" in _accept or "zstd" in _accept
            sink = None
            if (
                fmt in STREAMABLE_FORMATS
                and not accept_compressed
                and _SELECTISH_RE.match(sql)  # SET/DDL keep ack paths
            ):
                sink = _HTTPStreamSink(self, StreamRenderer(fmt), fmt, qid)
            try:
                if rb_insert is not None:
                    nm, bfmt, col_list = rb_insert
                    if sess is not None:
                        nm = sess.temp_tables.get(nm, nm)
                    if bfmt == "native":
                        result = self.engine.insert_native(nm, rb_body)
                    else:
                        result = self.engine.insert_rowbinary(
                            nm, rb_body,
                            named=(bfmt == "rowbinarywithnamesandtypes"),
                            with_names=(bfmt == "rowbinarywithnames"),
                            columns=col_list,
                        )
                else:
                    result = self.engine.execute(
                        QueryRequest(query=sql,
                                     init_queries=init_queries(pairs),
                                     query_id=qid, remote=True,
                                     params=qparams),
                        stream_to=sink,
                    )
            except Exception as e:
                if sink is not None and sink.headers_sent:
                    # Result bytes are on the wire (CH hits this
                    # too): append the exception text to the stream,
                    # then abort the chunked encoding WITHOUT the
                    # terminal 0-chunk — clients see both the message
                    # and a hard truncation error instead of a
                    # silently short result.
                    try:
                        sink.abort(
                            f"\nCode: 62. DB::Exception: "
                            f"{str(e)[:2000]}\n".encode()
                        )
                    except Exception:
                        pass
                    self.close_connection = True
                    return
                self._send_text(
                    400,
                    f"Code: 62. DB::Exception: {str(e)[:2000]}\n".encode(),
                    "text/plain; charset=UTF-8",
                    extra={"X-ClickHouse-Exception-Code": "62"},
                )
                return
            if sink is not None and sink.started:
                sink.finish()
                return
            if sess is not None:
                if pending_create:
                    sess.temp_tables[pending_create[0]] = pending_create[1]
                if pending_drop:
                    sess.temp_tables.pop(pending_drop, None)
                if set_pairs := parse_set_statement(sql):
                    sess.settings = merge(sess.settings, set_pairs)
        finally:
            if sess is not None:
                # Sliding TTL: every request in the session renews it.
                sess.expires_at = time.monotonic() + timeout
                sess.lock.release()
        try:
            rendered, content_type = render_result(
                result.cols, result.rows, fmt,
                types=result.types, elapsed=result.elapsed_sec,
            )
        except ValueError as e:
            # renderer-level shape errors (e.g. LineAsString/RawBLOB
            # need exactly one column) answer 400, not a dropped
            # connection
            self._send_text(
                400,
                f"Code: 73. DB::Exception: {e}\n".encode(),
                "text/plain; charset=UTF-8",
            )
            return
        extra = {
            "X-ClickHouse-Format": fmt,
            "X-ClickHouse-Summary": json.dumps(
                {"result_rows": str(len(result.rows)),
                 "elapsed_ns": str(int(result.elapsed_sec * 1e9))}
            ),
        }
        if qid:
            extra["X-ClickHouse-Query-Id"] = qid
        # CH HTTP supports compressed responses (enable_http_compression
        # semantics, gzip AND zstd content codings); gzip wins when a
        # client advertises both — the pre-round-9 behavior, and the
        # coding every HTTP client handles.
        accept = self.headers.get("Accept-Encoding", "").lower()
        if "gzip" in accept:
            import gzip

            rendered = gzip.compress(rendered)
            extra["Content-Encoding"] = "gzip"
        elif "zstd" in accept:
            # compress.zstd_compress wraps pyarrow's codec with the
            # from-scratch raw-frame fallback, so a pyarrow-less
            # build still answers a valid (if uncompressed-ratio)
            # zstd frame instead of a 500.
            from bighouse_spark.compress import zstd_compress

            rendered = zstd_compress(rendered)
            extra["Content-Encoding"] = "zstd"
        self._send_text(200, rendered, content_type, extra=extra)

    def _read_body(self) -> bytes | None:
        """Bounded request-body read; answers 413 and returns None
        when the declared or inflated size breaks the cap."""
        try:
            length = int(self.headers.get("Content-Length", "0"))
        except ValueError:
            self._send(400, {"error": "malformed Content-Length"})
            return None
        if not 0 <= length <= MAX_HTTP_BODY:
            self._send(413, {
                "error": f"request body of {length} bytes exceeds "
                f"the {MAX_HTTP_BODY}-byte cap; stage bulk loads on "
                "shared storage and ATTACH instead"
            })
            return None
        body = self.rfile.read(length)
        if self.headers.get("Content-Encoding", "").lower() == "gzip":
            import gzip
            import io

            import zlib

            try:
                with gzip.GzipFile(fileobj=io.BytesIO(body)) as gz:
                    body = gz.read(MAX_HTTP_BODY + 1)
            except (OSError, EOFError, zlib.error):
                # BadGzipFile is OSError, but a TRUNCATED member
                # raises EOFError and a corrupt deflate stream
                # zlib.error — all are the same malformed-body case.
                self._send(400, {"error": "malformed gzip body"})
                return None
            if len(body) > MAX_HTTP_BODY:
                self._send(413, {
                    "error": "gzip body inflates past the "
                    f"{MAX_HTTP_BODY}-byte cap"
                })
                return None
        elif self.headers.get(
            "Content-Encoding", ""
        ).lower() == "zstd":
            # CH also accepts zstd request bodies; stream-decompress
            # (pyarrow's zstd needs no declared size on the streaming
            # path) with the same inflated-size bomb guard as gzip.
            try:
                import pyarrow as pa
            except ImportError:
                self._send(400, {
                    "error": "zstd request bodies need the pyarrow "
                    "codec, which this build lacks; send gzip or an "
                    "uncompressed body"
                })
                return None
            try:
                with pa.CompressedInputStream(
                    pa.BufferReader(body), "zstd"
                ) as st:
                    body = st.read(MAX_HTTP_BODY + 1)
            except (OSError, pa.ArrowInvalid):
                self._send(400, {"error": "malformed zstd body"})
                return None
            if len(body) > MAX_HTTP_BODY:
                self._send(413, {
                    "error": "zstd body inflates past the "
                    f"{MAX_HTTP_BODY}-byte cap"
                })
                return None
        return body

    def _read_request(self) -> dict[str, Any] | None:
        body = self._read_body()
        if body is None:
            return None
        return json.loads(body or b"{}")

    def do_POST(self) -> None:
        parsed = urllib.parse.urlsplit(self.path)
        if not self._check_auth(parsed):
            return
        if parsed.path == "/":
            # CH accepts gzip-compressed request bodies (bulk INSERT
            # payloads); _read_body mirrors that, bounded.
            body = self._read_body()
            if body is None:
                return
            self._ch_http(parsed, body=body)
            return
        if parsed.path not in ("/query", "/query/sink"):
            self._send(404, {"error": f"no route {self.path}"})
            return
        try:
            body = self._read_request()
            if body is None:
                return  # 413/400 already sent
            req = QueryRequest(
                query=body["query"],
                init_queries=body.get("init_queries", []),
                num_nodes=body.get("num_nodes"),
                cores=body.get("cores"),
                remote=True,
                params={
                    str(k): str(v)
                    for k, v in (body.get("params") or {}).items()
                },
            )
        except (KeyError, json.JSONDecodeError) as e:
            self._send(400, {"error": f"bad request: {e!r}"})
            return
        try:
            if self.path == "/query":
                self._send(200, self.engine.execute(req).to_dict())
            else:
                meta = self.engine.execute_to_sink(
                    req,
                    path=body["path"],
                    fmt=body.get("format", "parquet"),
                    partition_by=body.get("partition_by"),
                )
                self._send(200, meta)
        except Exception as e:  # engine already logged it in query_log
            self._send(400, {"error": str(e)[:2000]})


def make_server(
    engine: BigHouseEngine | None = None, host: str = "127.0.0.1",
    port: int = 0, auth: tuple[str, str] | None = None,
    tls: tuple[str, str] | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the server; ``port=0`` picks a free port.
    Caller runs ``serve_forever`` (or ``start_in_background``).
    ``auth``: optional (user, password) for the CH HTTP credential
    surfaces; None = trust. ``tls``: optional (certfile, keyfile) —
    the port serves HTTPS only (CH's ``https_port`` 8443 model; run
    a second plain ``make_server`` for an 8123 twin if needed)."""
    engine = engine or BigHouseEngine()
    handler = type(
        "BoundHandler", (_Handler,),
        {"engine": engine, "sessions": SessionStore(), "auth": auth},
    )
    class _Srv(NoDelayMixin, ThreadingHTTPServer):
        def handle_error(self, request, client_address):  # noqa: D401
            # Connection-level noise (broken pipes, resets, TLS
            # handshake rejections/timeouts) is routine; anything
            # else (EMFILE, ENOSPC, genuine bugs) keeps the default
            # traceback so operators see it.
            import ssl
            import sys

            exc = sys.exc_info()[0]
            if exc is not None and issubclass(
                exc, (ssl.SSLError, ConnectionError, TimeoutError)
            ):
                return
            super().handle_error(request, client_address)

    srv = _Srv((host, port), handler)
    if tls is not None:
        from bighouse_spark.tlsutil import server_context

        # Handshake is deferred to the per-connection handler thread
        # (_Handler.setup) so a stalled TLS client can't block the
        # accept loop.
        srv.socket = server_context(*tls).wrap_socket(
            srv.socket, server_side=True, do_handshake_on_connect=False
        )
    return srv


def start_in_background(
    engine: BigHouseEngine | None = None, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    server = make_server(engine, host, port)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def main() -> None:  # pragma: no cover - manual entry point
    import argparse

    ap = argparse.ArgumentParser(description="BigHouse-Spark query service")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8123)
    ap.add_argument(
        "--pg-port", type=int, default=None,
        help="also serve the PostgreSQL wire protocol on this port "
        "(the reference's postgresql_port 9005, ch/config.xml:143)",
    )
    ap.add_argument(
        "--mysql-port", type=int, default=None,
        help="also serve the MySQL wire protocol on this port "
        "(the reference's mysql_port 9004, ch/config.xml:138)",
    )
    ap.add_argument(
        "--ch-port", type=int, default=None,
        help="also serve the ClickHouse native TCP protocol on this "
        "port (the reference's tcp_port 9000 — its only client path, "
        "temporal/workflow_query_executor.go:222-235)",
    )
    ap.add_argument(
        "--pg-auth", default=None, metavar="MODE:USER:PASSWORD",
        help="require authentication on the PG wire endpoint; MODE is "
        "password, md5 or scram-sha-256 (default: trust)",
    )
    ap.add_argument(
        "--mysql-auth", default=None, metavar="USER:PASSWORD",
        help="require mysql_native_password authentication on the "
        "MySQL wire endpoint (default: trust)",
    )
    ap.add_argument(
        "--http-auth", default=None, metavar="USER:PASSWORD",
        help="require credentials on the HTTP endpoint (URL params, "
        "X-ClickHouse-User/-Key headers, or Basic auth; /ping and "
        "/hc stay open; default: trust)",
    )
    ap.add_argument(
        "--ch-auth", default=None, metavar="USER:PASSWORD",
        help="require credentials in the native-protocol Hello "
        "packet (default: trust)",
    )
    ap.add_argument(
        "--tls", default=None, metavar="CERTFILE:KEYFILE",
        help="serve TLS on every endpoint with this certificate: "
        "the HTTP port becomes HTTPS (CH https_port model), the "
        "native port becomes tcp_port_secure (TLS from the first "
        "byte), and the PG/MySQL ports accept their protocols' "
        "STARTTLS upgrades (SSLRequest / CLIENT_SSL) while still "
        "allowing plaintext clients",
    )
    args = ap.parse_args()

    def _user_pw(flag: str, value: str | None) -> tuple[str, str] | None:
        if value is None:
            return None
        parts = value.split(":", 1)
        if len(parts) != 2:
            ap.error(f"{flag} must be USER:PASSWORD")
        return (parts[0], parts[1])

    pg_auth: tuple[str, str, str] | None = None
    if args.pg_auth is not None:
        parts = args.pg_auth.split(":", 2)
        if len(parts) != 3:
            ap.error("--pg-auth must be MODE:USER:PASSWORD")
        pg_auth = (parts[0], parts[1], parts[2])
    my_auth = _user_pw("--mysql-auth", args.mysql_auth)
    http_auth = _user_pw("--http-auth", args.http_auth)
    ch_auth = _user_pw("--ch-auth", args.ch_auth)
    tls = None
    if args.tls is not None:
        from bighouse_spark.tlsutil import parse_tls_flag

        try:
            tls = parse_tls_flag(args.tls)
        except ValueError as e:
            ap.error(str(e))
    engine = BigHouseEngine()
    server = make_server(
        engine=engine, host=args.host, port=args.port, auth=http_auth,
        tls=tls,
    )
    non_loopback = args.host not in ("127.0.0.1", "::1", "localhost")
    if non_loopback and ((args.pg_port is not None and pg_auth is None)
                         or (args.mysql_port is not None
                             and my_auth is None)
                         or (args.ch_port is not None
                             and ch_auth is None)
                         or http_auth is None):
        import sys

        print(
            "WARNING: one or more endpoints (HTTP/PG/MySQL/native) "
            "have no authentication configured (trust) and expose "
            "full SQL including file() reads of the local "
            f"filesystem; binding them to {args.host!r} makes that "
            "reachable off-host. Configure --http-auth/--pg-auth/"
            "--mysql-auth/--ch-auth, or keep a loopback bind / a "
            "network boundary you control.",
            file=sys.stderr,
        )
    if args.pg_port is not None:
        from bighouse_spark.pgwire import PGWireServer

        pg = PGWireServer(
            engine=engine, host=args.host, port=args.pg_port,
            auth=pg_auth, tls=tls,
        )
        pg.start()
        print(f"pg wire protocol on {pg.host}:{pg.port}")
    if args.mysql_port is not None:
        from bighouse_spark.mysqlwire import MySQLWireServer

        my = MySQLWireServer(
            engine=engine, host=args.host, port=args.mysql_port,
            auth=my_auth, tls=tls,
        )
        my.start()
        print(f"mysql wire protocol on {my.host}:{my.port}")
    if args.ch_port is not None:
        from bighouse_spark.chwire import CHWireServer

        ch = CHWireServer(
            engine=engine, host=args.host, port=args.ch_port,
            auth=ch_auth, tls=tls,
        )
        ch.start()
        print(f"clickhouse native protocol on {ch.host}:{ch.port}")
    print(f"bighouse-spark listening on {args.host}:{server.server_port}")
    server.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
