"""ClickHouse native TCP protocol server (port 9000).

The reference's ONLY client path is this protocol — ``clickhouse-go``
connects to port 9000 with LZ4 compression (reference
``temporal/workflow_query_executor.go:222-235``; Fly exposes ports
9000 AND 8123, ``fly/fly.go:114-167``; ``tcp_port`` in
``ch/config.xml``). This module implements the public wire framing —
Hello handshake, Query + ClientInfo + settings-as-strings, Data
packets carrying Native columnar blocks (reusing the byte-exact block
codec in ``formats.py`` that the HTTP ``FORMAT Native`` path already
ships), Progress / ProfileInfo / EndOfStream, Exception frames, Ping/
Pong, external tables, client-streamed INSERT blocks, and optional
LZ4/None compressed frames (``compress.py``).

Protocol revision: the server advertises **54429**
(``SETTINGS_SERIALIZED_AS_STRINGS``) and the effective revision is
``min(client, server)`` per the public negotiation rule. 54429 is a
deliberate sweet spot: new enough that every maintained client
(clickhouse-driver, clickhouse-go, clickhouse-connect ≥ 2019) sends
string-serialized settings, old enough that none of the later
additions (interserver secret, OpenTelemetry, custom column
serialization, server-side query parameters, Hello addendum) appear
on the wire — each would otherwise add parse surface with no
functional gain for this engine. Clients older than 54429 serialize
settings with per-setting binary types; they get a guided Exception
at Hello instead of a misparse.

No ClickHouse source was copied; the framing follows the public
protocol description and the packet layouts every client implements.
"""

from __future__ import annotations

import os
import re
import socketserver
import struct
import threading
from typing import Any

from bighouse_spark.compress import (
    MAX_BLOCK,
    METHOD_LZ4,
    METHOD_NONE,
    METHOD_ZSTD,
    compress_frame,
    read_frame,
)
from bighouse_spark.dialect.schema import split_top_level
from bighouse_spark.engine import BigHouseEngine, QueryRequest
from bighouse_spark.netutil import NoDelayMixin
from bighouse_spark.formats import (
    _leb128,
    _leb128_str,
    _render_native,
    rowbinary_decoder,
)
from bighouse_spark.session_settings import (
    init_queries,
    merge,
    parse_set_statement,
)

SERVER_REVISION = 54429
SERVER_NAME = "BigHouse Spark"
VERSION_MAJOR, VERSION_MINOR, VERSION_PATCH = 23, 8, 0

# Revision gates this server can actually encounter (negotiated rev
# is always <= 54429; the public constant names are kept for
# auditability against client sources).
REV_SERVER_TIMEZONE = 54058
REV_QUOTA_KEY = 54060
REV_DISPLAY_NAME = 54372
REV_VERSION_PATCH = 54401
REV_SETTINGS_AS_STRINGS = 54429

# Client packet types.
C_HELLO, C_QUERY, C_DATA, C_CANCEL, C_PING, C_TABLES_STATUS = range(6)
# Server packet types.
S_HELLO, S_DATA, S_EXCEPTION, S_PROGRESS, S_PONG, S_END_OF_STREAM = range(6)
S_PROFILE_INFO = 6
S_TABLES_STATUS = 9

# BlockInfo (field-framed: 1 → is_overflows u8, 2 → bucket_num i32,
# 0 → end) — every block on the modern wire carries it.
BLOCK_INFO = b"\x01\x00\x02" + struct.pack("<i", -1) + b"\x00"

ROWS_PER_BLOCK = 65409  # CH's default max_block_size

# Per-string read cap (see _Source.read_str): generous for query
# text, fatal for length-declared memory exhaustion.
MAX_WIRE_STR = 64 * 1024 * 1024

# Client-streamed INSERTs append to storage every N decoded rows so
# an unbounded native-protocol ingest never accumulates on the driver.
INSERT_FLUSH_ROWS = int(
    os.environ.get("BIGHOUSE_TCP_INSERT_FLUSH_ROWS", "1000000")
)

_INSERT_NEEDS_DATA = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?(?P<name>[`\"\w.$]+)\s*"
    r"(?:\((?P<cols>[^()]*)\))?\s*"
    r"(?:VALUES|FORMAT\s+\w+)?\s*;?\s*$",
    re.IGNORECASE,
)


class ProtocolError(ValueError):
    pass


class _Source:
    """Buffered byte source with decode-retry: ``decode`` runs a
    ``(buf, pos) -> (value, newpos)`` codec from ``formats.py``
    against the buffer, pulling more bytes whenever the codec runs
    off the end (codecs advance ``pos`` past ``len(buf)`` or raise
    struct/Index errors on truncation — mirror of the bounds contract
    ``formats._native_read_column`` documents)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.pos = 0

    def _pull(self) -> None:  # pragma: no cover - abstract
        raise NotImplementedError

    def compact(self) -> None:
        if self.pos > (1 << 16):
            del self.buf[: self.pos]
            self.pos = 0

    def ensure(self, n: int) -> None:
        while len(self.buf) - self.pos < n:
            self._pull()

    def read_exact(self, n: int) -> bytes:
        self.ensure(n)
        out = bytes(self.buf[self.pos:self.pos + n])
        self.pos += n
        return out

    def read_u8(self) -> int:
        return self.read_exact(1)[0]

    def read_varint(self) -> int:
        shift = out = 0
        while True:
            b = self.read_u8()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 63:
                raise ProtocolError("varint too long")

    def read_str(self) -> str:
        n = self.read_varint()
        if n > MAX_WIRE_STR:
            # The declared length is attacker data; reading it
            # verbatim lets one client make the server buffer
            # arbitrary bytes. 64 MiB passes any real query text.
            raise ProtocolError(
                f"wire string of {n} bytes exceeds the "
                f"{MAX_WIRE_STR}-byte protocol cap"
            )
        return self.read_exact(n).decode("utf-8")

    def decode(self, dec) -> Any:
        while True:
            try:
                v, p = dec(self.buf, self.pos)
            except (IndexError, struct.error):
                self._pull()
                continue
            if p > len(self.buf):
                self._pull()
                continue
            self.pos = p
            return v


class _Wire(_Source):
    """The connection's single read path (plus send)."""

    def __init__(self, sock) -> None:
        super().__init__()
        self.sock = sock

    def _pull(self) -> None:
        data = self.sock.recv(1 << 16)
        if not data:
            raise ConnectionError("client closed connection")
        self.buf += data

    def send(self, data: bytes) -> None:
        self.sock.sendall(data)


class _CompressedSource(_Source):
    """Decompressed view over checksummed frames read off the wire."""

    def __init__(self, wire: _Wire) -> None:
        super().__init__()
        self.wire = wire

    def _pull(self) -> None:
        self.buf += read_frame(self.wire.read_exact)


def _read_column(src: _Source, t: str, nrows: int) -> list:
    """Streamed Native column read — the structural walk of
    ``formats._native_read_column`` (Nullable mask + values, Array/Map
    cumulative UInt64 offsets + flattened elements, Tuple per-field
    columns) over a socket source, leaf values via the shared
    RowBinary codecs."""
    t = t.strip()
    if t.startswith("Nullable("):
        mask = src.read_exact(nrows)
        vals = _read_column(src, t[9:-1], nrows)
        return [None if m else v for m, v in zip(mask, vals)]
    if t.startswith("Array(") or t.startswith("Map("):
        offs = (
            struct.unpack(f"<{nrows}Q", src.read_exact(8 * nrows))
            if nrows
            else ()
        )
        total = offs[-1] if offs else 0
        if t.startswith("Array("):
            flat = _read_column(src, t[6:-1], total)
            out: list = []
            start = 0
            for off in offs:
                out.append(flat[start:off])
                start = off
            return out
        k_t, v_t = split_top_level(t[4:-1])
        keys = _read_column(src, k_t, total)
        vals = _read_column(src, v_t, total)
        out = []
        start = 0
        for off in offs:
            out.append(dict(zip(keys[start:off], vals[start:off])))
            start = off
        return out
    if t.startswith("Tuple("):
        from bighouse_spark.formats import _native_field_type

        fts = [_native_field_type(f) for f in split_top_level(t[6:-1])]
        cols = [_read_column(src, ft, nrows) for ft in fts]
        return [tuple(r) for r in zip(*cols)] if nrows else []
    if t.startswith("LowCardinality("):
        raise ProtocolError(
            "Native LowCardinality columns use dictionary encoding "
            "this server does not implement; send the plain inner type"
        )
    dec = rowbinary_decoder(t)
    return [src.decode(dec) for _ in range(nrows)]


def _read_block(src: _Source) -> tuple[list[str], list[str], list[list]]:
    """One Data-packet block: BlockInfo, then ncols/nrows and
    per-column (name, type, columnar data)."""
    while True:
        fnum = src.read_varint()
        if fnum == 0:
            break
        if fnum == 1:
            src.read_exact(1)  # is_overflows
        elif fnum == 2:
            src.read_exact(4)  # bucket_num
        else:
            raise ProtocolError(f"unknown BlockInfo field {fnum}")
    ncols = src.read_varint()
    nrows = src.read_varint()
    cols: list[str] = []
    types: list[str] = []
    columns: list[list] = []
    for _ in range(ncols):
        cols.append(src.read_str())
        types.append(src.read_str())
        columns.append(_read_column(src, types[-1], nrows))
    rows = [list(r) for r in zip(*columns)] if nrows else []
    src.compact()
    return cols, types, rows


class _Conn:
    """One client connection's protocol state machine."""

    def __init__(
        self, sock, engine: BigHouseEngine,
        auth: tuple[str, str] | None = None,
    ) -> None:
        self.wire = _Wire(sock)
        self.engine = engine
        self.auth = auth
        self.client_revision = 0
        self.revision = 0  # negotiated
        self.settings: dict[str, str] = {}  # SET persists per conn
        self.compressed = False  # last-negotiated (per Query packet)
        self.comp_method = METHOD_LZ4  # output codec (CH default)
        self._csource: _CompressedSource | None = None

    def _block_source(self, compressed: bool) -> _Source:
        """The read source for incoming blocks. The compressed source
        PERSISTS across packets (one per connection, like CH's
        CompressedReadBuffer): the compressed stream is a transport-
        level frame sequence with no guarantee that frames end exactly
        at block boundaries, so leftover decompressed bytes must carry
        over to the next block instead of being discarded."""
        if not compressed:
            return self.wire
        if self._csource is None:
            self._csource = _CompressedSource(self.wire)
        return self._csource

    # -- low-level send helpers ------------------------------------

    def send_exception(self, message: str, code: int = 1001) -> None:
        out = _leb128(S_EXCEPTION)
        out += struct.pack("<i", code)
        out += _leb128_str("DB::Exception")
        out += _leb128_str(message[:4000])
        out += _leb128_str("")  # stack trace
        out += b"\x00"  # no nested exception
        self.wire.send(out)

    def send_block(
        self,
        cols: list[str],
        rows: list[list],
        types: list[str] | None,
        compressed: bool,
    ) -> None:
        body = BLOCK_INFO + _render_native(cols, rows, types, 0.0)
        out = bytearray(_leb128(S_DATA) + _leb128_str(""))
        if compressed:
            for i in range(0, len(body), MAX_BLOCK):
                out += compress_frame(
                    body[i:i + MAX_BLOCK], self.comp_method
                )
            if not body:  # pragma: no cover - body is never empty
                out += compress_frame(b"", self.comp_method)
        else:
            out += body
        self.wire.send(bytes(out))

    def send_progress(self, rows: int, nbytes: int) -> None:
        out = _leb128(S_PROGRESS)
        out += _leb128(rows) + _leb128(nbytes) + _leb128(rows)
        out += _leb128(0) + _leb128(0)  # written rows/bytes
        self.wire.send(out)

    def send_profile_info(self, rows: int, blocks: int,
                          nbytes: int) -> None:
        out = _leb128(S_PROFILE_INFO)
        out += _leb128(rows) + _leb128(blocks) + _leb128(nbytes)
        out += b"\x00" + _leb128(0) + b"\x00"  # no LIMIT bookkeeping
        self.wire.send(out)

    def send_end_of_stream(self) -> None:
        self.wire.send(_leb128(S_END_OF_STREAM))

    # -- handshake -------------------------------------------------

    def hello(self) -> bool:
        ptype = self.wire.read_varint()
        if ptype != C_HELLO:
            self.send_exception(
                f"expected Hello packet (0), got {ptype} — is this a "
                "native-protocol client? HTTP lives on the HTTP port",
                code=101,
            )
            return False
        self.wire.read_str()  # client name
        self.wire.read_varint()  # version major
        self.wire.read_varint()  # version minor
        self.client_revision = self.wire.read_varint()
        self.wire.read_str()  # database (single-catalog engine)
        # CH's native protocol carries cleartext credentials in the
        # Hello packet; with auth configured they are verified here
        # (constant-time), else trust — same default as PG/MySQL.
        user = self.wire.read_str()
        password = self.wire.read_str()
        if self.auth is not None:
            import hmac as _hmac

            want_user, want_pw = self.auth
            if not (
                _hmac.compare_digest(user.encode(), want_user.encode())
                and _hmac.compare_digest(
                    password.encode(), want_pw.encode()
                )
            ):
                self.send_exception(
                    f"{user}: Authentication failed: password is "
                    "incorrect, or there is no user with such name",
                    code=516,
                )
                return False
        self.revision = min(self.client_revision, SERVER_REVISION)
        if self.revision < REV_SETTINGS_AS_STRINGS:
            self.send_exception(
                f"client protocol revision {self.client_revision} is "
                "older than 54429 (settings serialized as typed "
                "binary); upgrade the client",
                code=102,
            )
            return False
        out = _leb128(S_HELLO)
        out += _leb128_str(SERVER_NAME)
        out += _leb128(VERSION_MAJOR) + _leb128(VERSION_MINOR)
        out += _leb128(SERVER_REVISION)
        if self.client_revision >= REV_SERVER_TIMEZONE:
            out += _leb128_str("UTC")
        if self.client_revision >= REV_DISPLAY_NAME:
            out += _leb128_str("bighouse")
        if self.client_revision >= REV_VERSION_PATCH:
            out += _leb128(VERSION_PATCH)
        self.wire.send(out)
        return True

    # -- query packet ----------------------------------------------

    def read_client_info(self) -> None:
        w = self.wire
        query_kind = w.read_u8()
        if query_kind == 0:
            return
        w.read_str()  # initial user
        w.read_str()  # initial query id
        w.read_str()  # initial address
        interface = w.read_u8()
        if interface == 1:  # TCP
            w.read_str()  # os user
            w.read_str()  # client hostname
            w.read_str()  # client name
            w.read_varint()  # client version major
            w.read_varint()  # client version minor
            w.read_varint()  # client tcp protocol version
        else:  # HTTP-originated (secondary queries)
            w.read_u8()  # http method
            w.read_str()  # user agent
        if self.revision >= REV_QUOTA_KEY:
            w.read_str()
        if interface == 1 and self.revision >= REV_VERSION_PATCH:
            w.read_varint()
        # Later ClientInfo fields (initial query start time,
        # distributed depth, OpenTelemetry, parallel replicas) are
        # all gated on revisions > 54429 and cannot appear.

    def read_query_settings(self) -> dict[str, str]:
        out: dict[str, str] = {}
        while True:
            name = self.wire.read_str()
            if not name:
                return out
            self.wire.read_varint()  # flags (important/custom)
            out[name] = self.wire.read_str()

    def handle_query(self) -> None:
        w = self.wire
        query_id = w.read_str() or None
        self.read_client_info()
        packet_settings = self.read_query_settings()
        w.read_varint()  # stage (always run to Complete)
        compressed = self.compressed = bool(w.read_varint())
        query = w.read_str()
        w.compact()

        # External tables: named blocks until the empty terminator.
        externals: list[tuple[str, list[str], list[list]]] = []
        while True:
            ptype = w.read_varint()
            if ptype == C_CANCEL:
                # A cancelled query still terminates its response —
                # clients block on EndOfStream (CH semantics).
                self.send_end_of_stream()
                return
            if ptype != C_DATA:
                raise ProtocolError(
                    f"expected Data packet after Query, got {ptype}"
                )
            name = w.read_str()
            cols, _types, rows = _read_block(
                self._block_source(compressed)
            )
            if not cols:
                break
            externals.append((name, cols, rows))

        # The connection's SETs, then this query's packet settings
        # (raw values), reach the engine as the query's init SET.
        settings = merge(self.settings, packet_settings)
        # CH's network_compression_method picks the server's OUTPUT
        # codec (each frame is self-describing via its method byte, so
        # the read side needs no negotiation — it dispatches per
        # frame). lz4 is CH's default.
        meth = settings.get("network_compression_method", "lz4").lower()
        if meth == "zstd":
            self.comp_method = METHOD_ZSTD
        elif meth == "none":
            self.comp_method = METHOD_NONE
        else:
            self.comp_method = METHOD_LZ4

        m = _INSERT_NEEDS_DATA.match(query)
        if m:
            self.handle_insert(m, query, compressed)
        else:
            self.handle_select(
                query, query_id, settings, compressed, externals
            )

    # -- SELECT / DDL ----------------------------------------------

    def handle_select(
        self,
        query: str,
        query_id: str | None,
        settings: dict[str, str],
        compressed: bool,
        externals: list[tuple[str, list[str], list[list]]],
    ) -> None:
        # CH external tables are QUERY-scoped named datasets, but
        # Spark temp views are session-global on the one shared
        # SparkSession — so register each under a connection-unique
        # mangled name and rewrite the query's references (the HTTP
        # sessions' temp-table mechanism), keeping concurrent
        # connections that use the same external name isolated.
        mangled: dict[str, str] = {}
        for name, cols, rows in externals:
            m_name = f"__bh_ext_{id(self) & 0xFFFFFF:x}_{name}"
            mangled[name] = m_name
            # Type inference mirrors the INSERT coercion path (an
            # empty table falls back to all-String columns).
            if rows:
                df = self.engine.spark.createDataFrame(
                    [tuple(r) for r in rows], cols
                )
            else:
                from pyspark.sql.types import (
                    StringType,
                    StructField,
                    StructType,
                )

                df = self.engine.spark.createDataFrame(
                    [],
                    StructType(
                        [StructField(c, StringType()) for c in cols]
                    ),
                )
            df.createOrReplaceTempView(m_name)
        if mangled:
            from bighouse_spark.server import (
                _rewrite_names_outside_strings,
            )

            query = _rewrite_names_outside_strings(query, mangled)

        conn = self

        class _Sink:
            started = False
            rows_sent = 0
            blocks = 0
            nbytes = 0

            def __init__(self) -> None:
                self.cols: list[str] = []
                self.types: list[str] | None = None
                self.pending: list[list] = []

            def start(self, cols, types) -> None:
                self.started = True
                self.cols, self.types = cols, types
                conn.send_block(cols, [], types, compressed)

            def write_row(self, row) -> None:
                self.pending.append(row)
                if len(self.pending) >= ROWS_PER_BLOCK:
                    self.flush()

            def flush(self) -> None:
                if self.pending:
                    conn.send_block(
                        self.cols, self.pending, self.types, compressed
                    )
                    self.rows_sent += len(self.pending)
                    self.blocks += 1
                    self.pending = []

        sink = _Sink()
        try:
            result = self.engine.execute(
                QueryRequest(query=query, query_id=query_id, remote=True,
                             init_queries=init_queries(settings)),
                stream_to=sink,
            )
            if set_pairs := parse_set_statement(query):
                self.settings = merge(self.settings, set_pairs)
            if sink.started:
                sink.flush()
                rows_sent, nblocks = sink.rows_sent, sink.blocks
            else:
                types = result.types
                self.send_block(result.cols, [], types, compressed)
                rows_sent = len(result.rows)
                nblocks = 0
                for i in range(0, rows_sent, ROWS_PER_BLOCK):
                    self.send_block(
                        result.cols,
                        result.rows[i:i + ROWS_PER_BLOCK],
                        types,
                        compressed,
                    )
                    nblocks += 1
        finally:
            for m_name in mangled.values():
                try:
                    self.engine.spark.catalog.dropTempView(m_name)
                except Exception:
                    pass
        self.send_progress(rows_sent, 0)
        self.send_profile_info(rows_sent, nblocks, 0)
        self.send_end_of_stream()

    # -- INSERT with client-streamed blocks ------------------------

    def handle_insert(self, m: re.Match, query: str,
                      compressed: bool) -> None:
        name = m.group("name").strip('`"')
        if name.startswith("default."):
            name = name[len("default."):]
        columns = None
        if m.group("cols"):
            columns = [
                c.strip().strip('`"')
                for c in m.group("cols").split(",")
                if c.strip()
            ]
        cols, types = self.engine.insert_header(name, columns)
        # Sample block: tells the client the structure to encode.
        self.send_block(cols, [], types, compressed)
        all_cols: list[str] = []
        all_rows: list[list] = []
        flushed = 0
        while True:
            ptype = self.wire.read_varint()
            if ptype == C_CANCEL:
                # Terminate the response; already-flushed batches
                # stay (CH cancel mid-INSERT is not transactional).
                self.send_end_of_stream()
                return
            if ptype != C_DATA:
                raise ProtocolError(
                    f"expected Data packet during INSERT, got {ptype}"
                )
            self.wire.read_str()  # table name
            bcols, _btypes, brows = _read_block(
                self._block_source(compressed)
            )
            if not bcols:
                break
            if not all_cols:
                all_cols = bcols
            elif bcols != all_cols:
                raise ProtocolError(
                    f"INSERT blocks disagree on columns: {bcols} vs "
                    f"{all_cols}"
                )
            all_rows.extend(brows)
            # Bound driver memory: the native protocol streams
            # unbounded block sequences (unlike the size-bounded
            # HTTP POST payload), so append in batches instead of
            # accumulating the whole ingest.
            if len(all_rows) >= INSERT_FLUSH_ROWS:
                self.engine.insert_decoded(name, all_cols, all_rows)
                flushed += len(all_rows)
                all_rows = []
        if all_rows or not flushed:
            self.engine.insert_decoded(name, all_cols or cols, all_rows)
        self.send_end_of_stream()

    # -- misc packets ----------------------------------------------

    def handle_tables_status(self) -> None:
        count = self.wire.read_varint()
        for _ in range(count):
            self.wire.read_str()
            self.wire.read_str()
        self.wire.send(_leb128(S_TABLES_STATUS) + _leb128(0))

    # -- main loop -------------------------------------------------

    def run(self) -> None:
        if not self.hello():
            return
        while True:
            ptype = self.wire.read_varint()
            if ptype == C_QUERY:
                try:
                    self.handle_query()
                except ProtocolError:
                    raise  # framing is gone; drop the connection
                except Exception as e:
                    # Engine errors are clean: Exception packet, the
                    # connection stays usable (CH semantics).
                    self.send_exception(str(e))
            elif ptype == C_PING:
                self.wire.send(_leb128(S_PONG))
            elif ptype == C_CANCEL:
                continue
            elif ptype == C_TABLES_STATUS:
                self.handle_tables_status()
            elif ptype == C_DATA:
                # Stray data outside a query (e.g. blocks in flight
                # behind a Cancel): drain one block with the same
                # framing the aborted query negotiated.
                self.wire.read_str()
                _read_block(self._block_source(self.compressed))
            else:
                self.send_exception(
                    f"unexpected client packet {ptype}", code=101
                )
                return


class _Handler(socketserver.BaseRequestHandler):
    def setup(self) -> None:
        super().setup()
        from bighouse_spark import metrics as _metrics

        _metrics.connection_opened("clickhouse")

    def finish(self) -> None:
        from bighouse_spark import metrics as _metrics

        try:
            super().finish()
        finally:
            _metrics.connection_closed("clickhouse")

    def handle(self) -> None:
        sock = self.request
        try:
            # tcp_port_secure semantics: when the server carries a
            # TLS context the connection is TLS from the first byte
            # (no STARTTLS in the native protocol). The handshake
            # runs here, in the per-connection thread, so a stalled
            # client can't block the accept loop.
            ctx = getattr(self.server, "tls_ctx", None)
            if ctx is not None:
                from bighouse_spark.tlsutil import wrap_server_side

                sock = wrap_server_side(ctx, sock)
            _Conn(
                sock, self.server.engine,
                auth=getattr(self.server, "auth", None),
            ).run()
        except (ConnectionError, BrokenPipeError, OSError,
                ProtocolError):
            pass


class CHWireServer:
    """Threaded native-protocol listener bound to ``engine``;
    ``port=0`` picks a free port (exposed as ``.port``). Same
    one-warm-session posture as the HTTP/PG/MySQL servers."""

    def __init__(
        self,
        engine: BigHouseEngine | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        auth: tuple[str, str] | None = None,
        tls: tuple[str, str] | None = None,
    ) -> None:
        """``auth``: optional ``(user, password)`` checked against
        the Hello packet's cleartext credentials; None = trust.
        ``tls``: optional ``(certfile, keyfile)`` — the listener
        becomes CH's ``tcp_port_secure`` (9440): TLS from the first
        byte, plaintext clients are rejected at handshake."""
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

    def start(self) -> "CHWireServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()
