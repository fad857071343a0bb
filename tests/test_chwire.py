"""ClickHouse native TCP protocol (port 9000) tests via a raw-socket
client (no CH driver wheels in the container — the client below
implements the public protocol independently: Hello negotiation,
Query + ClientInfo + settings-as-strings framing, Data packets with
BlockInfo, Progress/ProfileInfo/EndOfStream, INSERT sample-block
flow, LZ4/None compressed frames with an independent LZ4 block
decoder). Block payloads are decoded by the independent Native
decoder in ``test_rowbinary`` — not the server's codec."""

from __future__ import annotations

import socket
import struct
import urllib.parse
import urllib.request

import pytest

from bighouse_spark.chwire import CHWireServer
from bighouse_spark.engine import BigHouseEngine
from tests.conftest import SF_CORRECT
from tests.test_rowbinary import (
    _native_read_column,
    _read_leb128,
    _read_str,
)


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


def _s(v: str) -> bytes:
    b = v.encode()
    return _leb(len(b)) + b


def _lz4_decode_indep(src: bytes, out_size: int) -> bytes:
    """Independent LZ4 block decoder (public block format)."""
    out = bytearray()
    i = 0
    while i < len(src):
        token = src[i]
        i += 1
        ln = token >> 4
        if ln == 15:
            while src[i] == 255:
                ln += 255
                i += 1
            ln += src[i]
            i += 1
        out += src[i:i + ln]
        i += ln
        if i >= len(src):
            break
        off = struct.unpack("<H", src[i:i + 2])[0]
        i += 2
        ml = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while src[i] == 255:
                ml += 255
                i += 1
            ml += src[i]
            i += 1
        for _ in range(ml):
            out.append(out[-off])
    assert len(out) == out_size
    return bytes(out)


BLOCK_INFO = b"\x01\x00\x02" + struct.pack("<i", -1) + b"\x00"


def _encode_scalar(v, t: str) -> bytes:
    """Independent scalar encoder for the types these tests send."""
    if t == "String":
        b = str(v).encode()
        return _leb(len(b)) + b
    if t in ("Int64", "Int32", "Int16", "Int8"):
        width = {"Int64": "q", "Int32": "i", "Int16": "h", "Int8": "b"}
        return struct.pack("<" + width[t], int(v))
    if t.startswith("UInt"):
        width = {"UInt64": "Q", "UInt32": "I", "UInt16": "H",
                 "UInt8": "B"}
        return struct.pack("<" + width[t], int(v))
    if t == "Float64":
        return struct.pack("<d", float(v))
    if t == "Float32":
        return struct.pack("<f", float(v))
    raise AssertionError(f"test encoder: unhandled type {t}")


class CHClient:
    """Raw-socket native-protocol client, revision 54470."""

    def __init__(self, host: str, port: int, compressed: bool = False,
                 revision: int = 54470, user: str = "tester",
                 password: str = "pw", sock: socket.socket | None = None):
        # ``sock``: an already-connected (e.g. TLS-wrapped) socket —
        # the tcp_port_secure tests hand one in.
        self.sock = sock or socket.create_connection((host, port), timeout=60)
        self.buf = b""
        self.pos = 0
        self.compressed = compressed
        self.seen_methods: set[int] = set()  # frame method bytes read
        self.send_zstd = False  # client→server frames use zstd
        self.sock.sendall(
            _leb(0) + _s("test-raw-client") + _leb(23) + _leb(8)
            + _leb(revision) + _s("default") + _s(user) + _s(password)
        )

    def read_hello(self):
        ptype = self._leb128()
        if ptype == 2:
            raise RuntimeError(self._exception_text())
        assert ptype == 0, ptype
        name = self._str()
        self._leb128()  # major
        self._leb128()  # minor
        rev = self._leb128()
        assert rev >= 54058
        tz = self._str()
        display = self._str()
        patch = self._leb128()
        return name, rev, tz, display, patch

    # -- buffered parse-with-retry ---------------------------------

    def _pull(self):
        data = self.sock.recv(1 << 20)
        if not data:
            raise ConnectionError("server closed")
        self.buf += data

    def _retry(self, fn):
        for _ in range(10000):
            try:
                v, p = fn(self.buf, self.pos)
            except (IndexError, struct.error):
                self._pull()
                continue
            if p > len(self.buf):
                self._pull()
                continue
            self.pos = p
            return v
        raise AssertionError("parse did not converge")

    def _leb128(self) -> int:
        return self._retry(_read_leb128)

    def _str(self) -> str:
        return self._retry(_read_str)

    def _exact(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            self._pull()
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return out

    # -- block codec (independent) ---------------------------------

    def _read_block(self):
        """Returns (cols, types, rows, raw_block_bytes) where raw is
        the ncols..data span (BlockInfo stripped) for byte-parity
        checks against HTTP FORMAT Native."""
        if self.compressed:
            data = self._read_compressed_stream_block()
            cols, types, rows, end = self._block_from(data, 0)
            assert end == len(data)
            return cols, types, rows, data[len(BLOCK_INFO):]
        start_probe = self.pos

        def parse(buf, pos):
            out = self._block_from(buf, pos)
            return out[:3], out[3]

        cols_types_rows = self._retry(parse)
        raw = self.buf[start_probe + len(BLOCK_INFO):self.pos]
        return (*cols_types_rows, raw)

    def _read_compressed_stream_block(self) -> bytes:
        # One server block == one-or-more frames; tests stay < 1 MiB
        # so exactly one frame arrives per block.
        from bighouse_spark.functions.cityhash import cityhash128

        checksum = self._exact(16)
        head = self._exact(9)
        method = head[0]
        csize, usize = struct.unpack("<ii", head[1:9])
        payload = self._exact(csize - 9)
        lo, hi = cityhash128(head + payload)
        assert struct.pack("<QQ", lo, hi) == checksum, "bad checksum"
        self.seen_methods.add(method)
        if method == 0x82:
            return _lz4_decode_indep(payload, usize)
        if method == 0x90:
            # independent zstd: pyarrow's bundled C decoder, not the
            # repo's codec path
            import pyarrow as pa

            return bytes(pa.Codec("zstd").decompress(payload, usize))
        assert method == 0x02
        return payload

    @staticmethod
    def _block_from(buf, pos):
        # BlockInfo
        while True:
            fnum, pos = _read_leb128(buf, pos)
            if fnum == 0:
                break
            pos += 1 if fnum == 1 else 4
        ncols, pos = _read_leb128(buf, pos)
        nrows, pos = _read_leb128(buf, pos)
        cols, types, columns = [], [], []
        for _ in range(ncols):
            c, pos = _read_str(buf, pos)
            t, pos = _read_str(buf, pos)
            if pos > len(buf):
                raise IndexError("need more")
            cols.append(c)
            types.append(t)
            vals, pos = _native_read_column(buf, pos, t, nrows)
            columns.append(vals)
        rows = [list(r) for r in zip(*columns)] if nrows else []
        return cols, types, rows, pos

    def _block_bytes(self, cols, types, rows) -> bytes:
        body = bytearray(BLOCK_INFO)
        body += _leb(len(cols)) + _leb(len(rows))
        for i, (c, t) in enumerate(zip(cols, types)):
            body += _s(c) + _s(t)
            for r in rows:
                body += _encode_scalar(r[i], t)
        return bytes(body)

    def _send_block(self, cols=(), types=(), rows=()):
        body = self._block_bytes(list(cols), list(types), list(rows))
        out = _leb(2) + _s("")
        if self.compressed and self.send_zstd:
            # build the ZSTD frame independently: pyarrow zstd payload
            # + hand-rolled CH frame header
            import pyarrow as pa

            from bighouse_spark.functions.cityhash import cityhash128

            payload = bytes(pa.Codec("zstd").compress(body))
            fb = (
                b"\x90"
                + struct.pack("<ii", 9 + len(payload), len(body))
                + payload
            )
            lo, hi = cityhash128(fb)
            out += struct.pack("<QQ", lo, hi) + fb
        elif self.compressed:
            from bighouse_spark.compress import compress_frame

            out += compress_frame(body)
        else:
            out += body
        self.sock.sendall(out)

    # -- query flow ------------------------------------------------

    def send_query(self, sql: str, settings=None, query_id: str = ""):
        out = bytearray(_leb(1) + _s(query_id))
        # ClientInfo (negotiated revision 54429)
        out += b"\x01"  # query_kind = initial
        out += _s("") + _s("") + _s("0.0.0.0:0")
        out += b"\x01"  # interface TCP
        out += _s("tester") + _s("host") + _s("test-raw-client")
        out += _leb(23) + _leb(8) + _leb(54470)
        out += _s("")  # quota key  (rev >= 54060)
        out += _leb(0)  # version patch (rev >= 54401)
        for k, v in (settings or {}).items():
            out += _s(k) + _leb(0) + _s(str(v))
        out += _s("")  # settings terminator
        out += _leb(2)  # stage Complete
        out += _leb(1 if self.compressed else 0)
        out += _s(sql)
        self.sock.sendall(bytes(out))
        self._send_block()  # end of external tables

    def read_response(self):
        """Collect packets until EndOfStream/Exception. Returns dict
        with cols/types/rows/raw_blocks/progress/profile/error."""
        out = {"rows": [], "raw_blocks": [], "progress": None,
               "profile": None, "error": None, "cols": None,
               "types": None}
        while True:
            ptype = self._leb128()
            if ptype == 1:  # Data
                self._str()
                cols, types, rows, raw = self._read_block()
                if cols and out["cols"] is None:
                    out["cols"], out["types"] = cols, types
                if rows:
                    out["rows"].extend(rows)
                    out["raw_blocks"].append(raw)
            elif ptype == 3:  # Progress
                out["progress"] = [self._leb128() for _ in range(5)]
            elif ptype == 6:  # ProfileInfo
                vals = [self._leb128() for _ in range(3)]
                self._exact(1)
                self._leb128()
                self._exact(1)
                out["profile"] = vals
            elif ptype == 2:  # Exception
                out["error"] = self._exception_text()
                return out
            elif ptype == 5:  # EndOfStream
                return out
            else:
                raise AssertionError(f"unexpected packet {ptype}")

    def _exception_text(self) -> str:
        struct.unpack("<i", self._exact(4))
        self._str()  # name
        msg = self._str()
        self._str()  # stack trace
        nested = self._exact(1)[0]
        assert nested == 0
        return msg

    def query(self, sql: str, settings=None):
        self.send_query(sql, settings=settings)
        out = self.read_response()
        if out["error"]:
            raise RuntimeError(out["error"])
        return out

    def ping(self):
        self.sock.sendall(_leb(4))
        assert self._leb128() == 4

    def close(self):
        self.sock.close()


@pytest.fixture(scope="module")
def ch_server(spark):
    engine = BigHouseEngine(spark=spark)
    engine.attach_table("chw_nation", f"{SF_CORRECT}/nation.parquet")
    srv = CHWireServer(engine=engine).start()
    yield srv
    srv.shutdown()


@pytest.fixture()
def client(ch_server):
    c = CHClient(ch_server.host, ch_server.port)
    c.read_hello()
    yield c
    c.close()


def test_hello_negotiation(ch_server):
    c = CHClient(ch_server.host, ch_server.port)
    name, rev, tz, display, patch = c.read_hello()
    assert rev == 54429
    assert tz == "UTC"
    assert display == "bighouse"
    c.close()


def test_old_client_refused(ch_server):
    c = CHClient(ch_server.host, ch_server.port, revision=54000)
    with pytest.raises(RuntimeError, match="older than 54429"):
        c.read_hello()
    c.close()


def test_select_typed_blocks(client):
    out = client.query(
        "SELECT number AS n, toString(number) AS s FROM numbers(5) "
        "ORDER BY n"
    )
    assert out["cols"] == ["n", "s"]
    assert out["rows"] == [[i, str(i)] for i in range(5)]
    assert out["progress"][0] == 5
    assert out["profile"][0] == 5


def test_select_from_attached_table(client):
    out = client.query(
        "SELECT n_regionkey, count() AS c FROM chw_nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey"
    )
    assert len(out["rows"]) == 5
    assert sum(r[1] for r in out["rows"]) == 25
    assert out["types"][1] in ("UInt64", "Int64")


def test_tcp_block_matches_http_native_bytes(ch_server, client):
    """The done-criterion parity check: the TCP Data block must be
    byte-identical to the HTTP ``FORMAT Native`` body for the same
    query (same codec, same types, same values)."""
    from bighouse_spark.server import start_in_background

    sql = (
        "SELECT n_nationkey, n_name FROM chw_nation "
        "ORDER BY n_nationkey LIMIT 7"
    )
    http, _t = start_in_background(engine=ch_server.engine)
    try:
        url = (
            f"http://127.0.0.1:{http.server_port}/?query="
            + urllib.parse.quote(sql + " FORMAT Native")
        )
        http_bytes = urllib.request.urlopen(url).read()
    finally:
        http.shutdown()
    out = client.query(sql)
    assert len(out["raw_blocks"]) == 1
    assert out["raw_blocks"][0] == http_bytes


def test_settings_in_query_packet(client):
    # exact_cityhash=1 flips cityHash64 to the bit-exact v1.0.2 path:
    # cityHash64('') == k2. Proves packet settings reach the engine.
    out = client.query(
        "SELECT cityHash64('') AS h",
        settings={"exact_cityhash": "1"},
    )
    assert out["rows"][0][0] == 11160318154034397263


def test_set_statement_persists_on_connection(client):
    client.query("SET exact_cityhash = 1")
    out = client.query("SELECT cityHash64('') AS h")
    assert out["rows"][0][0] == 11160318154034397263


def test_set_is_scoped_to_its_connection(ch_server, client, spark):
    # A connection's SET is its own: a second connection, and the base
    # session's conf, keep the base value.
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.getAll
    other = CHClient(ch_server.host, ch_server.port)
    other.read_hello()
    try:
        client.query(f"SET {key} = 3")
        assert client.query(f"SET {key}")["rows"] == [[key, "3"]]
        assert other.query(f"SET {key}")["rows"] == [[key, before[key]]]
    finally:
        other.close()
    assert spark.conf.getAll == before


def test_exception_then_connection_survives(client):
    with pytest.raises(RuntimeError):
        client.query("SELECT definitely_not_a_function(1)")
    out = client.query("SELECT 1 AS x")
    assert out["rows"] == [[1]]


def test_ping_pong(client):
    client.ping()
    out = client.query("SELECT 2 AS y")
    assert out["rows"] == [[2]]


def test_external_table(client):
    # Query packet, then a NAMED external-table block, then the empty
    # terminator — the block becomes a query-scoped dataset.
    sql = "SELECT v, n FROM ext_t ORDER BY n"
    out_pkt = bytearray(_leb(1) + _s(""))
    out_pkt += b"\x01" + _s("") + _s("") + _s("0.0.0.0:0") + b"\x01"
    out_pkt += _s("tester") + _s("host") + _s("cli")
    out_pkt += _leb(23) + _leb(8) + _leb(54470) + _s("") + _leb(0)
    out_pkt += _s("")  # no settings
    out_pkt += _leb(2) + _leb(0) + _s(sql)
    client.sock.sendall(bytes(out_pkt))
    body = client._block_bytes(
        ["n", "v"], ["Int64", "String"], [[2, "b"], [1, "a"]]
    )
    client.sock.sendall(_leb(2) + _s("ext_t") + body)
    client._send_block()  # terminator
    out = client.read_response()
    assert out["error"] is None
    assert out["rows"] == [["a", 1], ["b", 2]]


def test_insert_roundtrip(ch_server, client, spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], ["id", "name"]
    )
    path = str(tmp_path / "chw_ins")
    df.write.parquet(path)
    ch_server.engine.attach_table("chw_ins", path)
    client.send_query("INSERT INTO chw_ins (id, name) VALUES")
    # Server replies with the sample block naming cols/types.
    ptype = client._leb128()
    assert ptype == 1
    client._str()
    cols, types, rows, _raw = client._read_block()
    assert cols == ["id", "name"]
    assert rows == []
    client._send_block(cols, types, [[3, "z"], [4, "w"]])
    client._send_block()  # end of data
    assert client._leb128() == 5  # EndOfStream
    out = client.query(
        "SELECT id, name FROM chw_ins ORDER BY id"
    )
    assert out["rows"] == [[1, "x"], [2, "y"], [3, "z"], [4, "w"]]


@pytest.mark.parametrize("method", ["lz4"])
def test_compressed_select_roundtrip(ch_server, method):
    c = CHClient(ch_server.host, ch_server.port, compressed=True)
    c.read_hello()
    try:
        out = c.query(
            "SELECT number AS n, toString(number) AS s "
            "FROM numbers(1000) ORDER BY n"
        )
        assert len(out["rows"]) == 1000
        assert out["rows"][17] == [17, "17"]
    finally:
        c.close()


def test_zstd_select_negotiated_via_setting(ch_server):
    # network_compression_method='zstd' switches the server's OUTPUT
    # frames to method 0x90; the client decodes them with pyarrow's
    # independent zstd (not the repo codec).
    c = CHClient(ch_server.host, ch_server.port, compressed=True)
    c.read_hello()
    try:
        out = c.query(
            "SELECT number AS n, toString(number) AS s "
            "FROM numbers(1000) ORDER BY n",
            settings={"network_compression_method": "zstd"},
        )
        assert len(out["rows"]) == 1000
        assert out["rows"][42] == [42, "42"]
        assert 0x90 in c.seen_methods, c.seen_methods
        assert 0x82 not in c.seen_methods  # every data frame switched
    finally:
        c.close()


def test_zstd_insert_frames_accepted(ch_server, spark, tmp_path):
    # client→server frames carry their own method byte: a ZSTD
    # INSERT payload must decode with no negotiation at all
    df = spark.createDataFrame([(1, "a")], ["k", "s"])
    path = str(tmp_path / "chw_inszstd")
    df.write.parquet(path)
    ch_server.engine.attach_table("chw_inszstd", path)
    c = CHClient(ch_server.host, ch_server.port, compressed=True)
    c.read_hello()
    try:
        c.send_query("INSERT INTO chw_inszstd VALUES")
        assert c._leb128() == 1
        c._str()
        cols, types, _rows, _raw = c._read_block()
        c.send_zstd = True
        c._send_block(cols, types, [[2, "b"]])
        c._send_block()
        assert c._leb128() == 5
        c.send_zstd = False
        out = c.query("SELECT k, s FROM chw_inszstd ORDER BY k")
        assert out["rows"] == [[1, "a"], [2, "b"]]
    finally:
        c.close()


def test_compressed_insert_roundtrip(ch_server, spark, tmp_path):
    df = spark.createDataFrame([(10, 1.5)], ["k", "v"])
    path = str(tmp_path / "chw_insc")
    df.write.parquet(path)
    ch_server.engine.attach_table("chw_insc", path)
    c = CHClient(ch_server.host, ch_server.port, compressed=True)
    c.read_hello()
    try:
        c.send_query("INSERT INTO chw_insc VALUES")
        assert c._leb128() == 1
        c._str()
        cols, types, _rows, _raw = c._read_block()
        c._send_block(cols, types, [[11, 2.5]])
        c._send_block()
        assert c._leb128() == 5
        out = c.query("SELECT k, v FROM chw_insc ORDER BY k")
        assert out["rows"] == [[10, 1.5], [11, 2.5]]
    finally:
        c.close()


def test_cancel_sends_end_of_stream(client):
    # Query packet, then Cancel instead of the external-table
    # terminator: the server must still terminate the response
    # (clients block on EndOfStream after cancelling).
    out_pkt = bytearray(_leb(1) + _s(""))
    out_pkt += b"\x01" + _s("") + _s("") + _s("0:0") + b"\x01"
    out_pkt += _s("u") + _s("h") + _s("cli")
    out_pkt += _leb(23) + _leb(8) + _leb(54470) + _s("") + _leb(0)
    out_pkt += _s("") + _leb(2) + _leb(0) + _s("SELECT 1")
    client.sock.sendall(bytes(out_pkt))
    client.sock.sendall(_leb(3))  # Cancel
    assert client._leb128() == 5  # EndOfStream
    out = client.query("SELECT 7 AS x")  # connection still usable
    assert out["rows"] == [[7]]


def test_external_tables_isolated_across_connections(ch_server):
    # Two connections use the SAME external-table name with different
    # data; each must see its own rows (query-scoped, CH semantics).
    import threading

    results = {}

    def run(tag, rows):
        c = CHClient(ch_server.host, ch_server.port)
        c.read_hello()
        try:
            for _ in range(5):  # repeat to give interleaving a chance
                out_pkt = bytearray(_leb(1) + _s(""))
                out_pkt += b"\x01" + _s("") + _s("") + _s("0:0")
                out_pkt += b"\x01" + _s("u") + _s("h") + _s("cli")
                out_pkt += _leb(23) + _leb(8) + _leb(54470)
                out_pkt += _s("") + _leb(0) + _s("")
                out_pkt += _leb(2) + _leb(0)
                out_pkt += _s("SELECT sum(n) AS s FROM shared_ext")
                c.sock.sendall(bytes(out_pkt))
                body = c._block_bytes(["n"], ["Int64"], rows)
                c.sock.sendall(_leb(2) + _s("shared_ext") + body)
                c._send_block()
                out = c.read_response()
                assert out["error"] is None, out["error"]
                results.setdefault(tag, []).append(out["rows"][0][0])
        finally:
            c.close()

    t1 = threading.Thread(target=run, args=("a", [[1], [2]]))
    t2 = threading.Thread(target=run, args=("b", [[100], [200]]))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert results["a"] == [3] * 5
    assert results["b"] == [300] * 5


def test_compressed_frame_spanning_two_blocks(ch_server, spark,
                                              tmp_path):
    # One LZ4 frame carrying the bytes of TWO insert blocks: the
    # server's compressed source must keep the leftover decompressed
    # bytes across the packet boundary (CH CompressedReadBuffer
    # semantics) instead of discarding them.
    from bighouse_spark.compress import compress_frame

    df = spark.createDataFrame([(0, "z")], ["id", "s"])
    path = str(tmp_path / "chw_span")
    df.write.parquet(path)
    ch_server.engine.attach_table("chw_span", path)
    c = CHClient(ch_server.host, ch_server.port, compressed=True)
    c.read_hello()
    try:
        c.send_query("INSERT INTO chw_span VALUES")
        assert c._leb128() == 1
        c._str()
        cols, types, _rows, _raw = c._read_block()
        b1 = c._block_bytes(cols, types, [[1, "a"]])
        b2 = c._block_bytes(cols, types, [[2, "b"]])
        frame = compress_frame(b1 + b2)  # both blocks, ONE frame
        c.sock.sendall(_leb(2) + _s("") + frame)
        c.sock.sendall(_leb(2) + _s(""))  # block 2: bytes already sent
        c._send_block()  # empty terminator (its own frame)
        assert c._leb128() == 5
        out = c.query("SELECT id, s FROM chw_span ORDER BY id")
        assert out["rows"] == [[0, "z"], [1, "a"], [2, "b"]]
    finally:
        c.close()


def test_insert_flush_batches(ch_server, spark, tmp_path, monkeypatch):
    import bighouse_spark.chwire as chw

    monkeypatch.setattr(chw, "INSERT_FLUSH_ROWS", 2)
    df = spark.createDataFrame([(0,)], ["k"])
    path = str(tmp_path / "chw_flush")
    df.write.parquet(path)
    ch_server.engine.attach_table("chw_flush", path)
    c = CHClient(ch_server.host, ch_server.port)
    c.read_hello()
    try:
        c.send_query("INSERT INTO chw_flush VALUES")
        assert c._leb128() == 1
        c._str()
        cols, types, _rows, _raw = c._read_block()
        for batch in ([[1]], [[2]], [[3]], [[4]], [[5]]):
            c._send_block(cols, types, batch)
        c._send_block()
        assert c._leb128() == 5
        out = c.query("SELECT k FROM chw_flush ORDER BY k")
        assert out["rows"] == [[0], [1], [2], [3], [4], [5]]
    finally:
        c.close()
