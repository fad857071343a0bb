"""RowBinary / RowBinaryWithNames / RowBinaryWithNamesAndTypes — CH's
compact binary scripting format, decoded here by an independent
reader to prove the wire bytes match the announced types."""

from __future__ import annotations

import gzip
import struct
import urllib.parse
import urllib.request
from datetime import date, datetime
from decimal import Decimal

import pytest

from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.formats import render_result, rowbinary_encoder
from bighouse_spark.server import start_in_background


def _read_leb128(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _read_str(buf: bytes, pos: int) -> tuple[str, int]:
    ln, pos = _read_leb128(buf, pos)
    return buf[pos:pos + ln].decode(), pos + ln


def _read_value(buf: bytes, pos: int, t: str):
    if t.startswith("Nullable("):
        flag = buf[pos]
        pos += 1
        if flag:
            return None, pos
        return _read_value(buf, pos, t[9:-1])
    if t == "Int64":
        return struct.unpack("<q", buf[pos:pos + 8])[0], pos + 8
    if t == "UInt64":
        return struct.unpack("<Q", buf[pos:pos + 8])[0], pos + 8
    if t == "Int32":
        return struct.unpack("<i", buf[pos:pos + 4])[0], pos + 4
    if t == "Float64":
        return struct.unpack("<d", buf[pos:pos + 8])[0], pos + 8
    if t == "Bool":
        return bool(buf[pos]), pos + 1
    if t == "Date":
        days = struct.unpack("<H", buf[pos:pos + 2])[0]
        return date(1970, 1, 1).fromordinal(719163 + days), pos + 2
    if t.startswith("DateTime64("):
        p = int(t.split("(")[1].split(")")[0].split(",")[0])
        ticks = struct.unpack("<q", buf[pos:pos + 8])[0]
        micros = ticks * 1_000_000 // (10 ** p)
        return (
            datetime(1970, 1, 1)
            + __import__("datetime").timedelta(microseconds=micros),
            pos + 8,
        )
    if t.startswith("Decimal("):
        prec, scale = (
            int(x) for x in t[8:-1].replace(" ", "").split(",")
        )
        width = 4 if prec <= 9 else 8 if prec <= 18 else \
            16 if prec <= 38 else 32
        iv = int.from_bytes(buf[pos:pos + width], "little", signed=True)
        return Decimal(iv) / (10 ** scale), pos + width
    if t.startswith("Array("):
        ln, pos = _read_leb128(buf, pos)
        out = []
        for _ in range(ln):
            v, pos = _read_value(buf, pos, t[6:-1])
            out.append(v)
        return out, pos
    # String fallback
    return _read_str(buf, pos)


def decode_with_names_and_types(buf: bytes):
    ncols, pos = _read_leb128(buf, 0)
    cols, types = [], []
    for _ in range(ncols):
        c, pos = _read_str(buf, pos)
        cols.append(c)
    for _ in range(ncols):
        t, pos = _read_str(buf, pos)
        types.append(t)
    rows = []
    while pos < len(buf):
        row = []
        for t in types:
            v, pos = _read_value(buf, pos, t)
            row.append(v)
        rows.append(row)
    return cols, types, rows


@pytest.fixture(scope="module")
def base(spark):
    srv, _ = start_in_background(BigHouseEngine(spark))
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _get(base: str, sql: str, headers=None, **params):
    qs = urllib.parse.urlencode({"query": sql, **params})
    req = urllib.request.Request(f"{base}/?{qs}", headers=headers or {})
    with urllib.request.urlopen(req) as resp:
        return resp.read(), dict(resp.headers)


def test_renderer_units():
    cols = ["i", "s", "f", "b", "a"]
    types = ["Int64", "String", "Float64", "Bool", "Array(Int64)"]
    rows = [[1, "héllo", 2.5, True, [1, 2]], [-7, "", 0.0, False, []]]
    buf = render_result(cols, rows, "RowBinaryWithNamesAndTypes",
                        types=types, elapsed=0.0)[0]
    c2, t2, r2 = decode_with_names_and_types(buf)
    assert c2 == cols and t2 == types and r2 == rows


def test_nullable_and_decimal_roundtrip():
    cols, types = ["n", "d"], ["Nullable(Int64)", "Decimal(20, 2)"]
    rows = [[None, Decimal("12.34")], [5, Decimal("-0.01")]]
    buf = render_result(cols, rows, "RowBinaryWithNamesAndTypes",
                        types=types, elapsed=0.0)[0]
    _, _, r2 = decode_with_names_and_types(buf)
    assert r2 == rows


def test_http_roundtrip_typed(base):
    body, h = _get(
        base,
        "SELECT number AS n, concat('x', toString(number)) AS s, "
        "number / 2 AS f, toDate('2024-03-15') AS d "
        "FROM numbers(1000) ORDER BY n "
        "FORMAT RowBinaryWithNamesAndTypes",
    )
    assert h.get("X-ClickHouse-Format") == "RowBinaryWithNamesAndTypes"
    cols, types, rows = decode_with_names_and_types(body)
    assert cols == ["n", "s", "f", "d"]
    assert len(rows) == 1000
    assert rows[3][0] == 3 and rows[3][1] == "x3"
    assert rows[5][2] == 2.5
    assert str(rows[0][3]) == "2024-03-15"


def test_streamed_identical_to_collected(base):
    sql = (
        "SELECT number AS n, toString(number) AS s FROM numbers(20000) "
        "ORDER BY n FORMAT RowBinaryWithNamesAndTypes"
    )
    streamed, sh = _get(base, sql)
    assert sh.get("Transfer-Encoding") == "chunked"
    collected, _ = _get(base, sql, headers={"Accept-Encoding": "gzip"})
    assert gzip.decompress(collected) == streamed


def test_plain_rowbinary_has_no_header(base):
    body, _ = _get(base, "SELECT toInt32(7) AS x FORMAT RowBinary")
    assert body == struct.pack("<i", 7)


def test_encoder_announced_type_is_wire_truth():
    # Whatever the header announces is exactly what the bytes hold —
    # DateTime64(6) ticks are microseconds since epoch.
    enc = rowbinary_encoder("DateTime64(6)")
    b = enc(datetime(2024, 1, 1, 0, 0, 1, 500000))
    ticks = struct.unpack("<q", b)[0]
    assert ticks == (datetime(2024, 1, 1, 0, 0, 1, 500000)
                     - datetime(1970, 1, 1)).total_seconds() * 1e6


class TestRowBinaryProperty:
    """Property: render → independent decode is the identity for
    every supported type, on hypothesis-generated rows."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    _finite = st.floats(allow_nan=False, allow_infinity=False, width=64)
    _row = st.tuples(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
        st.text(max_size=40),
        _finite,
        st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                 max_size=8),
        st.dates(min_value=date(1970, 1, 1), max_value=date(2105, 12, 31)),
    )

    @given(rows=st.lists(_row, max_size=20))
    @settings(max_examples=60, deadline=None)
    def test_roundtrip(self, rows):
        cols = ["i", "n", "s", "f", "a", "d"]
        types = [
            "Int64", "Nullable(Int64)", "String", "Float64",
            "Array(Int32)", "Date",
        ]
        rows = [list(r) for r in rows]
        buf = render_result(
            cols, rows, "RowBinaryWithNamesAndTypes",
            types=types, elapsed=0.0,
        )[0]
        c2, t2, r2 = decode_with_names_and_types(buf)
        assert c2 == cols and t2 == types
        assert r2 == rows


# -- Native (columnar blocks) ----------------------------------------

def _native_read_column(buf, pos, t, nrows):
    t = t.strip()
    if t.startswith("Nullable("):
        mask = list(buf[pos:pos + nrows])
        pos += nrows
        vals, pos = _native_read_column(buf, pos, t[9:-1], nrows)
        return [None if m else v for m, v in zip(mask, vals)], pos
    if t.startswith("Array("):
        offsets = []
        for _ in range(nrows):
            offsets.append(struct.unpack("<Q", buf[pos:pos + 8])[0])
            pos += 8
        total = offsets[-1] if offsets else 0
        flat, pos = _native_read_column(buf, pos, t[6:-1], total)
        out, start = [], 0
        for off in offsets:
            out.append(flat[start:off])
            start = off
        return out, pos
    out = []
    for _ in range(nrows):
        v, pos = _read_value(buf, pos, t)
        out.append(v)
    return out, pos


def decode_native(buf):
    ncols, pos = _read_leb128(buf, 0)
    nrows, pos = _read_leb128(buf, pos)
    cols, types, columns = [], [], []
    for _ in range(ncols):
        c, pos = _read_str(buf, pos)
        t, pos = _read_str(buf, pos)
        cols.append(c)
        types.append(t)
        vals, pos = _native_read_column(buf, pos, t, nrows)
        columns.append(vals)
    rows = [list(r) for r in zip(*columns)] if nrows else []
    return cols, types, rows


def test_native_roundtrip_units():
    from bighouse_spark.formats import render_result as rr

    cols = ["i", "n", "s", "a"]
    types = ["Int64", "Nullable(Int64)", "String", "Array(Int32)"]
    rows = [[1, None, "x", [1, 2]], [2, 7, "", []], [3, 8, "héllo", [5]]]
    buf = rr(cols, rows, "Native", types=types, elapsed=0.0)[0]
    c2, t2, r2 = decode_native(buf)
    assert c2 == cols and t2 == types and r2 == rows


def test_native_empty_result_is_schema_only():
    from bighouse_spark.formats import render_result as rr

    buf = rr(["x"], [], "Native", types=["Int64"], elapsed=0.0)[0]
    cols, types, rows = decode_native(buf)
    assert cols == ["x"] and types == ["Int64"] and rows == []


def test_native_over_http(base):
    body, h = _get(
        base,
        "SELECT number AS n, toString(number) AS s FROM numbers(100) "
        "ORDER BY n FORMAT Native",
    )
    assert h.get("X-ClickHouse-Format") == "Native"
    cols, types, rows = decode_native(body)
    assert cols == ["n", "s"] and len(rows) == 100
    assert rows[42] == [42, "42"]


# -- binary INSERT payloads ------------------------------------------

@pytest.fixture(scope="module")
def server_and_base(spark):
    from bighouse_spark.server import start_in_background

    srv, _ = start_in_background(BigHouseEngine(spark))
    yield srv, f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _post_binary(base: str, sql: str, payload: bytes):
    qs = urllib.parse.urlencode({"query": sql})
    req = urllib.request.Request(
        f"{base}/?{qs}", data=payload, method="POST",
        headers={"Content-Type": "application/octet-stream"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read()


def test_rowbinary_insert_over_http(server_and_base):
    from bighouse_spark.formats import _leb128

    srv, base = server_and_base
    eng = srv.RequestHandlerClass.engine
    eng.execute("CREATE TABLE rb_ins (a Int64, s String) ENGINE = Memory")
    try:
        # Plain RowBinary: positional per the DECLARED DDL types
        # (Int64 without null flags, leb128 string).
        payload = b"".join(
            struct.pack("<q", i) + _leb128(len(f"v{i}")) +
            f"v{i}".encode()
            for i in range(5)
        )
        status, _ = _post_binary(
            base, "INSERT INTO rb_ins FORMAT RowBinary", payload
        )
        assert status == 200
        r = eng.execute("SELECT a, s FROM rb_ins ORDER BY a")
        assert r.rows == [[i, f"v{i}"] for i in range(5)]

        # WithNamesAndTypes: self-described header, columns aligned
        # BY NAME (reversed column order on the wire).
        head = _leb128(2)
        for nm in ("s", "a"):
            head += _leb128(len(nm)) + nm.encode()
        for t in ("String", "Int64"):
            head += _leb128(len(t)) + t.encode()
        body = _leb128(3) + b"wnt" + struct.pack("<q", 99)
        status, _ = _post_binary(
            base,
            "INSERT INTO rb_ins FORMAT RowBinaryWithNamesAndTypes",
            head + body,
        )
        assert status == 200
        r2 = eng.execute(
            "SELECT a, s FROM rb_ins WHERE a = 99"
        )
        assert r2.rows == [[99, "wnt"]]

        # A truncated payload fails loudly, nothing half-inserted.
        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            _post_binary(
                base, "INSERT INTO rb_ins FORMAT RowBinary",
                struct.pack("<q", 1) + b"\x05ab",  # short string
            )
        n = eng.execute("SELECT count() AS c FROM rb_ins").rows[0][0]
        assert n == 6
    finally:
        eng.execute("DROP TABLE rb_ins")


def test_native_insert_over_http(server_and_base):
    from bighouse_spark.formats import _leb128, _leb128_str

    srv, base = server_and_base
    eng = srv.RequestHandlerClass.engine
    eng.execute(
        "CREATE TABLE nat_ins (a Int64, s String) ENGINE = Memory"
    )
    try:
        def block(rows):
            out = bytearray()
            out += _leb128(2) + _leb128(len(rows))
            out += _leb128_str("s") + _leb128_str("String")
            for _, sv in rows:
                out += _leb128_str(sv)
            out += _leb128_str("a") + _leb128_str("Int64")
            for av, _ in rows:
                out += struct.pack("<q", av)
            return bytes(out)

        # Two blocks (CH clients chunk inserts), columns by NAME in a
        # different order from the DDL.
        payload = block([(1, "one"), (2, "two")]) + block([(3, "three")])
        status, _ = _post_binary(
            base, "INSERT INTO nat_ins FORMAT Native", payload
        )
        assert status == 200
        r = eng.execute("SELECT a, s FROM nat_ins ORDER BY a")
        assert r.rows == [[1, "one"], [2, "two"], [3, "three"]]
    finally:
        eng.execute("DROP TABLE nat_ins")


def test_map_tuple_decode_roundtrip():
    from bighouse_spark.formats import parse_rowbinary

    enc_m = rowbinary_encoder("Map(Int64, String)")
    enc_t = rowbinary_encoder("Tuple(a Int64, b String)")
    payload = enc_m({1: "x", 2: "y"}) + enc_t((7, "z"))
    rows = parse_rowbinary(
        payload, ["Map(Int64, String)", "Tuple(a Int64, b String)"]
    )
    assert rows == [[{1: "x", 2: "y"}, (7, "z")]]


def test_truncated_payload_fails_with_position():
    import pytest as _pytest

    from bighouse_spark.formats import parse_rowbinary

    with _pytest.raises(ValueError, match="row 1, column 0"):
        parse_rowbinary(
            struct.pack("<q", 1) + b"\x01",  # second row truncated
            ["Int64"],
        )
    with _pytest.raises(ValueError, match="overruns"):
        parse_rowbinary(b"\x05ab", ["String"])  # short string


def test_unknown_type_refused():
    import pytest as _pytest

    from bighouse_spark.formats import rowbinary_decoder

    with _pytest.raises(ValueError, match="unsupported type"):
        rowbinary_decoder("AggregateFunction(uniq, UInt64)")


def test_insert_client_spellings(server_and_base):
    """The INSERT heads real clients emit: column list (reordered,
    partial), quoted + db-qualified names, RowBinaryWithNames, and a
    String->Int64 cast coercion on insert."""
    from bighouse_spark.formats import _leb128, _leb128_str

    srv, base = server_and_base
    eng = srv.RequestHandlerClass.engine
    eng.execute(
        "CREATE TABLE rb_cl (a Int64, s String, x Float64) "
        "ENGINE = Memory"
    )
    try:
        # Column list, reordered + partial: x is unlisted -> NULL.
        payload = _leb128_str("hey") + struct.pack("<q", 5)
        status, _ = _post_binary(
            base,
            'INSERT INTO "rb_cl" (s, a) FORMAT RowBinary',
            payload,
        )
        assert status == 200
        r = eng.execute("SELECT a, s, x FROM rb_cl")
        assert r.rows == [[5, "hey", None]]

        # RowBinaryWithNames: name header, types from the schema;
        # db-qualified table spelling.
        head = _leb128(2) + _leb128_str("a") + _leb128_str("s")
        body = struct.pack("<q", 6) + _leb128_str("ho")
        status, _ = _post_binary(
            base,
            "INSERT INTO default.rb_cl FORMAT RowBinaryWithNames",
            head + body,
        )
        assert status == 200
        r2 = eng.execute("SELECT a, s FROM rb_cl WHERE a = 6")
        assert r2.rows == [[6, "ho"]]

        # WithNamesAndTypes declaring String for the Int64 column:
        # cast-coerced on insert (CH behavior), not a hard error.
        head = _leb128(1) + _leb128_str("a")
        head += _leb128_str("String")
        body = _leb128_str("77")
        status, _ = _post_binary(
            base,
            "INSERT INTO rb_cl FORMAT RowBinaryWithNamesAndTypes",
            head + body,
        )
        assert status == 200
        r3 = eng.execute("SELECT a FROM rb_cl WHERE a = 77")
        assert r3.rows == [[77]]
    finally:
        eng.execute("DROP TABLE rb_cl")


def test_enum_maps_ids_to_names_both_directions():
    from bighouse_spark.formats import parse_rowbinary

    t = "Enum8('a' = 1, 'b' = 2)"
    enc = rowbinary_encoder(t)
    # name -> wire id -> name; raw int accepted on encode too
    assert enc("b") == b"\x02" and enc(1) == b"\x01"
    assert parse_rowbinary(b"\x01\x02", [t]) == [["a"], ["b"]]


def test_enum_names_holding_commas_and_parens():
    # Enum names are string literals: a comma or paren inside one is
    # not an argument boundary.
    from bighouse_spark.formats import parse_rowbinary

    t = "Enum8('a,b' = 1, 'c' = 2)"
    assert rowbinary_encoder(t)("a,b") == b"\x01"
    assert parse_rowbinary(b"\x02\x01", [t]) == [["c"], ["a,b"]]
    assert rowbinary_encoder("Enum8('a(' = 1, 'b' = 2)")("a(") == b"\x01"


def test_wide_ints_and_zoned_datetime_decode():
    from bighouse_spark.formats import parse_rowbinary

    v = (123456789012345678901234567890).to_bytes(16, "little")
    rows = parse_rowbinary(v, ["Int128"])
    assert rows == [[123456789012345678901234567890]]
    rows2 = parse_rowbinary(
        struct.pack("<I", 1704067200), ["DateTime('UTC')"]
    )
    assert rows2[0][0] == datetime(2024, 1, 1)


def test_native_columnar_map_and_tuple_roundtrip():
    from bighouse_spark.formats import parse_native, render_result as rr

    cols = ["m", "t"]
    types = ["Map(Int64, String)", "Tuple(a Int64, b String)"]
    rows = [
        [{1: "x", 2: "y"}, (7, "p")],
        [{}, (8, "q")],
    ]
    buf = rr(cols, rows, "Native", types=types, elapsed=0.0)[0]
    c2, t2, r2 = parse_native(buf)
    assert c2 == cols and t2 == types
    assert r2 == rows


def test_native_truncation_and_terminal_block():
    import pytest as _pytest

    from bighouse_spark.formats import (
        _leb128,
        _leb128_str,
        parse_native,
        render_result as rr,
    )

    buf = rr(["d"], [[Decimal("1.50")]], "Native",
             types=["Decimal(10, 2)"], elapsed=0.0)[0]
    with _pytest.raises(ValueError, match="truncated"):
        parse_native(buf[:-3])
    # A zero-column terminal block after valid data is skipped.
    cols, types, rows = parse_native(buf + _leb128(0) + _leb128(0))
    assert rows == [[Decimal("1.50")]]
