"""ClickHouse schema-string → Spark ``StructType``.

The reference passes schemas as inline DDL strings in table functions
(``'pickup_date Date, id UInt64, vendor_id String, ...'`` — reference
``temporal/workflow_query_executor_test.go:44``). This parser covers
every type that appears in the reference (SURVEY.md §1.2) plus the
obvious recursive composites (Nullable, Array, LowCardinality, Map,
Tuple, Decimal) so user schemas don't dead-end.

Unsigned widening: Spark has no unsigned ints, so each UInt widens one
size (UInt8→short, UInt16→int, UInt32→long). UInt64 maps to LongType —
values above 2^63-1 would overflow; ``DecimalType(20,0)`` is the exact
alternative, deliberately not the default because every fixture value
fits int64 and decimals disable whole-stage codegen fast paths.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from bighouse_spark.dialect.lexer import mask, split_top_level

_SIMPLE = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "date32": T.DateType(),
    "datetime": T.TimestampType(),
    "datetime64": T.TimestampType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "uuid": T.StringType(),
    "ipv4": T.StringType(),
    "ipv6": T.StringType(),
    # 128/256-bit CH integers: widened to Spark's widest exact
    # integer carrier, DECIMAL(38,0) — values beyond 38 digits
    # overflow LOUDLY at read/write (ANSI), never silently wrap.
    "int128": T.DecimalType(38, 0),
    "uint128": T.DecimalType(38, 0),
    "int256": T.DecimalType(38, 0),
    "uint256": T.DecimalType(38, 0),
    # JSON / Object('json'): raw text carrier — the JSON function
    # family (JSONExtract*, simpleJSON*) operates on strings.
    "json": T.StringType(),
    "object('json')": T.StringType(),
    # Geo types (CH: Point = tuple of Float64; Ring/Polygon/
    # MultiPolygon nest arrays of it).
    "point": T.StructType([
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
    ]),
}
_SIMPLE["ring"] = T.ArrayType(_SIMPLE["point"])
_SIMPLE["polygon"] = T.ArrayType(_SIMPLE["ring"])
_SIMPLE["multipolygon"] = T.ArrayType(_SIMPLE["polygon"])

_DECIMAL = re.compile(r"^decimal\((\d+)\s*,\s*(\d+)\)$")
_DATETIME64 = re.compile(r"^datetime64\(\d+(,.*)?\)$")
_FIXED_STRING = re.compile(r"^fixedstring\(\d+\)$")


def ch_type_to_spark(ch_type: str) -> T.DataType:
    """Map one ClickHouse type name to a Spark ``DataType``."""
    s = ch_type.strip()
    low = s.lower()
    if low.startswith("nullable(") and s.endswith(")"):
        # Spark nullability is a field property, not a type wrapper;
        # parse_schema_string marks all fields nullable anyway.
        return ch_type_to_spark(s[9:-1])
    if low.startswith("lowcardinality(") and s.endswith(")"):
        # An encoding, not a logical type (SURVEY.md §1.2).
        return ch_type_to_spark(s[15:-1])
    if low.startswith("array(") and s.endswith(")"):
        return T.ArrayType(ch_type_to_spark(s[6:-1]))
    if low.startswith("map(") and s.endswith(")"):
        k, v = _split_pair(s[4:-1])
        return T.MapType(ch_type_to_spark(k), ch_type_to_spark(v))
    if low.startswith("tuple(") and s.endswith(")"):
        parts = split_top_level(s[6:-1])
        fields = []
        for i, part in enumerate(parts):
            name, _, typ = part.strip().partition(" ")
            if typ:  # named tuple element
                fields.append(T.StructField(name, ch_type_to_spark(typ)))
            else:
                # col1/col2… matches Spark's unnamed-struct field
                # names (struct(), tuple()), so CH positional access
                # `.N` (transpiled to .colN) works on cast tuples too.
                fields.append(
                    T.StructField(f"col{i + 1}", ch_type_to_spark(part))
                )
        return T.StructType(fields)
    if low.startswith("enum8(") or low.startswith("enum16("):
        # CH stores enums as ints but renders strings; strings here.
        return T.StringType()
    if low.startswith("nested(") and s.endswith(")"):
        # CH Nested ≡ parallel arrays of a tuple: array<struct<...>>.
        fields = []
        for part in split_top_level(s[7:-1]):
            name, _, typ = part.strip().partition(" ")
            fields.append(T.StructField(name, ch_type_to_spark(typ)))
        return T.ArrayType(T.StructType(fields))
    if low.startswith("simpleaggregatefunction(") and s.endswith(")"):
        # The state IS the value (same contract as the -SimpleState
        # combinator): type is the wrapped value type.
        _, typ = _split_pair(s[24:-1])
        return ch_type_to_spark(typ)
    if low.startswith("aggregatefunction("):
        raise ValueError(
            f"unsupported ClickHouse type: {ch_type!r} — opaque "
            "aggregate states are engine-internal; store the "
            "finalized value (or use uniqState/uniqMerge through "
            "the dialect for mergeable sketch rollups)"
        )
    m = _DECIMAL.match(low)
    if m:
        p, sc = int(m.group(1)), int(m.group(2))
        if p > 38:
            raise ValueError(
                f"Decimal({p},{sc}): Spark decimals cap at 38 digits "
                "of precision — reduce the precision or store as "
                "String for exact wide values"
            )
        return T.DecimalType(p, sc)
    m = re.match(r"^decimal(32|64|128)\((\d+)\)$", low)
    if m:
        # CH width shorthands carry fixed precision: Decimal32(S) =
        # Decimal(9, S), Decimal64(S) = Decimal(18, S),
        # Decimal128(S) = Decimal(38, S).
        p = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        sc = int(m.group(2))
        if sc > p:
            raise ValueError(
                f"Decimal{m.group(1)}({sc}): scale exceeds the "
                f"type's {p}-digit precision"
            )
        return T.DecimalType(p, sc)
    m = re.match(r"^decimal256\((\d+)\)$", low)
    if m:
        sc = int(m.group(1))
        if sc > 37:
            raise ValueError(
                f"Decimal256({sc}): scale exceeds Spark's 38-digit "
                "decimal; store as String for exact wide values"
            )
        # 76-digit CH precision capped at Spark's 38 — documented
        # narrowing, loud overflow at write time if exceeded.
        return T.DecimalType(38, sc)
    if _DATETIME64.match(low):
        return T.TimestampType()
    # DateTime('TZ'): the zone parameter is display/storage metadata
    # in CH; Spark timestamps carry the session zone. Same posture
    # as DateTime64(p, 'TZ') above.
    if re.match(r"^datetime\('[^']*'\)$", low):
        return T.TimestampType()
    if _FIXED_STRING.match(low):
        return T.StringType()
    if low in _SIMPLE:
        return _SIMPLE[low]
    raise ValueError(f"unsupported ClickHouse type: {ch_type!r}")


# Per-column clause keywords CH allows after the type in a column
# declaration. DEFAULT is honored (recorded by the engine and used
# for partial-INSERT fills / CLEAR COLUMN); CODEC/COMMENT/TTL are
# accepted-and-dropped (storage/metadata knobs parquet subsumes);
# MATERIALIZED/ALIAS/EPHEMERAL are refused with guidance (computed /
# insert-only columns — different read semantics, not silently a
# stored column).
_COL_CLAUSE_RE = re.compile(
    r"[()]|\b(DEFAULT|MATERIALIZED|ALIAS|EPHEMERAL|CODEC|TTL|COMMENT)\b",
    re.IGNORECASE,
)


def parse_column_item(item: str) -> tuple[str, str, dict[str, str]]:
    """One CH column declaration → ``(name, ch_type, clauses)``.

    ``clauses`` maps the upper-cased clause keyword to its raw
    expression text. Clause keywords are located at paren-depth 0 on
    a string-literal-masked copy, so ``DEFAULT 'a DEFAULT b'`` or an
    ``Enum8('TTL' = 1)`` type never split wrong; the expressions are
    sliced from the raw text.
    """
    item = item.strip()
    m = re.match(r"^(`[^`]+`|\"[^\"]+\"|\S+)(?:\s+(.+))?$", item, re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse schema item: {item!r}")
    name = m.group(1).strip('`"')
    if m.group(2) is None:
        raise ValueError(
            f"cannot parse schema item: {item!r} (a column needs an "
            "explicit type — CH's type-inferred `col DEFAULT expr` "
            "form is not supported)"
        )
    rest = item[m.start(2):]
    depth = 0
    marks: list[tuple[int, int, str]] = []
    for mt in _COL_CLAUSE_RE.finditer(mask(rest, strings_only=True)):
        tok = mt.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            marks.append((mt.start(), mt.end(), mt.group(1).upper()))
    if not marks:
        return name, rest.strip(), {}
    ch_type = rest[: marks[0][0]].strip()
    if not ch_type:
        raise ValueError(
            f"cannot parse schema item: {item!r} (a column needs an "
            "explicit type — CH's type-inferred `col DEFAULT expr` "
            "form is not supported)"
        )
    clauses: dict[str, str] = {}
    for idx, (s, e, kw) in enumerate(marks):
        end = marks[idx + 1][0] if idx + 1 < len(marks) else len(rest)
        clauses[kw] = rest[e:end].strip()
    return name, ch_type, clauses


def parse_schema_defaults(schema: str) -> dict[str, str]:
    """``col -> DEFAULT expression`` for columns declaring one."""
    out: dict[str, str] = {}
    for item in split_top_level(schema):
        if not item.strip():
            continue
        name, _ch_type, clauses = parse_column_item(item)
        if "DEFAULT" in clauses:
            out[name] = clauses["DEFAULT"]
    return out


def parse_schema_string(schema: str) -> T.StructType:
    """Parse ``'col Type, col Type, ...'`` into a ``StructType``.

    Column names may be backquoted. Per-column DEFAULT/CODEC/
    COMMENT/TTL clauses are tolerated (DEFAULT expressions are
    recorded separately by the engine via ``parse_schema_defaults``);
    MATERIALIZED/ALIAS/EPHEMERAL columns are refused. All fields are
    nullable (CSV rows can always be missing values; matches
    schema-on-read semantics).
    """
    fields = []
    for item in split_top_level(schema):
        item = item.strip()
        if not item:
            continue
        name, ch_type, clauses = parse_column_item(item)
        bad = {"MATERIALIZED", "ALIAS", "EPHEMERAL"} & clauses.keys()
        if bad:
            raise ValueError(
                f"column {name!r}: {sorted(bad)[0]} columns are not "
                "served (computed/insert-only semantics); declare a "
                "stored column and compute in the SELECT instead"
            )
        fields.append(T.StructField(name, ch_type_to_spark(ch_type)))
    if not fields:
        raise ValueError("empty schema string")
    return T.StructType(fields)


def _split_pair(s: str) -> tuple[str, str]:
    parts = split_top_level(s)
    if len(parts) != 2:
        raise ValueError(f"expected two type args in {s!r}")
    return parts[0], parts[1]


_SPARK_TO_CH = {
    T.ByteType(): "Int8",
    T.ShortType(): "Int16",
    T.IntegerType(): "Int32",
    T.LongType(): "Int64",
    T.FloatType(): "Float32",
    T.DoubleType(): "Float64",
    T.StringType(): "String",
    T.BinaryType(): "String",
    T.DateType(): "Date",
    T.TimestampType(): "DateTime64(6)",
    T.TimestampNTZType(): "DateTime64(6)",
    T.BooleanType(): "Bool",
}


def spark_type_to_ch(dt: T.DataType) -> str:
    """Render one Spark ``DataType`` as a ClickHouse type name — the
    inverse of ``ch_type_to_spark``, used by ``SHOW CREATE TABLE``.
    Lossy where the forward map widens (UInt* all read back signed);
    round-tripping a rendered DDL through ``parse_schema_string``
    always reproduces the Spark schema."""
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"Array({spark_type_to_ch(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return (
            f"Map({spark_type_to_ch(dt.keyType)}, "
            f"{spark_type_to_ch(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {spark_type_to_ch(f.dataType)}" for f in dt.fields
        )
        return f"Tuple({inner})"
    ch = _SPARK_TO_CH.get(dt)
    if ch is None:
        raise ValueError(f"no ClickHouse rendering for Spark type {dt}")
    return ch


def render_create_table(
    name: str,
    schema: T.StructType,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
    defaults: dict[str, str] | None = None,
) -> str:
    """ClickHouse-flavor CREATE TABLE DDL for a Spark schema (the
    ``SHOW CREATE TABLE`` statement body, reference introspection
    family B17). ``partition_by`` / ``order_by`` render the engine's
    honored MergeTree layout, ``defaults`` the recorded per-column
    DEFAULT expressions — the rendered DDL round-trips through the
    CREATE TABLE parser including all three."""
    defaults = defaults or {}
    cols = ",\n".join(
        f"    `{f.name}` {spark_type_to_ch(f.dataType)}"
        + (
            f" DEFAULT {defaults[f.name]}" if f.name in defaults else ""
        )
        for f in schema.fields
    )
    part = (
        f"PARTITION BY ({', '.join(partition_by)})\n" if partition_by else ""
    )
    order = (
        f"ORDER BY ({', '.join(order_by)})" if order_by
        else "ORDER BY tuple()"
    )
    return (
        f"CREATE TABLE {name}\n(\n{cols}\n)\n"
        f"ENGINE = MergeTree\n{part}{order}"
    )
