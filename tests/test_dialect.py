"""Unit + property tests for the ClickHouse-dialect frontend."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from bighouse_spark.dialect.globs import expand_braces
from bighouse_spark.dialect.schema import ch_type_to_spark, parse_schema_string
from bighouse_spark.dialect.transpile import (
    _find_call,
    _strip_settings,
    _wrap_calls,
    transpile,
)
from bighouse_spark.session_settings import split_settings


class TestGlobs:
    def test_no_braces(self):
        assert expand_braces("s3a://b/x.parquet") == ["s3a://b/x.parquet"]

    def test_simple_range(self):
        assert expand_braces("f-{1..3}.csv") == [
            "f-1.csv",
            "f-2.csv",
            "f-3.csv",
        ]

    def test_zero_padded(self):
        # The reference uses data-{2009..2016}{01..12}.csv.gz
        # (workflow_query_executor_test.go:63-65).
        out = expand_braces("d-{2009..2010}{01..12}.csv.gz")
        assert len(out) == 24
        assert out[0] == "d-200901.csv.gz"
        assert out[-1] == "d-201012.csv.gz"

    def test_alternation_left_intact(self):
        # {a,b} is Hadoop-native; only {a..b} expands here.
        assert expand_braces("h_{0,1}.parquet") == ["h_{0,1}.parquet"]

    @given(
        lo=st.integers(0, 50),
        n=st.integers(0, 30),
        pad=st.booleans(),
    )
    @settings(max_examples=100, deadline=None)
    def test_range_property(self, lo, n, pad):
        hi = lo + n
        width = len(str(hi)) + (1 if pad else 0)
        a, b = str(lo).zfill(width), str(hi).zfill(width)
        out = expand_braces(f"x-{{{a}..{b}}}.csv")
        assert len(out) == n + 1
        assert len(set(out)) == n + 1  # all distinct
        assert out[0] == f"x-{a}.csv"
        assert out[-1] == f"x-{b}.csv"


class TestSchemaParser:
    def test_reference_taxi_schema(self):
        # Subset of the NYC-taxi schema embedded in the reference
        # (workflow_query_executor_test.go:44).
        st_ = parse_schema_string(
            "pickup_date Date, id UInt64, vendor_id String, "
            "tpep_pickup_datetime DateTime, passenger_count UInt8, "
            "trip_distance Float32, payment_type LowCardinality(String)"
        )
        assert st_["pickup_date"].dataType == T.DateType()
        assert st_["id"].dataType == T.LongType()
        assert st_["tpep_pickup_datetime"].dataType == T.TimestampType()
        assert st_["passenger_count"].dataType == T.ShortType()  # widened
        assert st_["trip_distance"].dataType == T.FloatType()
        assert st_["payment_type"].dataType == T.StringType()

    def test_github_events_types(self):
        # From the ATTACH DDL (workflow_query_executor_test.go:85).
        assert ch_type_to_spark("Enum8('CommitCommentEvent' = 1)") == T.StringType()
        assert ch_type_to_spark("Array(LowCardinality(String))") == T.ArrayType(
            T.StringType()
        )
        assert ch_type_to_spark("UInt32") == T.LongType()
        assert ch_type_to_spark("Int32") == T.IntegerType()

    def test_composites(self):
        assert ch_type_to_spark("Nullable(Int64)") == T.LongType()
        assert ch_type_to_spark("Map(String, UInt64)") == T.MapType(
            T.StringType(), T.LongType()
        )
        assert ch_type_to_spark("Decimal(20, 4)") == T.DecimalType(20, 4)
        tup = ch_type_to_spark("Tuple(a Int32, b String)")
        assert isinstance(tup, T.StructType)
        assert tup["a"].dataType == T.IntegerType()

    def test_unknown_type_raises(self):
        with pytest.raises(ValueError, match="unsupported"):
            ch_type_to_spark("Geo3DPolygonThing")

    def test_empty_schema_raises(self):
        with pytest.raises(ValueError):
            parse_schema_string("   ")

    @given(
        st.lists(
            st.tuples(
                st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True),
                st.sampled_from(
                    ["Int32", "UInt64", "String", "Float64", "Date",
                     "Array(String)", "Nullable(Int8)"]
                ),
            ),
            min_size=1,
            max_size=8,
            unique_by=lambda kv: kv[0],
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_roundtrip_field_names(self, fields):
        s = ", ".join(f"{name} {typ}" for name, typ in fields)
        parsed = parse_schema_string(s)
        assert [f.name for f in parsed.fields] == [name for name, _ in fields]


class TestTranspileText:
    def test_count_rewrite(self):
        r = transpile("SELECT count() FROM x")
        assert r.sql == "SELECT count(*) FROM x"

    def test_function_renames(self):
        r = transpile("SELECT uniq(a), toUInt32(b), toDate(c) FROM x")
        assert "approx_count_distinct(a)" in r.sql
        assert "CAST(b AS BIGINT)" in r.sql
        assert "to_date(c)" in r.sql

    def test_uniq_exact_sql_form(self):
        # count_distinct is Python-API-only; SQL needs count(DISTINCT)
        r = transpile("SELECT uniqExact(a) FROM x")
        assert "count(DISTINCT a)" in r.sql

    def test_uniq_family_renames(self):
        r = transpile(
            "SELECT uniqCombined(a), uniqCombined64(b), uniqHLL12(c), "
            "uniqTheta(d) FROM x"
        )
        assert r.sql.count("approx_count_distinct(") == 4

    def test_higher_order_array_rewrites(self):
        r = transpile("SELECT arrayMap(x -> x + 1, arr) FROM t")
        assert "transform(arr, x -> x + 1)" in r.sql
        r = transpile("SELECT arrayFilter((x, y) -> x > y, a) FROM t")
        assert "filter(a, (x, y) -> x > y)" in r.sql
        r = transpile("SELECT arrayExists(x -> x = 1, a), arrayAll(x -> x, a) FROM t")
        assert "exists(a, x -> x = 1)" in r.sql
        assert "forall(a, x -> x)" in r.sql
        r = transpile("SELECT arrayCount(a), arrayCount(x -> x > 2, a) FROM t")
        assert "size(filter(a, x -> x != 0))" in r.sql
        assert "size(filter(a, x -> x > 2))" in r.sql
        r = transpile("SELECT arraySum(a) FROM t")
        assert "aggregate(a, CAST(0 AS DOUBLE), (acc, x) -> acc + x)" in r.sql

    def test_multi_if(self):
        r = transpile("SELECT multiIf(a > 1, 'x', a > 0, 'y', 'z') FROM t")
        assert (
            "CASE WHEN (a > 1) THEN ('x') WHEN (a > 0) THEN ('y') "
            "ELSE ('z') END" in r.sql
        )

    def test_split_escapes_regex_separator(self):
        r = transpile("SELECT splitByChar('.', s) FROM t")
        assert "split(s, '\\\\.')" in r.sql
        r = transpile("SELECT splitByString('ab', s) FROM t")
        assert "split(s, 'ab')" in r.sql

    def test_datediff_and_format(self):
        r = transpile("SELECT dateDiff('day', a, b) FROM t")
        assert "timestampdiff(day, a, b)" in r.sql
        r = transpile("SELECT formatDateTime(ts, '%Y-%m-%d %H:%i:%S') FROM t")
        assert "date_format(ts, 'yyyy-MM-dd HH:mm:ss')" in r.sql

    def test_has_family_and_push(self):
        r = transpile(
            "SELECT hasAny(a, b), hasAll(a, b), arrayPushBack(a, 1) FROM t"
        )
        assert "arrays_overlap(a, b)" in r.sql
        assert "(size(array_except(b, a)) = 0)" in r.sql
        assert "array_append(a, 1)" in r.sql

    def test_nullability_and_misc_renames(self):
        r = transpile(
            "SELECT anyLast(x), arrayZip(a, b), assumeNotNull(c), "
            "toNullable(d), x > ANY (SELECT k FROM t2) FROM t"
        )
        assert "any_value(x)" in r.sql
        # two-array arrayZip emits col1/col2-named structs (round-12:
        # CH tuple access z[1].1 resolves against them)
        # (round-13/14: the second operand rides through the
        # SIZES_OF_ARRAYS_DONT_MATCH length guard — now the
        # struct-bound single-evaluation form)
        assert "zip_with(a, element_at(transform(" in r.sql
        assert "SIZES_OF_ARRAYS_DONT_MATCH" in r.sql
        assert "AS col1" in r.sql
        assert "(c)" in r.sql and "assumeNotNull" not in r.sql
        # subquery ANY is rewritten to the scalar-aggregate form
        assert "min(__bh_q0)" in r.sql and "ANY (SELECT" not in r.sql

    def test_asof_join_needs_session(self):
        # Canonical ASOF JOIN transpiles through the asof operator,
        # which needs a session to resolve the tables; sessionless
        # transpile stays an actionable error (TestAsofJoinSQL covers
        # the executing path).
        import pytest

        with pytest.raises(ValueError, match="SparkSession"):
            transpile("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t")

    def test_global_modifier_stripped(self):
        r = transpile("SELECT * FROM a GLOBAL JOIN b ON a.k = b.k")
        assert "GLOBAL" not in r.sql and "JOIN b" in r.sql
        r = transpile("SELECT * FROM a WHERE x GLOBAL IN (SELECT k FROM b)")
        assert "GLOBAL" not in r.sql and "IN (SELECT" in r.sql
        r = transpile("SELECT global_count FROM t")  # identifier untouched
        assert "global_count" in r.sql

    def test_uniq_state_merge(self):
        r = transpile("SELECT uniqMerge(s) FROM (SELECT uniqState(x) AS s FROM t GROUP BY k)")
        assert "hll_sketch_estimate(hll_union_agg(s))" in r.sql
        assert "hll_sketch_agg(x)" in r.sql

    def test_array_literals(self):
        r = transpile("SELECT [1, 2, 3] AS a, [[1],[2]] AS n FROM t")
        assert "array(1, 2, 3)" in r.sql
        assert "array(array(1),array(2))" in r.sql

    def test_array_subscripts_one_based(self):
        # CH subscripts are 1-based / negative-from-end; Spark's x[i]
        # is 0-based, so every subscript must become try_element_at
        # (round-4 fix — [10,20,30][2] silently returned 30 before).
        r = transpile(
            "SELECT arr[1], m['k'], f(x)[1], [10, 20][2], 'lit[eral]' FROM t"
        )
        assert "try_element_at(arr, 1)" in r.sql
        assert "try_element_at(m, 'k')" in r.sql
        assert "try_element_at(f(x), 1)" in r.sql
        assert "try_element_at(array(10, 20), 2)" in r.sql
        assert "'lit[eral]'" in r.sql

    def test_cityhash_checksum_wrapped(self):
        r = transpile("SELECT sum(cityHash64(a, b)) FROM x")
        assert "CAST(xxhash64(a, b) AS DECIMAL(38,0))" in r.sql

    def test_settings_stripped_and_mapped(self):
        sql, pairs = _strip_settings(
            "SELECT 1 SETTINGS max_parallel_replicas=10, "
            "use_hedged_requests=0"
        )
        assert sql == "SELECT 1"
        mapped, dropped = split_settings(pairs)
        assert mapped == {"spark.sql.shuffle.partitions": "10"}
        assert dropped == {"use_hedged_requests": "0"}

    def test_format_suffix_stripped(self):
        assert transpile("SELECT 1 FORMAT JSONEachRow").sql == "SELECT 1"

    def test_find_call_nested_parens_and_quotes(self):
        sql = "SELECT s3('http://x/a(1).csv', 'CSV', 'a Int32, b String')"
        start, end, args = _find_call(sql, "s3")
        assert args == ["'http://x/a(1).csv'", "'CSV'", "'a Int32, b String'"]

    def test_find_call_unbalanced_raises(self):
        with pytest.raises(ValueError, match="unbalanced"):
            _find_call("SELECT s3('x'", "s3")

    def test_wrap_calls_multiple(self):
        out = _wrap_calls(
            "cityHash64(a) + cityHash64(b)", "cityHash64", "H(", ")"
        )
        assert out == "H(a) + H(b)"

    def test_table_function_without_session_raises(self):
        with pytest.raises(ValueError, match="requires a SparkSession"):
            transpile("SELECT count(*) FROM s3('http://x/y.csv')")


class TestTranspileWithSession:
    def test_file_table_function(self, spark, tmp_path):
        p = tmp_path / "t.csv"
        p.write_text("a,b\n1,x\n2,y\n")
        r = transpile(
            f"SELECT count() AS c FROM file('file://{p}', 'CSVWithNames', "
            "'a Int32, b String')",
            spark,
        )
        # View names are process-unique (monotonic counter), not
        # per-call indices — concurrent transpiles must never collide.
        assert len(r.views) == 1 and r.views[0].startswith("__bh_src_")
        assert r.views[0] in r.sql
        assert spark.sql(r.sql).collect()[0][0] == 2

    def test_s3cluster_macro_erased(self, spark, tmp_path):
        p = tmp_path / "u.csv"
        p.write_text("a\n5\n6\n7\n")
        r = transpile(
            "SELECT sum(a) AS s FROM s3Cluster('{cluster}', "
            f"'file://{p}', 'CSVWithNames', 'a Int64')",
            spark,
        )
        assert spark.sql(r.sql).collect()[0][0] == 18


class TestWidenedFunctionSurface:
    """New CH spellings added beyond the reference's own queries —
    each checked by executing the transpiled SQL."""

    def _one(self, spark, ch_sql):
        r = transpile(ch_sql, spark)
        return spark.sql(r.sql).collect()[0][0]

    def test_date_trunc_family(self, spark):
        v = self._one(
            spark, "SELECT toStartOfHour(toDateTime('2024-03-05 07:42:11'))"
        )
        assert str(v) == "2024-03-05 07:00:00"
        v = self._one(
            spark, "SELECT toStartOfMonth(toDateTime('2024-03-05 07:42:11'))"
        )
        assert str(v).startswith("2024-03-01")

    def test_day_of_week_monday_is_1(self, spark):
        # 2024-03-04 is a Monday → CH toDayOfWeek = 1.
        assert self._one(spark, "SELECT toDayOfWeek(toDate('2024-03-04'))") == 1
        assert self._one(spark, "SELECT toDayOfWeek(toDate('2024-03-10'))") == 7

    def test_yyyymm(self, spark):
        assert self._one(spark, "SELECT toYYYYMM(toDate('2024-03-05'))") == 202403
        assert (
            self._one(spark, "SELECT toYYYYMMDD(toDate('2024-03-05'))") == 20240305
        )

    def test_zero_arg_dates(self, spark):
        assert self._one(spark, "SELECT today() - yesterday()") is not None

    def test_string_functions(self, spark):
        assert self._one(spark, "SELECT replaceAll('aXbXc', 'X', '-')") == "a-b-c"
        assert (
            self._one(spark, "SELECT replaceRegexpAll('a1b22c', '[0-9]+', '.')")
            == "a.b.c"
        )
        assert self._one(spark, "SELECT match('hello42', '[0-9]+')") is True
        assert self._one(spark, "SELECT trimBoth('  x  ')") == "x"
        assert self._one(spark, "SELECT leftPad('7', 3, '0')") == "007"
        assert self._one(spark, "SELECT base64Decode(base64Encode('hi'))" ) == "hi"

    def test_array_functions(self, spark):
        assert self._one(
            spark, "SELECT arrayStringConcat(array('a', 'b'), '-')"
        ) == "a-b"
        assert self._one(
            spark, "SELECT arraySort(arrayDistinct(array(3, 1, 3, 2)))"
        ) == [1, 2, 3]
        assert self._one(spark, "SELECT indexOf(array(10, 20, 30), 20)") == 2

    def test_position_and_extract_not_corrupted(self, spark):
        # Standard SQL forms must survive the rewrite untouched.
        assert self._one(spark, "SELECT position('b' IN 'abc')") == 2
        assert (
            self._one(spark, "SELECT extract(year FROM toDate('2024-03-05'))")
            == 2024
        )

    def test_arithmetic_and_unix_time(self, spark):
        assert self._one(spark, "SELECT modulo(7, 3)") == 1
        assert self._one(spark, "SELECT intDiv(7, 2)") == 3
        assert (
            self._one(spark, "SELECT fromUnixTimestamp(0)")
            == "1970-01-01 00:00:00"
        )

    def test_add_days(self, spark):
        v = self._one(spark, "SELECT addDays(toDate('2024-02-28'), 2)")
        assert str(v) == "2024-03-01"


class TestParametricAndLimitBy:
    def test_quantile_forms(self, spark):
        r = transpile("SELECT quantile(0.5)(x) AS m FROM range(10)")
        assert "percentile_approx(x, 0.5)" in r.sql
        r = transpile("SELECT quantileExact(0.9)(x + 1) AS p FROM range(10)")
        assert "percentile(x + 1, 0.9)" in r.sql
        r = transpile("SELECT quantiles(0.25, 0.75)(x) AS q FROM range(10)")
        assert "percentile_approx(x, array(0.25, 0.75))" in r.sql

    def test_quantile_executes(self, spark):
        r = transpile(
            "SELECT quantileExact(0.5)(id) AS med FROM range(0, 101)", spark
        )
        assert spark.sql(r.sql).collect()[0][0] == 50.0

    def test_limit_by(self, spark, duck):
        # First 2 orders by key per priority — matches the DuckDB
        # window formulation exactly.
        from tests.conftest import SF_CORRECT
        from bighouse_spark.sources.catalog import register_views

        register_views(spark, SF_CORRECT)
        r = transpile(
            "SELECT o_orderpriority, o_orderkey FROM orders "
            "ORDER BY o_orderkey LIMIT 2 BY o_orderpriority",
            spark,
        )
        got = sorted(map(tuple, spark.sql(r.sql).collect()))
        want = sorted(
            map(
                tuple,
                duck.execute(
                    """
            SELECT o_orderpriority, o_orderkey FROM (
              SELECT o_orderpriority, o_orderkey,
                     row_number() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_orderkey) AS rn
              FROM orders) WHERE rn <= 2
            """
                ).fetchall(),
            )
        )
        assert got == want

    def test_limit_by_requires_order(self):
        with pytest.raises(ValueError, match="ORDER BY"):
            transpile("SELECT a FROM t LIMIT 2 BY a")


class TestContextualRewrites:
    """any/position/extract/range depend on arity or syntactic
    position; the blind-rename hazard cases must pass through."""

    def test_any_maps_to_any_value(self):
        r = transpile("SELECT any(x), count(*) FROM t GROUP BY g")
        assert "any_value(x)" in r.sql

    def test_quantified_any_rewritten(self):
        # Spark has no quantified comparisons: > ANY (subquery)
        # becomes a scalar min() aggregate over the subquery.
        sql = "SELECT * FROM t WHERE a > ANY(SELECT b FROM u)"
        out = transpile(sql).sql
        assert "min(__bh_q0)" in out and "ANY(" not in out

    def test_position_two_arg_haystack_first(self):
        r = transpile("SELECT position('hello', 'll')")
        assert "instr('hello', 'll')" in r.sql

    def test_position_three_arg(self):
        r = transpile("SELECT position(h, n, 3) FROM t")
        assert "locate(n, h, 3)" in r.sql

    def test_position_in_syntax_passthrough(self):
        sql = "SELECT position('ll' IN 'hello')"
        assert "position('ll' IN 'hello')" in transpile(sql).sql

    def test_extract_two_arg_regex(self):
        r = transpile("SELECT extract(s, '[0-9]+') FROM t")
        assert "regexp_extract(s, '[0-9]+', 0)" in r.sql
        # a capture group selects group 1 (CH behavior)
        r = transpile("SELECT extract(s, 'b([0-9]+)') FROM t")
        assert "regexp_extract(s, 'b([0-9]+)', 1)" in r.sql

    def test_extract_unit_passthrough(self):
        sql = "SELECT EXTRACT(YEAR FROM ts) FROM t"
        assert "EXTRACT(YEAR FROM ts)" in transpile(sql).sql

    def test_range_scalar_to_sequence(self):
        assert "sequence(0, (5) - 1)" in transpile("SELECT range(5)").sql
        assert "sequence(2, (8) - 1, 3)" in transpile(
            "SELECT range(2, 8, 3)"
        ).sql

    def test_range_table_function_passthrough(self):
        sql = "SELECT count(*) FROM range(10)"
        assert "FROM range(10)" in transpile(sql).sql

    def test_topk_parametric(self):
        r = transpile("SELECT topK(3)(ev) FROM t")
        assert "slice(" in r.sql and "collect_list(ev)" in r.sql
        assert ", 1, 3)" in r.sql

    def test_array_join_clause(self):
        r = transpile("SELECT x, e FROM t ARRAY JOIN arr AS e")
        assert "LATERAL VIEW explode(arr) __aj AS e" in r.sql
        r = transpile("SELECT x, e FROM t LEFT ARRAY JOIN arr AS e")
        assert "explode_outer(arr)" in r.sql

    def test_array_join_clause_keeps_tail(self):
        r = transpile(
            "SELECT e, count() FROM t ARRAY JOIN arr AS e "
            "GROUP BY e ORDER BY e LIMIT 3"
        )
        assert "GROUP BY e ORDER BY e LIMIT 3" in r.sql

    def test_array_join_multi_raises(self):
        with pytest.raises(ValueError, match="arrayZip"):
            transpile("SELECT * FROM t ARRAY JOIN a, b")

    def test_transform_value_remap_arity_guard(self):
        r = transpile("SELECT transform(x, [1], ['a'], 'z') FROM t")
        assert (
            "try_element_at(map_from_arrays(array(1), array('a'))" in r.sql
        )
        # 2-arg HOF transform (arrayMap output) is untouched
        r = transpile("SELECT arrayMap(v -> v + 1, arr) FROM t")
        assert "transform(arr, v -> v + 1)" in r.sql

    def test_multisearch_and_intervals(self):
        r = transpile("SELECT multiSearchAny(s, ['a','b']) FROM t")
        assert "exists(array('a','b'), __n -> instr(s, __n) > 0)" in r.sql
        r = transpile("SELECT ts + toIntervalDay(2) FROM t")
        assert "make_interval(0, 0, 0, 2)" in r.sql

    def test_array_sequence_functions(self):
        r = transpile("SELECT arrayCompact(a), arrayDifference(a), "
                      "arrayCumSum(a) FROM t")
        assert "filter(a, (__x, __i) ->" in r.sql
        assert "element_at(a, __i)" in r.sql
        assert "CAST(0 AS DOUBLE), (__acc, __v) -> __acc + __v" in r.sql

    def test_interval_floors(self):
        r = transpile(
            "SELECT toStartOfInterval(ts, INTERVAL 15 MINUTE) FROM t"
        )
        assert "/ 900) * 900" in r.sql
        r = transpile("SELECT toStartOfFiveMinutes(ts) FROM t")
        assert "/ 300) * 300" in r.sql
        with pytest.raises(ValueError, match="toStartOfMonth"):
            transpile("SELECT toStartOfInterval(ts, INTERVAL 1 MONTH)")

    def test_with_fill_needs_session(self):
        # Canonical WITH FILL now transpiles (TestWithFill); without a
        # session (or in unsupported shapes) the error stays actionable.
        with pytest.raises(ValueError, match="spine"):
            transpile("SELECT d FROM t ORDER BY d WITH FILL")

    def test_count_distinct_and_if_empty(self):
        r = transpile("SELECT countDistinct(x), ifEmpty(s, 'alt') FROM t")
        assert "count(DISTINCT x)" in r.sql
        assert "CASE WHEN coalesce(length(s), 0) = 0" in r.sql

    def test_functional_arithmetic_and_bits(self):
        r = transpile("SELECT plus(a, 1), divide(b, 2), bitAnd(c, 7) FROM t")
        assert "((a) + (1))" in r.sql
        assert "(CAST(b AS DOUBLE) / (2))" in r.sql
        assert "((c) & (7))" in r.sql


class TestChClauses:
    def test_prewhere_becomes_where(self):
        r = transpile("SELECT a FROM t PREWHERE a > 1")
        assert "PREWHERE" not in r.sql and "WHERE a > 1" in r.sql

    def test_final_erased(self):
        r = transpile("SELECT count(*) AS n FROM t FINAL WHERE a = 1")
        assert "FINAL" not in r.sql

    def test_with_totals(self, spark):
        r = transpile(
            "SELECT id % 2 AS par, count() AS n FROM range(10) "
            "GROUP BY id % 2 WITH TOTALS",
            spark,
        )
        rows = {tuple(x) for x in spark.sql(r.sql).collect()}
        assert (None, 10) in rows and (0, 5) in rows and (1, 5) in rows


class TestAggregateCombinators:
    def test_if_combinators(self, spark):
        r = transpile(
            "SELECT countIf(id > 5) AS c, sumIf(id, id % 2 = 0) AS s, "
            "minIf(id, id > 3) AS mn, maxIf(id, id < 7) AS mx "
            "FROM range(10)",
            spark,
        )
        row = spark.sql(r.sql).collect()[0]
        assert list(row) == [4, 20, 4, 6]

    def test_empty_not_empty_predicates(self, spark):
        # CH empty('') = 1 / notEmpty('x') = 1 as WHERE predicates
        # (VERDICT r1: the old isnull/length renames were silently
        # wrong — '' is not null, and length() is INT not boolean).
        spark.createDataFrame(
            [("",), ("x",), (None,)], ["s"]
        ).createOrReplaceTempView("t_emptiness")
        r = transpile(
            "SELECT count(*) AS n FROM t_emptiness WHERE empty(s)", spark
        )
        assert spark.sql(r.sql).collect()[0][0] == 2  # '' and NULL
        r = transpile(
            "SELECT count(*) AS n FROM t_emptiness WHERE notEmpty(s)",
            spark,
        )
        assert spark.sql(r.sql).collect()[0][0] == 1  # 'x'

    def test_empty_in_select_is_boolean(self, spark):
        r = transpile("SELECT empty('') AS e, notEmpty('ab') AS ne")
        row = spark.sql(r.sql).collect()[0]
        assert row.e is True and row.ne is True

    def test_arg_max_min_group_arrays(self, spark):
        r = transpile(
            "SELECT argMax(id, id % 3) AS am, argMin(id, id) AS an, "
            "arrayUniq(groupArray(id % 2)) AS u FROM range(9)",
            spark,
        )
        row = spark.sql(r.sql).collect()[0]
        # argMax returns the id at the max of id%3 (ties: any of 2,5,8)
        assert row.am in (2, 5, 8) and row.an == 0 and row.u == 2


class TestSampleClause:
    def test_fraction(self, spark):
        spark.range(1000).createOrReplaceTempView("t_sample_src")
        r = transpile(
            "SELECT count(*) AS n FROM t_sample_src SAMPLE 0.5", spark
        )
        assert "TABLESAMPLE (50 PERCENT)" in r.sql
        n = spark.sql(r.sql).collect()[0][0]
        assert 300 <= n <= 700  # Bernoulli sampling tolerance

    def test_rows(self, spark):
        spark.range(1000).createOrReplaceTempView("t_sample_src")
        r = transpile(
            "SELECT count(*) AS n FROM t_sample_src SAMPLE 10", spark
        )
        assert "TABLESAMPLE (10 ROWS)" in r.sql
        assert spark.sql(r.sql).collect()[0][0] == 10


class TestCreateFunction:
    def test_lambda_udf(self, spark):
        r = transpile("CREATE FUNCTION tdl_lin AS (x, k, b) -> k*x + b")
        assert "TEMPORARY FUNCTION tdl_lin(x DOUBLE, k DOUBLE, b DOUBLE)" in r.sql
        spark.sql(r.sql)
        assert spark.sql("SELECT tdl_lin(3, 2, 1) AS v").collect()[0][0] == 7.0

    def test_typed_params(self, spark):
        r = transpile(
            "CREATE FUNCTION tdl_cat AS (a String, b String) -> concat(a, b)"
        )
        assert "(a STRING, b STRING)" in r.sql
        spark.sql(r.sql)
        assert spark.sql("SELECT tdl_cat('x','y') AS v").collect()[0][0] == "xy"

    def test_drop(self, spark):
        spark.sql(transpile("CREATE FUNCTION tdl_tmp AS (x) -> x").sql)
        r = transpile("DROP FUNCTION tdl_tmp")
        assert "DROP TEMPORARY FUNCTION IF EXISTS tdl_tmp" == r.sql
        spark.sql(r.sql)


class TestHttpUrlSource:
    def test_url_over_http(self, spark, tmp_path):
        # Serve a CSV over real HTTP (loopback) and read it through
        # the url() table function — the reference's run.sh:17 flow.
        import http.server
        import threading

        (tmp_path / "stock.csv").write_text("sym,price\nAAPL,3.0\nMSFT,2.0\n")
        handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
            *a, directory=str(tmp_path), **kw
        )
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_port
            r = transpile(
                f"SELECT sym, price FROM url('http://127.0.0.1:{port}/stock.csv', "
                "'CSVWithNames', 'sym String, price Float64') ORDER BY sym",
                spark,
            )
            rows = [tuple(x) for x in spark.sql(r.sql).collect()]
            assert rows == [("AAPL", 3.0), ("MSFT", 2.0)]
        finally:
            srv.shutdown()

    def test_url_range_glob_fetches_all(self, spark, tmp_path):
        # A {a..b} range expansion fetches every URL (concurrently —
        # round 1 spooled serially) and unions the files.
        import http.server
        import threading

        for m in (1, 2, 3):
            (tmp_path / f"x-{m}.csv").write_text(f"v\n{m}0\n{m}1\n")
        handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
            *a, directory=str(tmp_path), **kw
        )
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_port
            r = transpile(
                f"SELECT count() AS n, sum(v) AS s FROM "
                f"url('http://127.0.0.1:{port}/x-{{1..3}}.csv', "
                "'CSVWithNames', 'v Int64')",
                spark,
            )
            assert [tuple(x) for x in spark.sql(r.sql).collect()] == [
                (6, 10 + 11 + 20 + 21 + 30 + 31)
            ]
        finally:
            srv.shutdown()


class TestUrlFanout:
    """Executor-side url() fan-out: >threshold files fetch+parse on
    executors (mapInPandas) and NEVER through the driver spool."""

    @staticmethod
    def _serve(tmp_path):
        import http.server
        import threading

        handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
            *a, directory=str(tmp_path), **kw
        )
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    def test_many_file_scan_bypasses_driver_spool(
        self, spark, tmp_path, monkeypatch
    ):
        import importlib

        tp = importlib.import_module("bighouse_spark.dialect.transpile")

        for m in range(12):
            (tmp_path / f"f-{m}.csv").write_text(f"v,w\n{m},a{m}\n")
        srv = self._serve(tmp_path)

        def boom(*a, **kw):  # any spool write is a failure
            raise AssertionError("driver spool used for fanout scan")

        monkeypatch.setattr(tp, "_fetch_http", boom)
        monkeypatch.setattr(tp, "_fetch_http_many", boom)
        try:
            port = srv.server_port
            r = transpile(
                f"SELECT count() AS n, sum(v) AS s, uniqExact(_file) "
                f"AS files FROM "
                f"url('http://127.0.0.1:{port}/f-{{0..11}}.csv', "
                "'CSVWithNames', 'v Int64, w String')",
                spark,
            )
            assert [tuple(x) for x in spark.sql(r.sql).collect()] == [
                (12, sum(range(12)), 12)
            ]
        finally:
            srv.shutdown()

    def test_fanout_matches_spool_path(self, spark, tmp_path,
                                       monkeypatch):
        import bighouse_spark.sources.urlfanout as uf

        for m in range(10):
            (tmp_path / f"g-{m}.csv").write_text(
                f"v\n{m * 10}\n{m * 10 + 1}\n"
            )
        srv = self._serve(tmp_path)
        try:
            port = srv.server_port
            sql = (
                f"SELECT _file, sum(v) AS s FROM "
                f"url('http://127.0.0.1:{port}/g-{{0..9}}.csv', "
                "'CSVWithNames', 'v Int64') GROUP BY _file "
                "ORDER BY _file"
            )
            monkeypatch.setattr(uf, "FANOUT_THRESHOLD", 1000)
            spool_rows = [
                tuple(x)
                for x in spark.sql(transpile(sql, spark).sql).collect()
            ]
            monkeypatch.setattr(uf, "FANOUT_THRESHOLD", 2)
            fan_rows = [
                tuple(x)
                for x in spark.sql(transpile(sql, spark).sql).collect()
            ]
            assert fan_rows == spool_rows
            assert len(fan_rows) == 10
        finally:
            srv.shutdown()

    def test_fanout_nullable_int_keeps_width(self, spark, tmp_path,
                                              monkeypatch):
        # A null in an Int64 column must NOT route through float64
        # (values above 2^53 would silently lose low bits).
        import bighouse_spark.sources.urlfanout as uf

        big = (1 << 60) + 1
        for m in range(3):
            (tmp_path / f"n-{m}.csv").write_text(
                f"h\n{big + m}\n\n"  # one real value, one null
            )
        srv = self._serve(tmp_path)
        try:
            port = srv.server_port
            monkeypatch.setattr(uf, "FANOUT_THRESHOLD", 1)
            r = transpile(
                f"SELECT count(h) AS n, max(h) AS mx, min(h) AS mn "
                f"FROM url('http://127.0.0.1:{port}/n-{{0..2}}.csv', "
                "'CSVWithNames', 'h Nullable(Int64)')",
                spark,
            )
            assert [tuple(x) for x in spark.sql(r.sql).collect()] == [
                (3, big + 2, big)
            ]
        finally:
            srv.shutdown()

    def test_fanout_parquet_schema_from_first_file(
        self, spark, tmp_path, monkeypatch
    ):
        import pyarrow as pa
        import pyarrow.parquet as pq

        import bighouse_spark.sources.urlfanout as uf

        for m in range(4):
            pq.write_table(
                pa.table({"k": [m, m + 100], "s": [f"r{m}", "x"]}),
                tmp_path / f"p-{m}.parquet",
            )
        srv = self._serve(tmp_path)
        try:
            port = srv.server_port
            monkeypatch.setattr(uf, "FANOUT_THRESHOLD", 2)
            r = transpile(
                f"SELECT count() AS n, sum(k) AS s FROM "
                f"url('http://127.0.0.1:{port}/p-{{0..3}}.parquet', "
                "'Parquet')",
                spark,
            )
            assert [tuple(x) for x in spark.sql(r.sql).collect()] == [
                (8, sum(range(4)) + 4 * 100 + sum(range(4)))
            ]
        finally:
            srv.shutdown()


class TestUrlFanoutStreaming:
    """The executor CSV path streams: HTTP → capped gunzip stream →
    Arrow incremental reader — peak memory O(block), never O(file)."""

    _serve = staticmethod(TestUrlFanout._serve)

    def test_stream_yields_multiple_batches_and_matches_buffered(
        self, tmp_path
    ):
        import gzip as _gz

        import pyarrow as pa

        import bighouse_spark.sources.urlfanout as uf

        rows = "\n".join(f"{i},name-{i}" for i in range(20000))
        data = ("a,b\n" + rows + "\n").encode()
        (tmp_path / "big.csv.gz").write_bytes(_gz.compress(data))
        srv = self._serve(tmp_path)
        try:
            url = f"http://127.0.0.1:{srv.server_port}/big.csv.gz"
            schema = pa.schema(
                [("a", pa.int64()), ("b", pa.string())]
            )
            # small block size to force many batches from one file
            tables = list(
                uf._iter_csv_batches(
                    url, True, None, schema, block_size=16 * 1024
                )
            )
            assert len(tables) > 3, "expected multiple O(block) batches"
            streamed = pa.concat_tables(tables)
            buffered = uf._parse_table(
                uf._fetch_bytes(url), "csv", True, None, schema
            )
            assert streamed.equals(buffered)
            assert streamed.num_rows == 20000
        finally:
            srv.shutdown()

    def test_stream_peak_memory_is_o_block_not_o_file(self, tmp_path):
        # the load-bearing claim: Arrow live allocation while
        # consuming a ~20 MB file stays bounded by a few 1 MiB blocks
        # (use_threads=False keeps the reader from racing ahead and
        # buffering the whole stream — measured 27 MB peak otherwise)
        import gzip as _gz

        import pyarrow as pa

        import bighouse_spark.sources.urlfanout as uf

        rows = "\n".join(
            f"{i},padpadpad-{i % 997}-{'y' * 40}" for i in range(300000)
        )
        data = ("a,b\n" + rows + "\n").encode()
        assert len(data) > 15_000_000
        (tmp_path / "mem.csv.gz").write_bytes(_gz.compress(data, 1))
        srv = self._serve(tmp_path)
        try:
            url = f"http://127.0.0.1:{srv.server_port}/mem.csv.gz"
            schema = pa.schema([("a", pa.int64()), ("b", pa.string())])
            base = pa.total_allocated_bytes()
            peak = 0
            n_rows = 0
            for tbl in uf._iter_csv_batches(url, True, None, schema):
                n_rows += tbl.num_rows
                del tbl
                peak = max(peak, pa.total_allocated_bytes() - base)
            assert n_rows == 300000
            assert peak < 8_000_000, (
                f"streaming parse held {peak} bytes live — "
                "O(file), not O(block)"
            )
        finally:
            srv.shutdown()

    def test_cap_trips_mid_stream(self, tmp_path, monkeypatch):
        import bighouse_spark.sources.urlfanout as uf

        (tmp_path / "cap.csv").write_bytes(
            b"a\n" + b"1234567890\n" * 5000
        )
        srv = self._serve(tmp_path)
        try:
            url = f"http://127.0.0.1:{srv.server_port}/cap.csv"
            with pytest.raises(ValueError, match="per-file cap"):
                with uf._open_stream(url, cap=1024) as f:
                    f.read()
        finally:
            srv.shutdown()

    def test_fanout_gzip_csv_end_to_end(self, spark, tmp_path,
                                        monkeypatch):
        import gzip as _gz

        import bighouse_spark.sources.urlfanout as uf

        for m in range(6):
            (tmp_path / f"z-{m}.csv.gz").write_bytes(
                _gz.compress(f"v\n{m}\n{m + 50}\n".encode())
            )
        srv = self._serve(tmp_path)
        try:
            port = srv.server_port
            monkeypatch.setattr(uf, "FANOUT_THRESHOLD", 2)
            r = transpile(
                f"SELECT count() AS n, sum(v) AS s FROM "
                f"url('http://127.0.0.1:{port}/z-{{0..5}}.csv.gz', "
                "'CSVWithNames', 'v Int64')",
                spark,
            )
            assert [tuple(x) for x in spark.sql(r.sql).collect()] == [
                (12, sum(range(6)) + sum(range(50, 56)))
            ]
        finally:
            srv.shutdown()


class TestJsonFunctions:
    def test_extract_variants(self, spark):
        j = '{"name": "ada", "age": 36, "score": 1.5, "ok": true}'
        r = transpile(
            f"SELECT JSONExtractString('{j}', 'name') AS n, "
            f"JSONExtractInt('{j}', 'age') AS a, "
            f"JSONExtractFloat('{j}', 'score') AS s, "
            f"JSONExtractBool('{j}', 'ok') AS o, "
            f"JSONHas('{j}', 'nope') AS h",
            spark,
        )
        row = spark.sql(r.sql).collect()[0]
        assert list(row) == ["ada", 36, 1.5, True, False]


class TestTranspileIdempotence:
    """ANSI SQL free of CH constructs must pass through unchanged."""

    @given(
        cols=st.lists(
            st.text(
                alphabet="abcdefghijklmnopqrstuvwxyz", min_size=3, max_size=8
            ).filter(
                lambda c: c
                not in ("has", "match", "empty", "sample", "final", "any")
            ),
            min_size=1,
            max_size=4,
            unique=True,
        )
    )
    @settings(max_examples=30, deadline=None)
    def test_plain_select_unchanged(self, cols):
        sql = f"SELECT {', '.join(cols)} FROM some_table WHERE {cols[0]} > 5"
        assert transpile(sql).sql == sql


class TestNumbersTableFunction:
    def test_numbers(self, spark):
        r = transpile("SELECT sum(number) AS s FROM numbers(10)", spark)
        assert spark.sql(r.sql).collect()[0][0] == 45

    def test_numbers_start_count(self, spark):
        # CH numbers(start, count): numbers(2, 3) -> 2, 3, 4.
        r = transpile(
            "SELECT min(number) AS a, max(number) AS b, count(*) AS n "
            "FROM numbers(2, 3)",
            spark,
        )
        assert list(spark.sql(r.sql).collect()[0]) == [2, 4, 3]


class TestAsofJoinSQL:
    """CH ASOF JOIN through the SQL surface: canonical form routed
    through operators.asof.asof_join via a temp view."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        spark.createDataFrame(
            [("A", 3, 10.0), ("A", 7, 11.0), ("B", 5, 20.0), ("C", 1, 30.0)],
            ["sym", "t", "px"],
        ).createOrReplaceTempView("trades")
        spark.createDataFrame(
            [("A", 2, 9.0), ("A", 7, 9.5), ("B", 6, 19.0)],
            ["sym", "qt", "bid"],
        ).createOrReplaceTempView("quotes")
        return BigHouseEngine(spark)

    def test_inner_backward(self, eng):
        out = eng.execute(
            "SELECT sym, t, px, bid, qt FROM trades ASOF JOIN quotes "
            "ON trades.sym = quotes.sym AND trades.t >= quotes.qt "
            "ORDER BY sym, t"
        )
        assert out.cols == ["sym", "t", "px", "bid", "qt"]
        # A@3 -> qt2; A@7 -> qt7 (same instant visible, non-strict);
        # B@5 has no quote <= 5 and C has none at all -> dropped (inner)
        assert out.rows == [["A", 3, 10.0, 9.0, 2], ["A", 7, 11.0, 9.5, 7]]

    def test_left_keeps_misses(self, eng):
        out = eng.execute(
            "SELECT a.sym, a.t, b.bid FROM trades AS a "
            "ASOF LEFT JOIN quotes AS b "
            "ON a.sym = b.sym AND a.t >= b.qt ORDER BY a.sym, a.t"
        )
        assert out.rows == [
            ["A", 3, 9.0], ["A", 7, 9.5],
            ["B", 5, None], ["C", 1, None],
        ]

    def test_strict_and_forward(self, eng):
        strict = eng.execute(
            "SELECT sym, t, qt FROM trades ASOF JOIN quotes "
            "ON trades.sym = quotes.sym AND trades.t > quotes.qt "
            "ORDER BY sym, t"
        )
        # strict backward: A@7 must skip the same-instant qt=7 -> qt=2
        assert strict.rows == [["A", 3, 2], ["A", 7, 2]]
        fwd = eng.execute(
            "SELECT sym, t, qt, bid FROM trades ASOF JOIN quotes "
            "ON trades.sym = quotes.sym AND trades.t <= quotes.qt "
            "ORDER BY sym, t"
        )
        assert fwd.rows == [
            ["A", 3, 7, 9.5], ["A", 7, 7, 9.5], ["B", 5, 6, 19.0]
        ]

    def test_unsupported_form_actionable(self, eng):
        with pytest.raises(ValueError, match="supported form"):
            eng.execute(
                "SELECT 1 FROM trades ASOF JOIN quotes "
                "ON trades.sym = quotes.sym AND trades.t >= quotes.qt + 1"
            )

    def test_alias_repoint_skips_string_literals(self, eng):
        # 'b.bid' inside a string literal is data, not a qualified
        # reference — the flattening substitution must not touch it.
        out = eng.execute(
            "SELECT a.sym, 'b.bid' AS lit, b.bid FROM trades AS a "
            "ASOF LEFT JOIN quotes AS b "
            "ON a.sym = b.sym AND a.t >= b.qt ORDER BY a.sym, a.t LIMIT 1"
        )
        assert out.rows == [["A", "b.bid", 9.0]]

    def test_alias_repoint_skips_rebinding_subquery(self, eng, spark):
        # a subquery that rebinds alias `b` to another table keeps its
        # own b.* references — only the outer ASOF pair is flattened.
        spark.createDataFrame(
            [("A", 1.0)], ["sym", "w"]
        ).createOrReplaceTempView("weights")
        out = eng.execute(
            "SELECT a.sym, b.bid, "
            "(SELECT max(b.w) FROM weights AS b) AS wmax "
            "FROM trades AS a ASOF JOIN quotes AS b "
            "ON a.sym = b.sym AND a.t >= b.qt ORDER BY a.sym, a.t LIMIT 1"
        )
        assert out.rows == [["A", 9.0, 1.0]]


class TestWithFill:
    """ORDER BY ... WITH FILL: sequence-spine densification with CH
    type-default fills (0 for numerics)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        spark.createDataFrame(
            [(1, 10.0), (3, 5.0), (6, 1.0)], ["d", "v"]
        ).createOrReplaceTempView("fill_t")
        return BigHouseEngine(spark)

    def test_fill_minmax_defaults(self, eng):
        out = eng.execute(
            "SELECT d, sum(v) AS s FROM fill_t GROUP BY d "
            "ORDER BY d WITH FILL"
        )
        assert out.cols == ["d", "s"]
        assert out.rows == [
            [1, 10.0], [2, 0.0], [3, 5.0], [4, 0.0], [5, 0.0], [6, 1.0]
        ]

    def test_fill_from_to_step(self, eng):
        out = eng.execute(
            "SELECT d, sum(v) AS s FROM fill_t GROUP BY d "
            "ORDER BY d WITH FILL FROM 0 TO 8 STEP 2"
        )
        # TO is exclusive (CH semantics): spine = 0,2,4,6
        assert out.rows == [[0, 0.0], [2, 0.0], [4, 0.0], [6, 1.0]]

    def test_fill_to_nondivisible_step(self, eng):
        # step does not divide (to - from): CH keeps every spine value
        # strictly below the exclusive TO bound — 6 < 7 is inside.
        out = eng.execute(
            "SELECT d, sum(v) AS s FROM fill_t GROUP BY d "
            "ORDER BY d WITH FILL FROM 0 TO 7 STEP 2"
        )
        assert out.rows == [[0, 0.0], [2, 0.0], [4, 0.0], [6, 1.0]]

    def test_fill_preserves_original_nulls(self, eng, spark):
        # CH substitutes type defaults only on INSERTED spine rows;
        # a NULL sitting in an original result row stays NULL.
        spark.createDataFrame(
            [(1, 10.0), (3, None)], ["d", "v"]
        ).createOrReplaceTempView("fill_null_t")
        out = eng.execute(
            "SELECT d, v FROM fill_null_t ORDER BY d WITH FILL"
        )
        assert out.rows == [[1, 10.0], [2, 0.0], [3, None]]

    def test_fill_unsupported_column_type(self, eng):
        with pytest.raises(ValueError, match="integral or date"):
            eng.execute(
                "SELECT v FROM fill_t ORDER BY v WITH FILL"
            )


class TestDialectBatch3:
    """Round-2 spelling batch: OrNull/OrZero casts, bit ops, map
    accessors, tuple/element helpers, dateName, emptyArray family."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_batch_values(self, eng):
        cases = {
            "SELECT countEqual([1,2,2,3], 2) AS x": 2,
            "SELECT bitCount(7) AS x": 3,
            "SELECT intDivOrZero(10, 0) AS x": 0,
            "SELECT moduloOrZero(10, 3) AS x": 1,
            "SELECT arrayProduct([2.0,3.0]) AS x": 6.0,
            "SELECT tupleElement(tuple(1,'a'), 2) AS x": "a",
            "SELECT positionCaseInsensitive('Hello','he') AS x": 1,
            "SELECT dateName('weekday', toDate('2020-03-04')) AS x":
                "Wednesday",
            "SELECT emptyArrayInt64() AS x": [],
            "SELECT arrayResize([1,2], 4, 0) AS x": [1, 2, 0, 0],
            "SELECT bitTest(5, 1) AS x": 0,
            "SELECT accurateCastOrNull('oops', 'UInt32') AS x": None,
            "SELECT toInt64OrNull('42') AS x": 42,
            "SELECT toFloat64OrZero('nope') AS x": 0.0,
            "SELECT mapKeys(map('a', 1)) AS x": ["a"],
        }
        for q, want in cases.items():
            assert eng.execute(q).rows[0][0] == want, q

    def test_time_slot(self, eng):
        got = eng.execute(
            "SELECT timeSlot(toDateTime('2020-01-01 10:44:55')) AS x"
        ).rows[0][0]
        assert str(got).startswith("2020-01-01 10:30:00")

    def test_unsupported_units_raise(self, eng):
        with pytest.raises(Exception, match="dateName"):
            eng.execute("SELECT dateName('century', toDate('2020-03-04'))")
        with pytest.raises(Exception, match="tupleElement"):
            eng.execute("SELECT tupleElement(tuple(1), n)")


class TestMergeClusterTableFuncs:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        spark.createDataFrame([(1,), (2,)], ["v"]).createOrReplaceTempView(
            "mlog_2024"
        )
        spark.createDataFrame([(3,)], ["v"]).createOrReplaceTempView(
            "mlog_2025"
        )
        return BigHouseEngine(spark)

    def test_merge_unions_matching_tables(self, eng):
        out = eng.execute(
            "SELECT count() AS n, sum(v) AS s FROM merge('mlog_.*')"
        )
        assert out.rows == [[3, 6]]
        out = eng.execute(
            "SELECT count() AS n FROM merge('default', 'mlog_2024')"
        )
        assert out.rows == [[2]]
        with pytest.raises(ValueError, match="no registered table"):
            eng.execute("SELECT 1 FROM merge('nope_.*')")

    def test_merge_unanchored_like_clickhouse(self, eng):
        # CH matches tables_regexp unanchored (its docs anchor with
        # ^WatchLog explicitly); '^mlog' must union both years.
        out = eng.execute("SELECT sum(v) AS s FROM merge('^mlog')")
        assert out.rows == [[6]]
        # and a bare infix hits every table containing it
        out = eng.execute("SELECT count() AS n FROM merge('log_202')")
        assert out.rows == [[3]]

    def test_cluster_reads_named_table(self, eng):
        out = eng.execute(
            "SELECT sum(v) AS s FROM cluster('bighouse', 'default.mlog_2024')"
        )
        assert out.rows == [[3]]
        out = eng.execute(
            "SELECT count() AS n FROM clusterAllReplicas('c', 'mlog_2025')"
        )
        assert out.rows == [[1]]


class TestLimitWithTies:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        spark.createDataFrame(
            [("a", 3), ("b", 2), ("c", 2), ("d", 1)], ["k", "score"]
        ).createOrReplaceTempView("ties_t")
        return BigHouseEngine(spark)

    def test_ties_kept(self, eng):
        out = eng.execute(
            "SELECT k, score FROM ties_t ORDER BY score DESC LIMIT 2 WITH TIES"
        )
        # 2nd place (score=2) ties -> 3 rows, plain LIMIT 2 -> 2 rows
        assert [r[1] for r in out.rows] == [3, 2, 2]
        plain = eng.execute(
            "SELECT k, score FROM ties_t ORDER BY score DESC LIMIT 2"
        )
        assert len(plain.rows) == 2

    def test_unsupported_shape_raises(self, eng):
        with pytest.raises(ValueError, match="WITH TIES"):
            eng.execute("SELECT k FROM ties_t LIMIT 2 WITH TIES")


class TestExplainVariants:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        spark.range(5).selectExpr("id AS v").createOrReplaceTempView("ex_t")
        return BigHouseEngine(spark)

    def test_explain_syntax_returns_transpiled(self, eng):
        out = eng.execute("EXPLAIN SYNTAX SELECT uniq(v) FROM ex_t")
        assert out.cols == ["rewritten_sql"]
        assert "approx_count_distinct(v)" in out.rows[0][0]

    def test_explain_modes_map(self, eng):
        for ch in ("EXPLAIN PLAN", "EXPLAIN PIPELINE", "EXPLAIN ESTIMATE",
                   "EXPLAIN AST"):
            out = eng.execute(f"{ch} SELECT count() FROM ex_t")
            assert len(out.rows) >= 1 and out.rows[0][0], ch

    def test_explain_query_tree(self, eng):
        # CH 23.6's analyzer-IR variant → Spark's analyzed logical
        # plan (EXTENDED carries it) — same compilation stage
        out = eng.execute("EXPLAIN QUERY TREE SELECT count() FROM ex_t")
        assert "Logical Plan" in out.rows[0][0]
        # the spelling inside a literal is data, not an EXPLAIN
        assert eng.execute(
            "SELECT 'EXPLAIN QUERY TREE SELECT 1' AS s"
        ).rows == [["EXPLAIN QUERY TREE SELECT 1"]]


class TestQualify:
    def test_qualify_filters_window_result(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 5), ("b", 3)], ["k", "v"]
        ).createOrReplaceTempView("qf_t")
        eng = BigHouseEngine(spark)
        out = eng.execute(
            "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) "
            "AS rn FROM qf_t QUALIFY rn = 1 ORDER BY k"
        )
        assert out.rows == [["a", 1, 1], ["b", 3, 1]]
        out2 = eng.execute(
            "SELECT k, v, rank() OVER (ORDER BY v DESC) AS r FROM qf_t "
            "QUALIFY r <= 2 ORDER BY r LIMIT 2"
        )
        assert [x[1] for x in out2.rows] == [5, 3]


class TestDialectBatch4:
    """Round-2 spelling batch 2: decimals, readable formats, JSON
    visitParam family, string metrics, char n-grams."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_batch_values(self, eng):
        cases = {
            "SELECT arrayIntersect([1,2,3],[2,3,4]) AS x": [2, 3],
            "SELECT CAST(toDecimal64('3.14159', 2) AS STRING) AS x": "3.14",
            "SELECT countSubstrings('ababa', 'ab') AS x": 2,
            "SELECT tokens('hello, world! 42') AS x":
                ["hello", "world", "42"],
            "SELECT ngrams('abcd', 3) AS x": ["abc", "bcd"],
            "SELECT ifNotFinite(double('inf'), 9.0) AS x": 9.0,
            "SELECT JSONLength('{\"a\":1,\"b\":2}') AS x": 2,
            "SELECT visitParamExtractString('{\"a\":\"b\"}', 'a') AS x": "b",
            "SELECT visitParamHas('{\"a\":1}', 'z') AS x": False,
            "SELECT levenshteinDistance('kitten', 'sitting') AS x": 3,
            "SELECT formatReadableSize(123456789) AS x": "117.74 MiB",
            "SELECT formatReadableQuantity(1234567) AS x": "1.23 million",
            "SELECT concatWithSeparator('-', 'a', 'b') AS x": "a-b",
            "SELECT isNaN(double('nan')) AS x": True,
            "SELECT toJSONString(map('a', 1)) AS x": '{"a":1}',
        }
        for q, want in cases.items():
            assert eng.execute(q).rows[0][0] == want, q

    def test_nondeterministic_shapes(self, eng):
        assert eng.execute(
            "SELECT length(CAST(generateUUIDv4() AS String)) AS x"
        ).rows[0][0] == 36
        assert eng.execute(
            "SELECT randCanonical() BETWEEN 0 AND 1 AS x"
        ).rows[0][0] is True
        assert eng.execute(
            "SELECT sort_array(arrayShuffle([3,1,2])) AS x"
        ).rows[0][0] == [1, 2, 3]


def test_ipv4_functions(spark):
    from bighouse_spark.engine import BigHouseEngine

    eng = BigHouseEngine(spark)
    out = eng.execute(
        "SELECT IPv4NumToString(3232235777) AS a, "
        "IPv4StringToNum('192.168.1.1') AS b, "
        "IPv4NumToString(IPv4StringToNum('10.0.0.255')) AS c"
    )
    assert out.rows == [["192.168.1.1", 3232235777, "10.0.0.255"]]


class TestHttpSpoolEviction:
    def test_lru_byte_cap_evicts_oldest(self, tmp_path, monkeypatch):
        import importlib

        tp = importlib.import_module("bighouse_spark.dialect.transpile")
        import http.server
        import threading

        for i in range(4):
            (tmp_path / f"f{i}.csv").write_text("v\n" + ("1\n" * 200))
        handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
            *a, directory=str(tmp_path), **kw
        )
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_port
            size = len("v\n" + "1\n" * 200)
            monkeypatch.setattr(tp, "_HTTP_SPOOL_MAX_BYTES", size * 2)
            tp._HTTP_SPOOL.clear()
            import os

            paths = []
            for i in range(4):
                # One fetch + release per loop = four sequential
                # requests (a request's own URLs are pinned until its
                # boundary and never self-evict).
                paths.append(
                    tp._fetch_http(f"http://127.0.0.1:{port}/f{i}.csv")
                )
                tp.release_spool_pins()
            # Cap = 2 files → only the 2 most recent survive.
            assert len(tp._HTTP_SPOOL) == 2
            assert [u.rsplit("/", 1)[-1] for u in tp._HTTP_SPOOL] == [
                "f2.csv",
                "f3.csv",
            ]
            assert not os.path.exists(paths[0].removeprefix("file://"))
            assert not os.path.exists(paths[1].removeprefix("file://"))
            assert os.path.exists(paths[3].removeprefix("file://"))
            # Touching f2 makes it MRU; fetching f0 again evicts f3.
            tp._fetch_http(f"http://127.0.0.1:{port}/f2.csv")
            tp._fetch_http(f"http://127.0.0.1:{port}/f0.csv")
            tp.release_spool_pins()
            assert [u.rsplit("/", 1)[-1] for u in tp._HTTP_SPOOL] == [
                "f2.csv",
                "f0.csv",
            ]
        finally:
            srv.shutdown()
            tp.release_spool_pins()
            tp._HTTP_SPOOL.clear()

    def test_single_oversized_file_survives(self, tmp_path, monkeypatch):
        import importlib

        tp = importlib.import_module("bighouse_spark.dialect.transpile")
        import http.server
        import threading

        (tmp_path / "big.csv").write_text("v\n" + ("9\n" * 5000))
        handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
            *a, directory=str(tmp_path), **kw
        )
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_port
            monkeypatch.setattr(tp, "_HTTP_SPOOL_MAX_BYTES", 10)
            tp._HTTP_SPOOL.clear()
            import os

            p = tp._fetch_http(f"http://127.0.0.1:{port}/big.csv")
            # A file larger than the whole cap must still be readable
            # by the query that fetched it.
            assert os.path.exists(p.removeprefix("file://"))
            assert len(tp._HTTP_SPOOL) == 1
        finally:
            srv.shutdown()
            tp.release_spool_pins()
            tp._HTTP_SPOOL.clear()

    def test_pinned_entry_survives_concurrent_eviction(
        self, tmp_path, monkeypatch
    ):
        # The threaded-server hazard: thread A's url() view points at
        # a spool file; thread B's fetches push the spool over cap
        # BEFORE A's Spark action runs. A's entry is pinned until its
        # request boundary, so B's evictions must skip it.
        import importlib
        import os

        tp = importlib.import_module("bighouse_spark.dialect.transpile")
        import http.server
        import threading

        for i in range(3):
            (tmp_path / f"g{i}.csv").write_text("v\n" + ("1\n" * 200))
        handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
            *a, directory=str(tmp_path), **kw
        )
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_port
            size = len("v\n" + "1\n" * 200)
            monkeypatch.setattr(tp, "_HTTP_SPOOL_MAX_BYTES", size)
            tp._HTTP_SPOOL.clear()

            pinned_path = {}
            fetched = threading.Event()
            finish_a = threading.Event()

            def request_a():  # fetch g0, hold the pin until signaled
                pinned_path["p"] = tp._fetch_http(
                    f"http://127.0.0.1:{port}/g0.csv"
                )
                fetched.set()
                finish_a.wait(30)
                tp.release_spool_pins()  # A's request boundary

            ta = threading.Thread(target=request_a)
            ta.start()
            assert fetched.wait(30)
            # Thread B runs two full request cycles, each over cap.
            def requests_b():
                for i in (1, 2):
                    tp._fetch_http(f"http://127.0.0.1:{port}/g{i}.csv")
                    tp.release_spool_pins()

            tb = threading.Thread(target=requests_b)
            tb.start()
            tb.join()
            # Cap fits ONE file and g0 is the LRU — but it is pinned
            # by thread A's in-flight request, so it must survive.
            assert os.path.exists(pinned_path["p"].removeprefix("file://"))
            assert "g0.csv" in [
                u.rsplit("/", 1)[-1] for u in tp._HTTP_SPOOL
            ]
            # A's boundary releases the pin (on A's thread). g0 then
            # fits the cap alone, so it stays until the NEXT request
            # creates eviction pressure — now unpinned, it goes.
            finish_a.set()
            ta.join()
            tp._fetch_http(f"http://127.0.0.1:{port}/g1.csv")
            tp.release_spool_pins()
            assert "g0.csv" not in [
                u.rsplit("/", 1)[-1] for u in tp._HTTP_SPOOL
            ]
            assert not os.path.exists(
                pinned_path["p"].removeprefix("file://")
            )
        finally:
            srv.shutdown()
            tp.release_spool_pins()
            tp._HTTP_SPOOL.clear()


class TestSchemaRenderRoundtrip:
    """Property: any Spark schema our parser can produce renders to CH
    DDL (spark_type_to_ch / render_create_table) that re-parses to the
    IDENTICAL Spark types — the SHOW CREATE TABLE fidelity contract."""

    @given(
        st.lists(
            st.tuples(
                st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True),
                st.sampled_from(
                    [
                        "Int8", "Int16", "Int32", "Int64", "Float32",
                        "Float64", "String", "Date", "DateTime", "Bool",
                        "Decimal(20, 4)", "Array(String)",
                        "Array(Array(Int64))", "Map(String, Int64)",
                        "Nullable(Float64)", "LowCardinality(String)",
                        "Tuple(a Int64, b String)",
                    ]
                ),
            ),
            min_size=1,
            max_size=10,
            unique_by=lambda kv: kv[0],
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_parse_render_parse_fixpoint(self, fields):
        from bighouse_spark.dialect.schema import render_create_table

        s = ", ".join(f"{name} {typ}" for name, typ in fields)
        parsed = parse_schema_string(s)
        ddl = render_create_table("t", parsed)
        body = ddl.split("(\n", 1)[1].rsplit("\n)", 1)[0]
        reparsed = parse_schema_string(body)
        assert [f.name for f in reparsed.fields] == [
            f.name for f in parsed.fields
        ]
        assert [f.dataType for f in reparsed.fields] == [
            f.dataType for f in parsed.fields
        ]


class TestRound4FunctionAdditions:
    def test_bar(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute("SELECT bar(5, 0, 10, 10) AS r").rows == [["█████"]]
        assert eng.execute("SELECT bar(-1, 0, 10, 10) AS r").rows == [[""]]

    def test_json_extract_raw(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        r = eng.execute(
            'SELECT JSONExtractRaw(\'{"a":{"b":1}}\', \'a\') AS r'
        )
        assert r.rows == [['{"b":1}']]

    def test_running_difference_guided_error(self, spark):
        import pytest

        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        with pytest.raises(ValueError, match="lag"):
            eng.execute("SELECT runningDifference(number) FROM numbers(3)")


class TestSubscriptSemantics:
    def test_one_based_and_negative(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute("SELECT [10,20,30][2] AS r").rows == [[20]]
        assert eng.execute("SELECT [10,20,30][-1] AS r").rows == [[30]]
        assert eng.execute("SELECT [[1,2],[3,4]][2][1] AS r").rows == [[3]]
        assert eng.execute("SELECT map('a', 7)['a'] AS r").rows == [[7]]
        # Out-of-range / missing key → NULL (CH returns the type
        # default; NULL is the honest Spark spelling).
        assert eng.execute("SELECT [10][99] AS r").rows == [[None]]
        assert eng.execute(
            "SELECT splitByChar(',', 'a,b,c')[2] AS r"
        ).rows == [["b"]]


class TestRound4Constructs:
    """CH statement-level spellings added in round 4 — each checked
    end-to-end through the engine."""

    def _eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark=spark)

    def test_two_arg_cast(self, spark):
        eng = self._eng(spark)
        assert eng.execute(
            "SELECT CAST(number, 'String') AS r FROM numbers(1)"
        ).rows == [["0"]]
        assert eng.execute("SELECT CAST('7', 'UInt64') + 1 AS r").rows == [[8]]
        # standard CAST untouched
        assert eng.execute(
            "SELECT CAST(number AS STRING) AS r FROM numbers(1)"
        ).rows == [["0"]]

    def test_limit_comma_offset(self, spark):
        eng = self._eng(spark)
        assert eng.execute(
            "SELECT number FROM numbers(10) ORDER BY number LIMIT 2, 3"
        ).rows == [[2], [3], [4]]

    def test_distinct_on_maps_to_limit_by(self, spark):
        eng = self._eng(spark)
        rows = eng.execute(
            "SELECT DISTINCT ON (m) m, number FROM "
            "(SELECT number, number % 3 AS m FROM numbers(9)) "
            "ORDER BY m, number"
        ).rows
        assert rows == [[0, 0], [1, 1], [2, 2]]
        # trailing LIMIT applies after the per-key dedup (CH order)
        rows = eng.execute(
            "SELECT DISTINCT ON (m) m, number FROM "
            "(SELECT number, number % 3 AS m FROM numbers(9)) "
            "ORDER BY m, number LIMIT 2"
        ).rows
        assert rows == [[0, 0], [1, 1]]

    def test_join_strictness(self, spark):
        eng = self._eng(spark)
        assert eng.execute(
            "SELECT a.n FROM (SELECT 1 AS n) a "
            "ALL INNER JOIN (SELECT 1 AS n) b USING (n)"
        ).rows == [[1]]
        # ANY: at most one right match per left row
        rows = eng.execute(
            "SELECT n, m FROM (SELECT 1 AS n) a ANY LEFT JOIN "
            "(SELECT 1 AS n, 5 AS m UNION ALL SELECT 1, 6) b USING (n)"
        ).rows
        assert len(rows) == 1
        import pytest

        with pytest.raises(ValueError, match="USING"):
            eng.execute(
                "SELECT 1 FROM t1 ANY JOIN t2 ON t1.a = t2.a"
            )

    def test_star_replace(self, spark):
        eng = self._eng(spark)
        r = eng.execute(
            "SELECT * REPLACE (a * 2 AS a) FROM (SELECT 1 AS a, 2 AS b)"
        )
        assert sorted(zip(r.cols, r.rows[0])) == [("a", 2), ("b", 2)]

    def test_scalar_with_aliases(self, spark):
        eng = self._eng(spark)
        assert eng.execute(
            "WITH 5 AS k SELECT k + number AS r FROM numbers(2) ORDER BY r"
        ).rows == [[5], [6]]
        assert eng.execute("WITH 2 AS a, 3 AS b SELECT a * b AS r").rows == [[6]]
        # alias inside a string literal is data
        assert eng.execute("WITH 5 AS k SELECT 'k' AS r").rows == [["k"]]
        # standard CTE form untouched
        assert eng.execute(
            "WITH t AS (SELECT number AS n FROM numbers(3)) "
            "SELECT sum(n) AS s FROM t"
        ).rows == [[3]]


class TestAggregateCombinators:
    """Generic -If combinator + -Array combinators (round 4)."""

    def _eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark=spark)

    def test_if_combinator_family(self, spark):
        eng = self._eng(spark)
        q = (
            "SELECT sumIf(number, number % 2 = 0) AS s, "
            "minIf(number, number > 3) AS mn, "
            "anyIf(number, number = 4) AS a, "
            "uniqExactIf(number % 3, number > 2) AS u, "
            "argMaxIf(number, number, number < 5) AS am, "
            "groupArrayIf(number, number % 2 = 0) AS g, "
            "stddevPopIf(number, number < 2) AS sd "
            "FROM numbers(10)"
        )
        r = eng.execute(q)
        row = dict(zip(r.cols, r.rows[0]))
        assert row["s"] == 20 and row["mn"] == 4 and row["a"] == 4
        assert row["u"] == 3 and row["am"] == 4
        assert sorted(row["g"]) == [0, 2, 4, 6, 8] and row["sd"] == 0.5

    def test_parametric_if(self, spark):
        eng = self._eng(spark)
        assert eng.execute(
            "SELECT topKIf(2)(number % 3, number < 9) AS r FROM numbers(12)"
        ).rows == [[[0, 1]]]
        assert eng.execute(
            "SELECT quantileExactIf(0.5)(number, number < 5) AS r "
            "FROM numbers(100)"
        ).rows == [[2]]

    def test_array_combinators(self, spark):
        eng = self._eng(spark)
        r = eng.execute(
            "SELECT sumArray(arr) AS s, minArray(arr) AS mn, "
            "maxArray(arr) AS mx, avgArray(arr) AS av, "
            "uniqArray(arr) AS u FROM "
            "(SELECT [1,2] AS arr UNION ALL SELECT [2,3])"
        )
        row = dict(zip(r.cols, r.rows[0]))
        assert row["s"] == 8.0 and row["mn"] == 1 and row["mx"] == 3
        assert row["av"] == 2.0 and row["u"] == 3

    def test_misc_aggregates(self, spark):
        eng = self._eng(spark)
        assert eng.execute(
            "SELECT avgWeighted(number, 2) AS r FROM numbers(4)"
        ).rows == [[1.5]]
        assert eng.execute(
            "SELECT boundingRatio(number, number * 3) AS r FROM numbers(5)"
        ).rows == [[3.0]]
        assert eng.execute(
            "SELECT stddevPop(number) >= 0 AS a, varSamp(number) >= 0 AS b, "
            "covarPop(number, number) >= 0 AS c FROM numbers(10)"
        ).rows == [[True, True, True]]
        import pytest

        with pytest.raises(ValueError, match="lag"):
            eng.execute("SELECT deltaSum(number) FROM numbers(5)")


class TestIntrospectionNoops:
    def test_plumbing_functions(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute("SELECT currentDatabase() AS r").rows == [["default"]]
        assert eng.execute("SELECT hostName() AS r").rows == [["bighouse-spark"]]
        assert eng.execute("SELECT materialize(5) AS r").rows == [[5]]
        assert eng.execute("SELECT ignore(1, 2) AS r").rows == [[0]]
        assert eng.execute("SELECT sleep(0) AS r").rows == [[0]]


class TestStateMergeFamily:
    def test_two_level_rollup(self, spark):
        """AggregatingMergeTree pattern: per-group partial states,
        merged at the outer level — decomposable aggregates carry
        their partial value, avg carries its (sum, count) pair."""
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        rows = eng.execute(
            "SELECT sumMerge(s) AS total, countMerge(c) AS n, "
            "minMerge(mn) AS mn, maxMerge(mx) AS mx, avgMerge(av) AS av "
            "FROM (SELECT number % 3 AS g, sumState(number) AS s, "
            "countState(number) AS c, minState(number) AS mn, "
            "maxState(number) AS mx, avgState(number) AS av "
            "FROM numbers(10) GROUP BY g)"
        ).rows
        assert rows == [[45, 10, 0, 9, 4.5]]


class TestGenerateRandom:
    def test_deterministic_typed_rows(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        q = (
            "SELECT * FROM generateRandom("
            "'a Int64, s String, f Float64, arr Array(Int32)', 42) LIMIT 5"
        )
        r1, r2 = eng.execute(q), eng.execute(q)
        assert len(r1.rows) == 5 and r1.cols == ["a", "s", "f", "arr"]
        assert r1.rows == r2.rows  # same seed → same data
        r3 = eng.execute(q.replace("42", "7"))
        assert r1.rows != r3.rows  # seed-sensitive
        assert all(isinstance(row[1], str) for row in r1.rows)


class TestRound4DateMathFunctions:
    def test_date_family(self, spark):
        import datetime

        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute(
            "SELECT toISOWeek(toDate('2024-03-07')) AS r"
        ).rows == [[10]]
        assert eng.execute(
            "SELECT toLastDayOfMonth(toDate('2024-02-10')) AS r"
        ).rows == [[datetime.date(2024, 2, 29)]]
        assert eng.execute(
            "SELECT age('day', toDate('2024-01-01'), toDate('2024-02-01')) "
            "AS r"
        ).rows == [[31]]
        # toTimeZone: zone-local parts extract correctly
        assert eng.execute(
            "SELECT hour(toTimeZone(toDateTime('2024-01-01 12:00:00'), "
            "'America/New_York')) AS r"
        ).rows == [[7]]

    def test_math_family(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute(
            "SELECT roundBankers(2.5) AS r, roundBankers(3.5) AS s"
        ).rows == [[2.0, 4.0]]
        assert eng.execute(
            "SELECT roundToExp2(100) AS r, roundToExp2(0) AS z"
        ).rows == [[64, 0]]
        # one-arg trunc is toward-zero; two-arg stays Spark date trunc
        assert eng.execute(
            "SELECT trunc(2.9) AS t, trunc(-2.9) AS u"
        ).rows == [[2.0, -2.0]]
        assert eng.execute(
            "SELECT gcd(12, 18) AS r, lcm(4, 6) AS l, gcd(0, 5) AS z"
        ).rows == [[6, 12, 5]]


class TestRound4ArrayMapFunctions:
    def test_array_family(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute(
            "SELECT arrayPopBack([1,2,3]) AS r, arrayPopFront([1,2,3]) AS s"
        ).rows == [[[1, 2], [2, 3]]]
        assert eng.execute(
            "SELECT arrayFirst(x -> x > 1, [1,2,3]) AS a, "
            "arrayLast(x -> x > 1, [1,2,3]) AS b, "
            "arrayFirstIndex(x -> x > 9, [1,2,3]) AS c"
        ).rows == [[2, 3, 0]]
        assert eng.execute(
            "SELECT arrayReduce('sum', [1,2,3]) AS s, "
            "arrayReduce('uniqExact', [1,1,2]) AS u"
        ).rows == [[6.0, 2]]
        import pytest

        with pytest.raises(ValueError, match="unsupported aggregate"):
            eng.execute("SELECT arrayReduce('medianTiming', [1])")

    def test_map_family(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark=spark)
        assert eng.execute(
            "SELECT mapContains(map('a',1), 'a') AS r, "
            "mapFromArrays(['a'],[1])['a'] AS v"
        ).rows == [[True, 1]]


def test_numeric_two_arg_trunc(spark):
    # CH trunc(x, n) truncates toward zero at n decimals; only a
    # quoted format string selects Spark's trunc(date, 'fmt').
    from bighouse_spark.engine import BigHouseEngine

    eng = BigHouseEngine(spark)
    out = eng.execute(
        "SELECT trunc(1.777, 1) AS a, trunc(-1.777, 2) AS b, "
        "trunc(CAST(2.9 AS DOUBLE), 0) AS c, "
        "trunc(DATE '2024-03-15', 'MM') AS d"
    )
    assert out.rows[0][0] == 1.7
    assert out.rows[0][1] == -1.77
    assert out.rows[0][2] == 2.0
    assert str(out.rows[0][3]) == "2024-03-01"


class TestRound5FunctionAdditions:
    """Tier-2 probe tranche: URL analysis, bitmap ops (sorted-distinct
    array representation), IPv6 (Arrow-batched pandas UDFs over
    stdlib ipaddress), the rest of arrayEnumerate*."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_url_functions(self, eng):
        r = eng.execute(
            "SELECT domain('https://www.example.com:8080/a/b?q=1#f') AS d, "
            "domainWithoutWWW('https://www.example.com/a') AS dw, "
            "topLevelDomain('https://www.example.co.uk/a') AS tld, "
            "protocol('https://example.com/a') AS pr"
        )
        assert r.rows == [["www.example.com", "example.com", "uk", "https"]]

    def test_url_path_query_fragment(self, eng):
        r = eng.execute(
            "SELECT path('https://e.com/a/b?q=1') AS p, "
            "pathFull('https://e.com/a/b?q=1') AS pf, "
            "queryString('https://e.com/a?q=1&r=2#z') AS qs, "
            "fragment('https://e.com/a#sec') AS fr, "
            "netloc('https://u:p@e.com:80/a') AS nl"
        )
        assert r.rows == [["/a/b", "/a/b?q=1", "q=1&r=2", "sec",
                           "u:p@e.com:80"]]

    def test_url_parameter_extraction_and_cuts(self, eng):
        r = eng.execute(
            "SELECT extractURLParameter('https://e.com/a?q=1&r=2', 'r') AS one, "
            "extractURLParameters('https://e.com/a?q=1&r=2') AS all, "
            "cutQueryString('https://e.com/a?q=1#f') AS cq, "
            "cutFragment('https://e.com/a?q=1#f') AS cf"
        )
        assert r.rows == [["2", ["q=1", "r=2"], "https://e.com/a#f",
                           "https://e.com/a?q=1"]]

    def test_first_significant_subdomain(self, eng):
        r = eng.execute(
            "SELECT firstSignificantSubdomain('https://news.example.co.uk/') AS a, "
            "firstSignificantSubdomain('https://news.example.com/') AS b"
        )
        assert r.rows == [["example", "example"]]

    def test_bitmap_family(self, eng):
        r = eng.execute(
            "SELECT bitmapToArray(bitmapBuild([3,1,2])) AS b, "
            "bitmapCardinality(bitmapBuild([1,2,2,3])) AS c, "
            "bitmapToArray(bitmapAnd(bitmapBuild([1,2,3]), "
            "bitmapBuild([2,3,4]))) AS i, "
            "bitmapToArray(bitmapOr(bitmapBuild([1,2]), "
            "bitmapBuild([2,4]))) AS u, "
            "bitmapToArray(bitmapXor(bitmapBuild([1,2,3]), "
            "bitmapBuild([2,3,4]))) AS x, "
            "bitmapToArray(bitmapAndnot(bitmapBuild([1,2,3]), "
            "bitmapBuild([2]))) AS an"
        )
        assert r.rows == [[[1, 2, 3], 3, [2, 3], [1, 2, 4], [1, 4],
                           [1, 3]]]

    def test_bitmap_predicates_and_bounds(self, eng):
        r = eng.execute(
            "SELECT bitmapContains(bitmapBuild([1,2]), 2) AS c, "
            "bitmapHasAll(bitmapBuild([1,2,3]), bitmapBuild([2,3])) AS ha, "
            "bitmapHasAll(bitmapBuild([1,2]), bitmapBuild([2,9])) AS hn, "
            "bitmapHasAny(bitmapBuild([1,2]), bitmapBuild([5,2])) AS hy, "
            "bitmapMin(bitmapBuild([4,2,9])) AS mn, "
            "bitmapMax(bitmapBuild([4,2,9])) AS mx"
        )
        assert r.rows == [[True, True, False, True, 2, 9]]

    def test_group_bitmap_aggregate(self, eng):
        r = eng.execute(
            "SELECT groupBitmap(x) AS r FROM "
            "(SELECT number % 3 AS x FROM numbers(10))"
        )
        assert r.rows == [[3]]

    def test_array_enumerate_family(self, eng):
        r = eng.execute(
            "SELECT arrayEnumerateUniq([10,10,20,10]) AS u, "
            "arrayEnumerateDense([10,20,10,30]) AS d"
        )
        assert r.rows == [[[1, 2, 1, 3], [1, 2, 1, 3]]]

    def test_ipv6_roundtrip_and_checks(self, eng):
        r = eng.execute(
            "SELECT IPv6NumToString(IPv6StringToNum('2001:db8::1')) AS rt, "
            "toIPv6('2001:0DB8:0000:0000:0000:0000:0000:0001') AS norm, "
            "isIPv6String('::1') AS y, isIPv6String('nope') AS n, "
            "isIPv4String('1.2.3.4') AS v4y, isIPv4String('999.1.1.1') AS v4n"
        )
        assert r.rows == [["2001:db8::1", "2001:db8::1", True, False,
                           True, False]]

    def test_ipv4_mapped_ipv6(self, eng):
        # CH renders IPv4-mapped addresses with the dotted quad
        # (IPv6NumToString docs example) — round 11 aligned the
        # formatter; the old pin was Python's hex-group rendering.
        r = eng.execute(
            "SELECT IPv6NumToString(IPv4ToIPv6("
            "IPv4StringToNum('1.2.3.4'))) AS r"
        )
        assert r.rows == [["::ffff:1.2.3.4"]]


class TestVectorAndMiscFunctions:
    """Second round-5 tranche: vector math over Array columns (the
    embeddings SQL surface), split/search helpers, best-effort
    datetime parsing, haversine geo distance."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_vector_norms_and_distances(self, eng):
        r = eng.execute(
            "SELECT dotProduct([1.0,2.0], [3.0,4.0]) AS dp, "
            "L2Norm([3.0,4.0]) AS l2, L1Norm([1.0,-2.0]) AS l1, "
            "LpNorm([3.0,4.0], 2) AS lp, "
            "L2Distance([1.0,2.0], [4.0,6.0]) AS d2, "
            "L1Distance([1.0,2.0], [4.0,6.0]) AS d1"
        )
        assert r.rows == [[11.0, 5.0, 3.0, 5.0, 5.0, 7.0]]

    def test_cosine_distance(self, eng):
        r = eng.execute(
            "SELECT round(cosineDistance([1.0,0.0], [0.0,1.0]), 6) AS o, "
            "round(cosineDistance([1.0,2.0], [2.0,4.0]), 6) AS z"
        )
        assert r.rows == [[1.0, 0.0]]

    def test_cosine_distance_on_embeddings_table(self, eng, spark):
        # The vector surface composes with the fixtures: nearest
        # neighbor of embedding 0 by SQL alone.
        from tests.conftest import SF_SMOKE

        r = eng.execute(
            "SELECT count() AS n FROM "
            f"file('file://{SF_SMOKE}/embeddings.parquet', 'Parquet') "
            "WHERE L2Norm(embedding) > 0"
        )
        assert r.rows[0][0] > 0

    def test_split_and_search(self, eng):
        r = eng.execute(
            "SELECT splitByRegexp('[0-9]+', 'a1b22c') AS s, "
            "splitByWhitespace('a  b c') AS w, "
            "multiSearchFirstIndex('hello world', ['xyz', 'wor']) AS i, "
            "multiSearchFirstIndex('hello', ['xyz']) AS z, "
            "hasSubstr([1,2,3,4], [2,3]) AS hy, "
            "hasSubstr([1,2,3], [3,2]) AS hn"
        )
        assert r.rows == [[["a", "b", "c"], ["a", "b", "c"], 2, 0,
                           True, False]]

    def test_unhex_returns_string(self, eng):
        assert eng.execute("SELECT unhex('414243') AS r").rows == [["ABC"]]

    def test_parse_datetime_best_effort(self, eng):
        r = eng.execute(
            "SELECT parseDateTimeBestEffort('2024-01-02T03:04:05Z') "
            "IS NOT NULL AS a, "
            "parseDateTimeBestEffort('02/01/2024 03:04:05') "
            "IS NOT NULL AS b, "
            "parseDateTimeBestEffortOrNull('garbage') IS NULL AS c"
        )
        assert r.rows == [[True, True, True]]

    def test_great_circle_distance(self, eng):
        r = eng.execute(
            "SELECT round(greatCircleDistance(-86.5, 38.8, -77.1, 38.9)"
            " / 1000) AS km"
        )
        assert r.rows == [[814.0]]


class TestMomentAndWeightedAggregates:
    """Third round-5 tranche: moment statistics (CH skew/kurt
    spellings over Spark's moments), anyHeavy/mode, topKWeighted
    exact twin, and guided errors for sweep-line / block-order ops."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_moment_statistics(self, eng):
        # numpy ground truth for 0..9: skew m3/m2^1.5 = 0,
        # kurtosis m4/m2^2 = 1.775758 (plain, NOT excess).
        r = eng.execute(
            "SELECT round(skewPop(x), 6) AS sp, "
            "round(kurtPop(x), 6) AS kp FROM "
            "(SELECT number AS x FROM numbers(10))"
        )
        assert r.rows == [[0.0, 1.775758]]

    def test_sample_variants_apply_bias_correction(self, eng):
        r = eng.execute(
            "SELECT round(skewSamp(x), 6) AS ss, "
            "round(kurtSamp(x), 6) AS ks FROM "
            "(SELECT number AS x FROM numbers(10))"
        )
        # kurtSamp = m4 / varSamp^2 = 1.775758 * (m2/s2)^2
        assert r.rows == [[0.0, 1.438364]]

    def test_any_heavy_and_sum_kahan(self, eng):
        r = eng.execute(
            "SELECT anyHeavy(x) AS h, sumKahan(x / 10) AS s FROM "
            "(SELECT number % 2 AS x FROM numbers(11))"
        )
        assert r.rows[0][0] == 0  # 6 zeros vs 5 ones

    def test_topk_weighted(self, eng):
        # weights: x=0 -> 18, x=1 -> 12, x=2 -> 15
        r = eng.execute(
            "SELECT topKWeighted(2)(x, w) AS r FROM "
            "(SELECT number % 3 AS x, number AS w FROM numbers(10))"
        )
        assert r.rows == [[[0, 2]]]

    @pytest.mark.parametrize(
        "sql,hint",
        [
            # sumMap over a Map column is IMPLEMENTED since round 6
            # (TestMapAggregates).
            # maxIntersections / intervalLengthSum graduated to sweep
            # folds in round 7; the sumMap two-array form graduated
            # to the map fold + key/value split (TestRound7MapResample).
            ("SELECT groupArrayMovingSum(2)(x) FROM numbers(3)",
             "OVER"),
        ],
    )
    def test_guided_errors(self, eng, sql, hint):
        with pytest.raises(ValueError, match=hint):
            eng.execute(sql)


class TestWindowSpellingsAndArrayRotation:
    """Fourth round-5 tranche: CH window-function spellings, array
    rotation/shifting, Jaccard index, guided errors for block-order
    window ops."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_window_value_spellings(self, eng):
        r = eng.execute(
            "SELECT number AS n, "
            "firstValue(number) OVER w AS f, "
            "lastValue(number) OVER (ORDER BY number ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l, "
            "denseRank() OVER w AS d, "
            "nthValue(number, 2) OVER (ORDER BY number ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth "
            "FROM numbers(3) WINDOW w AS (ORDER BY number) ORDER BY n"
        )
        assert r.rows == [
            [0, 0, 2, 1, 1], [1, 0, 2, 2, 1], [2, 0, 2, 3, 1]
        ]

    def test_array_rotation(self, eng):
        r = eng.execute(
            "SELECT arrayRotateLeft([1,2,3,4], 1) AS a, "
            "arrayRotateLeft([1,2,3,4], -1) AS b, "
            "arrayRotateRight([1,2,3,4], 1) AS c, "
            "arrayRotateLeft([1,2,3,4], 5) AS d"
        )
        assert r.rows == [[[2, 3, 4, 1], [4, 1, 2, 3], [4, 1, 2, 3],
                           [2, 3, 4, 1]]]

    def test_array_shifting(self, eng):
        r = eng.execute(
            "SELECT arrayShiftLeft([1,2,3], 1, 0) AS a, "
            "arrayShiftLeft([1,2,3], -1, 9) AS b, "
            "arrayShiftRight([1,2,3], 1, 0) AS c, "
            "arrayShiftRight([1,2,3], -1, 0) AS d"
        )
        assert r.rows == [[[2, 3, 0], [9, 1, 2], [0, 1, 2], [2, 3, 0]]]

    def test_array_jaccard(self, eng):
        r = eng.execute(
            "SELECT round(arrayJaccardIndex([1,2,3], [2,3,4]), 6) AS r"
        )
        assert r.rows == [[0.5]]

    @pytest.mark.parametrize(
        "sql,hint",
        [
            ("SELECT neighbor(number, 1) FROM numbers(3)", "lag"),
            ("SELECT runningAccumulate(x) FROM (SELECT 1 AS x)",
             "OVER"),
            ("SELECT nonNegativeDerivative(a, b) OVER (ORDER BY b) "
             "FROM (SELECT 1 a, now() b)", "greatest"),
        ],
    )
    def test_block_order_guided_errors(self, eng, sql, hint):
        with pytest.raises(ValueError, match=hint):
            eng.execute(sql)


class TestDateStringTier3:
    """Fifth round-5 tranche: ISO-year/week spellings, timeDiff,
    UTF8-suffixed string functions, query-log normalization."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_date_spellings(self, eng):
        r = eng.execute(
            "SELECT toISOYear(toDate('2024-12-30')) AS iy, "
            "toWeek(toDate('2024-03-15')) AS w, "
            "toYYYYMMDDhhmmss(toDateTime('2024-03-15 10:11:12')) AS c, "
            "timeDiff(toDateTime('2024-01-01 00:00:00'), "
            "toDateTime('2024-01-01 00:01:30')) AS td"
        )
        assert r.rows == [[2025, 11, 20240315101112, 90]]

    def test_utf8_string_spellings(self, eng):
        r = eng.execute(
            "SELECT positionUTF8('hello', 'll') AS p, "
            "positionCaseInsensitiveUTF8('Hello', 'hel') AS pc, "
            "reverseUTF8('abc') AS rv, toValidUTF8('ok') AS tv"
        )
        assert r.rows == [[3, 1, "cba", "ok"]]

    def test_normalize_query(self, eng):
        # single-quoted literal with a doubled inner quote — the
        # double-quoted spelling is an IDENTIFIER in CH (and, since
        # round 10, here too)
        r = eng.execute(
            "SELECT normalizeQuery('SELECT * FROM t WHERE x = 5 "
            "AND n = ''ab''') AS r"
        )
        assert r.rows == [["SELECT * FROM t WHERE x = ? AND n = ?"]]


class TestCombinatorsAndFoldTranche:
    """Sixth round-5 tranche: -If combinators over the newly mapped
    aggregates, bitmap aggregate folds, arrayFold, regex helpers."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_if_combinators_on_new_aggregates(self, eng):
        r = eng.execute(
            "SELECT anyHeavyIf(x, x < 2) AS h, "
            "round(kurtPopIf(x, x >= 0), 6) AS k FROM "
            "(SELECT number % 3 AS x FROM numbers(10))"
        )
        assert r.rows[0][0] in (0, 1)  # filtered mode among {0, 1}

    def test_group_bitmap_folds(self, eng):
        r = eng.execute(
            "SELECT groupBitmapAnd(b) AS a FROM "
            "(SELECT bitmapBuild([1,2,3]) AS b "
            "UNION ALL SELECT bitmapBuild([2,3,4]))"
        )
        assert r.rows == [[2]]
        r = eng.execute(
            "SELECT groupBitmapOr(b) AS o FROM "
            "(SELECT bitmapBuild([1,2]) AS b "
            "UNION ALL SELECT bitmapBuild([3]))"
        )
        assert r.rows == [[3]]

    def test_array_fold_and_partial_sort(self, eng):
        r = eng.execute(
            "SELECT arrayFold((acc, x) -> acc + x, [1,2,3], "
            "CAST(0 AS BIGINT)) AS f, arrayPartialSort(2, [3,1,2]) AS s"
        )
        assert r.rows == [[6, [1, 2, 3]]]

    def test_regex_helpers(self, eng):
        r = eng.execute(
            "SELECT countMatches('a1b22c333', '[0-9]+') AS c, "
            "translateUTF8('abc', 'ab', 'xy') AS t, "
            "regexpExtract('a1b2', '([0-9])', 1) AS e"
        )
        assert r.rows == [[3, "xyc", "1"]]


class TestRound5ProbeTranche2:
    """Seventh round-5 tranche: date/math/array/map/search spellings,
    hash capability twins, UDF-backed string distances and codecs,
    and guided refusals for two-pass statistics aggregates."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_date_tranche(self, eng):
        r = eng.execute(
            "SELECT makeDate(2024, 3, 5) AS d, "
            "date_diff('day', toDate('2024-01-01'), "
            "toDate('2024-03-05')) AS dd, "
            "toRelativeDayNum(toDate('2024-03-05')) AS rd, "
            "toRelativeSecondNum(toDateTime('1970-01-02 00:00:00')) AS rs"
        )
        assert [str(r.rows[0][0])] + list(r.rows[0][1:]) == [
            "2024-03-05", 64, 19787, 86400
        ]
        r = eng.execute(
            "SELECT parseDateTime('2024-03-05', '%Y-%m-%d') AS t"
        )
        assert str(r.rows[0][0]).startswith("2024-03-05")

    def test_math_tranche(self, eng):
        r = eng.execute(
            "SELECT exp2(3) AS a, exp10(2) AS b, intExp2(10) AS c, "
            "intExp10(3) AS d, min2(1, 2) AS e, max2(1, 2) AS f, "
            "clamp(5, 1, 3) AS g, countDigits(1234) AS h, "
            "widthBucket(3.5, 0, 10, 5) AS w"
        )
        assert r.rows == [[8.0, 100.0, 1024, 1000, 1, 2, 3, 4, 2]]

    def test_finiteness_predicates(self, eng):
        # double('Infinity') stands in for CH's 1/0 → inf (Spark ANSI
        # raises on the division itself — documented deviation).
        r = eng.execute(
            "SELECT isFinite(1.0) AS a, isInfinite(1.0) AS b, "
            "isFinite(double('Infinity')) AS c, "
            "isInfinite(double('Infinity')) AS d, "
            "isFinite(double('NaN')) AS e"
        )
        assert r.rows == [[True, False, False, True, False]]

    def test_rounding_ladders(self, eng):
        r = eng.execute(
            "SELECT roundDuration(95) AS a, roundDuration(0) AS b, "
            "roundDuration(40000) AS c, roundAge(35) AS d, "
            "roundAge(3) AS e"
        )
        assert r.rows == [[60, 0, 36000, 35, 17]]

    def test_string_search_tranche(self, eng):
        r = eng.execute(
            "SELECT substringIndex('a.b.c', '.', 2) AS a, "
            "alphaTokens('ab1cd2ef') AS b, "
            "countSubstringsCaseInsensitive('Ab_ab', 'ab') AS c, "
            "multiSearchAllPositions('hello world', ['lo', 'world']) AS d, "
            "multiMatchAny('hello', ['x', 'l+']) AS e, "
            "hasSubsequence('hello', 'hlo') AS f, "
            "hasSubsequence('hello', 'oh') AS g, "
            "initcapUTF8('hello world') AS h"
        )
        assert r.rows == [[
            "a.b", ["ab", "cd", "ef"], 2, [4, 7], True, True, False,
            "Hello World",
        ]]

    def test_array_tranche(self, eng):
        r = eng.execute(
            "SELECT arrayShingles([1,2,3,4], 2) AS a, "
            "arrayShingles([1,2], 5) AS b, "
            "arrayCumSumNonNegative([1,-2,3]) AS c, "
            "arrayAUC([0.1,0.4,0.35,0.8], [0,0,1,1]) AS d"
        )
        assert r.rows == [[
            [[1, 2], [2, 3], [3, 4]], [], [1.0, 0.0, 3.0], 0.75
        ]]

    def test_map_tranche(self, eng):
        r = eng.execute(
            "SELECT mapAdd(map(1, 1), map(1, 2, 3, 4)) AS a, "
            "mapSubtract(map(1, 5), map(1, 2)) AS b, "
            "mapPopulateSeries(map(1, 10, 4, 40)) AS c"
        )
        a, b, c = r.rows[0]
        assert dict(a) == {1: 3, 3: 4} and dict(b) == {1: 3}
        assert dict(c) == {1: 10, 2: 0, 3: 0, 4: 40}

    def test_sum_count_and_quantile_deterministic(self, eng):
        r = eng.execute("SELECT sumCount(number) AS sc FROM numbers(10)")
        assert list(r.rows[0][0]) == [45, 10]
        r = eng.execute(
            "SELECT quantileDeterministic(0.5)(number, number) AS q "
            "FROM numbers(101)"
        )
        assert r.rows == [[50.0]]

    def test_hash_capability_twins(self, eng):
        r = eng.execute(
            "SELECT metroHash64('abc') AS a, wyHash64('abc') AS b, "
            "xxHash3('abc') AS c, xxHash32('abc') AS d, "
            "murmurHash3_128('abc') AS e, sipHash128('abc') AS f"
        )
        row = r.rows[0]
        assert row[0] == row[1] == row[2]  # all xxhash64 twins
        assert isinstance(row[3], int)
        assert row[4] == row[5] and len(row[4]) == 32  # md5 hex

    def test_format_readable(self, eng):
        r = eng.execute(
            "SELECT formatReadableDecimalSize(123456789) AS a, "
            "formatReadableTimeDelta(3661) AS b, "
            "formatReadableTimeDelta(5) AS c"
        )
        assert r.rows == [[
            "123.46 MB", "1 hours, 1 minutes, 1 seconds", "5 seconds"
        ]]

    def test_udf_backed_string_distances(self, eng):
        r = eng.execute(
            "SELECT damerauLevenshteinDistance('abc', 'acb') AS a, "
            "round(jaroSimilarity('abc', 'abd'), 6) AS b, "
            "round(jaroWinklerSimilarity('martha', 'marhta'), 6) AS c"
        )
        assert r.rows == [[1, 0.777778, 0.961111]]

    def test_udf_backed_codecs(self, eng):
        r = eng.execute(
            "SELECT base58Encode('abc') AS a, "
            "base58Decode(base58Encode('hello')) AS b, "
            "punycodeEncode('münchen') AS c, "
            "punycodeDecode('mnchen-3ya') AS d"
        )
        assert r.rows == [["ZiCa", "hello", "mnchen-3ya", "münchen"]]

    def test_udf_backed_special_math(self, eng):
        import math

        r = eng.execute(
            "SELECT erf(1.0) AS a, erfc(1.0) AS b, lgamma(5.0) AS c, "
            "tgamma(5.0) AS d"
        )
        row = r.rows[0]
        assert abs(row[0] - math.erf(1.0)) < 1e-12
        assert abs(row[1] - math.erfc(1.0)) < 1e-12
        assert abs(row[2] - math.lgamma(5.0)) < 1e-12
        assert abs(row[3] - 24.0) < 1e-9

    def test_untuple_expands(self, eng):
        r = eng.execute(
            "SELECT untuple(t) FROM (SELECT tuple(1, 2) AS t)"
        )
        assert r.rows == [[1, 2]] and len(r.cols) == 2

    def test_guided_refusals(self, eng):
        for expr, hint in [
            # max/minMap over Map columns implemented in round 6;
            # the two-array tuple form still refuses.
            # arraySplit (bounds-slice expansion) and the maxMap
            # two-array form graduated in round 7; stem('en', ...)
            # graduated late-r7 (Porter 1980) — non-English keeps
            # the Snowball guided error.
            ("stem('de', 'laufen')", "Snowball"),
            ("formatRow('CSV', 1)", "FORMAT"),
            ("wordShingleMinHash('x')", "dedup"),
        ]:
            with pytest.raises(ValueError, match=hint.replace("(", "")):
                eng.execute(f"SELECT {expr} FROM (SELECT 1 AS x, 2 AS y)")


class TestRound7ProbeTranche:
    """Round-7 tranche (VERDICT r6 Next #7): kolmogorovSmirnovTest as
    a real O(n) tie-aware aggregate, byteSize via typeof type-walk,
    tuple-arithmetic field-wise expansion over inline tuples."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_ks_test_values(self, eng):
        import math

        r = eng.execute(
            "SELECT kolmogorovSmirnovTest(v, i) AS ks FROM (SELECT "
            "arrayJoin([1.0, 2.0, 3.0, 2.5]) AS v, 0 AS i UNION ALL "
            "SELECT arrayJoin([2.5, 3.5, 4.0]) AS v, 1 AS i)"
        )
        d, p = r.rows[0][0]
        assert abs(d - 2 / 3) < 1e-12
        lam2 = d * d * 4 * 3 / 7
        expect_p = 2 * sum(
            (-1) ** (k - 1) * math.exp(-2 * k * k * lam2)
            for k in range(1, 101)
        )
        assert abs(p - min(1.0, max(0.0, expect_p))) < 1e-12

    def test_ks_test_tie_awareness(self, eng):
        # All values identical → D must be 0 (a mid-tie comparison
        # would report |c0/n0 - c1/n1| > 0 part-way through).
        r = eng.execute(
            "SELECT kolmogorovSmirnovTest(v, i) AS ks FROM (SELECT "
            "1.0 AS v, 0 AS i UNION ALL SELECT 1.0, 1 "
            "UNION ALL SELECT 1.0, 0)"
        )
        # D = 0 AND p = 1 (λ²→0 breaks the truncated alternating
        # series — the builder must special-case it, not report ~0).
        assert r.rows[0][0][0] == 0.0
        assert r.rows[0][0][1] == 1.0

    def test_ks_test_parameterized_and_refusals(self, eng):
        r = eng.execute(
            "SELECT kolmogorovSmirnovTest('two-sided', 'asymp')"
            "(number, number % 2) AS ks FROM numbers(20)"
        )
        assert 0.0 <= r.rows[0][0][1] <= 1.0
        # method 'exact' graduated in round 8 (TestKsExactMethod);
        # it must execute, not refuse
        r2 = eng.execute(
            "SELECT kolmogorovSmirnovTest('two-sided', 'exact')"
            "(number * 1.0, number % 2) AS ks FROM numbers(4)"
        )
        assert 0.0 <= r2.rows[0][0][1] <= 1.0
        with pytest.raises(ValueError, match="two-sided"):
            eng.execute(
                "SELECT kolmogorovSmirnovTest('greater')"
                "(number, number % 2) FROM numbers(4)"
            )

    def test_mwu_values(self, eng):
        import math

        # samples: [1,2,3] vs [2,4] → R0 = 1 + 2.5 + 4 = 7.5,
        # U0 = 1.5, u = min(1.5, 4.5); one tie run of 2 → Σ(t³−t)=6.
        r = eng.execute(
            "SELECT mannWhitneyUTest(v, i) AS m FROM (SELECT "
            "arrayJoin([1.0, 2.0, 3.0]) AS v, 0 AS i UNION ALL "
            "SELECT arrayJoin([2.0, 4.0]) AS v, 1 AS i)"
        )
        u, p = r.rows[0][0]
        assert u == 1.5
        sigma2 = (6 / 12) * (6 - 6 / 20)
        expect = math.erfc((3 - 1.5 - 0.5) / math.sqrt(2 * sigma2))
        assert abs(p - min(1.0, max(0.0, expect))) < 1e-12

    def test_mwu_no_continuity_and_degenerate(self, eng):
        import math

        r = eng.execute(
            "SELECT mannWhitneyUTest('two-sided', 0)(v, i) AS m "
            "FROM (SELECT arrayJoin([1.0, 2.0, 3.0]) AS v, 0 AS i "
            "UNION ALL SELECT arrayJoin([2.0, 4.0]) AS v, 1 AS i)"
        )
        _u, p = r.rows[0][0]
        sigma2 = (6 / 12) * (6 - 6 / 20)
        expect = math.erfc((3 - 1.5) / math.sqrt(2 * sigma2))
        assert abs(p - min(1.0, max(0.0, expect))) < 1e-12
        # all-tied: σ² = 0 → p = 1, no divide-by-zero (the pandas-UDF
        # eager-projection trap).
        r = eng.execute(
            "SELECT mannWhitneyUTest(v, i) AS m FROM (SELECT 1.0 AS "
            "v, 0 AS i UNION ALL SELECT 1.0, 1)"
        )
        assert r.rows[0][0][1] == 1.0
        with pytest.raises(ValueError, match="two-sided"):
            eng.execute(
                "SELECT mannWhitneyUTest('less')(v, i) FROM "
                "(SELECT 1.0 AS v, 0 AS i)"
            )

    def test_byte_size_widths(self, eng):
        r = eng.execute(
            "SELECT byteSize(CAST(1 AS Int64)) AS a, "
            "byteSize('hello') AS b, "
            "byteSize(toDate('2024-01-02')) AS c, "
            "byteSize(CAST(1.5 AS Decimal(18,2))) AS d, "
            "byteSize(CAST(1 AS Int8)) AS e, "
            "byteSize(CAST(1.5 AS Float32)) AS f"
        )
        # ENGINE widths (documented divergence: Date is 4 here, 2 in
        # CH); String follows CH's length+9.
        assert r.rows == [[8, 14, 4, 8, 1, 4]]

    def test_byte_size_composite_guided(self, eng):
        with pytest.raises(Exception, match="per-field expansion"):
            eng.execute("SELECT byteSize(array(1, 2)) AS z")

    def test_tuple_arithmetic(self, eng):
        r = eng.execute(
            "SELECT tuplePlus(tuple(1, 2), tuple(10, 20)) AS a, "
            "tupleMinus(tuple(10, 20), tuple(1, 2)) AS b, "
            "tupleMultiply(tuple(2, 3), tuple(4, 5)) AS c, "
            "tupleNegate(tuple(1, 2)) AS d, "
            "tupleMultiplyByNumber(tuple(1, 2), 3) AS e, "
            "tupleDivideByNumber(tuple(9.0, 6.0), 3) AS f"
        )
        row = r.rows[0]
        assert tuple(row[0]) == (11, 22)
        assert tuple(row[1]) == (9, 18)
        assert tuple(row[2]) == (8, 15)
        assert tuple(row[3]) == (-1, -2)
        assert tuple(row[4]) == (3, 6)
        assert tuple(row[5]) == (3.0, 2.0)

    def test_tuple_concat(self, eng):
        r = eng.execute(
            "SELECT tupleConcat(tuple(1), tuple('a', 2)) AS t"
        )
        assert tuple(r.rows[0][0]) == (1, "a", 2)

    @pytest.fixture(scope="class")
    def ttview(self, eng):
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __tt7 AS SELECT * FROM "
            "VALUES (1.0,0),(2.0,0),(3.0,0),(4.0,0),(2.5,1),(3.5,1),"
            "(4.5,1) AS t(v,i)"
        )
        return "__tt7"

    def test_student_t_test(self, eng, ttview):
        import math

        t_, p_ = eng.execute(
            f"SELECT studentTTest(v, i) AS r FROM {ttview}"
        ).rows[0][0]
        m0, m1, n0, n1, s0, s1 = 2.5, 3.5, 4, 3, 5 / 3, 1.0
        sp2 = ((n0 - 1) * s0 + (n1 - 1) * s1) / (n0 + n1 - 2)
        expect_t = (m0 - m1) / math.sqrt(sp2 * (1 / n0 + 1 / n1))
        assert abs(t_ - expect_t) < 1e-12
        assert 0.31 < p_ < 0.33  # two-sided p at t=-1.107, df=5

    def test_welch_t_test_and_published_anchor(self, eng, ttview):
        import math

        from bighouse_spark.functions.miscfuncs import _t_pvalue2

        tw, pw = eng.execute(
            f"SELECT welchTTest(v, i) AS r FROM {ttview}"
        ).rows[0][0]
        m0, m1, n0, n1, s0, s1 = 2.5, 3.5, 4, 3, 5 / 3, 1.0
        se = math.sqrt(s0 / n0 + s1 / n1)
        assert abs(tw - (m0 - m1) / se) < 1e-12
        df = (s0 / n0 + s1 / n1) ** 2 / (
            (s0 / n0) ** 2 / (n0 - 1) + (s1 / n1) ** 2 / (n1 - 1)
        )
        assert abs(pw - _t_pvalue2(tw, df)) < 1e-12
        # Published t-table anchor: P(|T|>2.228) at df=10 is 0.05.
        assert abs(_t_pvalue2(2.228, 10) - 0.05) < 1e-4

    def test_mean_z_test(self, eng, ttview):
        import math

        z, p, lo, hi = eng.execute(
            f"SELECT meanZTest(1.5, 1.2, 0.95)(v, i) AS r "
            f"FROM {ttview}"
        ).rows[0][0]
        se = math.sqrt(1.5 / 4 + 1.2 / 3)
        assert abs(z - (-1.0) / se) < 1e-12
        assert abs(p - math.erfc(abs(z) / math.sqrt(2))) < 1e-12
        # CI uses the z-quantile (Acklam approx, ~1e-9): 1.959964.
        assert abs(lo - (-1.0 - 1.959963985 * se)) < 1e-7
        assert abs(hi - (-1.0 + 1.959963985 * se)) < 1e-7
        with pytest.raises(ValueError, match="t-distribution"):
            eng.execute(
                f"SELECT studentTTest(0.95)(v, i) FROM {ttview}"
            )
        with pytest.raises(ValueError, match="parameters"):
            eng.execute(f"SELECT meanZTest(v, i) FROM {ttview}")

    def test_t_test_degenerate_is_nan(self, eng):
        import math

        t_, p_ = eng.execute(
            "SELECT studentTTest(v, i) AS r FROM "
            "(SELECT 1.0 AS v, 0 AS i UNION ALL SELECT 2.0, 1)"
        ).rows[0][0]
        assert math.isnan(t_) and math.isnan(p_)

    def test_exponential_time_decayed_windows(self, eng):
        import math

        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __etd7 AS SELECT * FROM "
            "VALUES (0.0, 1.0), (1.0, 2.0), (2.0, 4.0), (3.0, 8.0) "
            "AS t(t, v)"
        )
        frame = (
            "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW)"
        )
        r = eng.execute(
            f"SELECT t, exponentialTimeDecayedSum(2)(v, t) {frame} "
            f"AS s, exponentialTimeDecayedAvg(2)(v, t) {frame} AS a, "
            f"exponentialTimeDecayedCount(2)(t) {frame} AS c, "
            f"exponentialTimeDecayedMax(2)(v, t) {frame} AS m "
            f"FROM __etd7 ORDER BY t"
        )
        pts = [(0, 1), (1, 2), (2, 4), (3, 8)]
        num = sum(v * math.exp((t - 3) / 2) for t, v in pts)
        den = sum(math.exp((t - 3) / 2) for t, _v in pts)
        last = r.rows[-1]
        assert abs(last[1] - num) < 1e-12
        assert abs(last[2] - num / den) < 1e-12
        assert abs(last[3] - den) < 1e-12
        assert abs(
            last[4] - max(v * math.exp((t - 3) / 2) for t, v in pts)
        ) < 1e-12
        # first row: frame = itself → weight 1
        assert r.rows[0][1] == 1.0
        with pytest.raises(ValueError, match="window function"):
            eng.execute(
                "SELECT exponentialTimeDecayedSum(2)(v, t) FROM __etd7"
            )
        # Anchor is the CURRENT ROW's time (CH semantics): with a
        # whole-partition frame, each row sees a different value
        # (future rows weighted ABOVE 1). Also: OVER( without a
        # space parses.
        r2 = eng.execute(
            "SELECT t, exponentialTimeDecayedSum(2)(v, t) "
            "OVER(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "UNBOUNDED FOLLOWING) AS s FROM __etd7 ORDER BY t"
        )
        for trow, s in r2.rows:
            expect = sum(
                v * math.exp((t - float(trow)) / 2) for t, v in pts
            )
            assert abs(s - expect) < 1e-12
        assert len({round(s, 9) for _t, s in r2.rows}) == 4
        # All-NULL frame: Max yields NULL, not a -Infinity sentinel.
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __etdn7 AS SELECT * FROM "
            "VALUES (0.0, CAST(NULL AS DOUBLE)), (1.0, 2.0) AS t(t, v)"
        )
        rn = eng.execute(
            "SELECT t, exponentialTimeDecayedMax(2)(v, t) "
            "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW) AS m FROM __etdn7 ORDER BY t"
        )
        assert rn.rows[0][1] is None
        assert abs(rn.rows[1][1] - 2.0) < 1e-12

    def test_stats_null_handling(self, eng):
        import math

        # NULL value/idx rows are SKIPPED (CH semantics), never
        # merged into tie runs, counted into n, or crashed on as
        # map keys. Results must equal the NULL-free equivalents.
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __nh7 AS "
            "SELECT * FROM VALUES "
            "(1.0, 0), (2.0, 0), (3.0, 0), (2.5, 0), "
            "(CAST(NULL AS DOUBLE), 0), "
            "(2.5, 1), (3.5, 1), (4.0, 1), "
            "(CAST(NULL AS DOUBLE), 1) AS t(v, i)"
        )
        ks = eng.execute(
            "SELECT kolmogorovSmirnovTest(v, i) AS r FROM __nh7"
        ).rows[0][0]
        assert abs(ks[0] - 2 / 3) < 1e-12  # same D as the null-free set
        mwu_with = eng.execute(
            "SELECT mannWhitneyUTest(v, i) AS r FROM __nh7"
        ).rows[0][0]
        mwu_clean = eng.execute(
            "SELECT mannWhitneyUTest(v, i) AS r FROM __nh7 "
            "WHERE v IS NOT NULL"
        ).rows[0][0]
        assert mwu_with == mwu_clean
        t_with = eng.execute(
            "SELECT studentTTest(v, i) AS r FROM __nh7"
        ).rows[0][0]
        t_clean = eng.execute(
            "SELECT studentTTest(v, i) AS r FROM __nh7 "
            "WHERE v IS NOT NULL"
        ).rows[0][0]
        assert t_with == t_clean
        # single-sample group: p = 1, no DIVIDE_BY_ZERO
        deg = eng.execute(
            "SELECT mannWhitneyUTest(v, i) AS r FROM "
            "(SELECT 1.0 AS v, 0 AS i)"
        ).rows[0][0]
        assert deg[1] == 1.0
        ks_deg = eng.execute(
            "SELECT kolmogorovSmirnovTest(v, i) AS r FROM "
            "(SELECT 1.0 AS v, 0 AS i)"
        ).rows[0][0]
        assert not math.isinf(ks_deg[0])
        # contingency family: NULL categories are pairwise-deleted,
        # not NULL map keys.
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __nhct7 AS SELECT * FROM "
            "VALUES ('a', 'p'), ('a', 'q'), ('b', 'p'), ('b', 'q'), "
            "(CAST(NULL AS STRING), 'p'), "
            "('a', CAST(NULL AS STRING)) AS t(x, y)"
        )
        v = eng.execute(
            "SELECT cramersV(x, y) AS v FROM __nhct7"
        ).rows[0][0]  # executes without NULL_MAP_KEY
        v_clean = eng.execute(
            "SELECT cramersV(x, y) AS v FROM __nhct7 "
            "WHERE x IS NOT NULL AND y IS NOT NULL"
        ).rows[0][0]
        assert (v == v_clean) or (
            math.isnan(v) and math.isnan(v_clean)
        )
        # mwu continuity: numeric zero spellings disable the 0.5.
        p_00 = eng.execute(
            "SELECT mannWhitneyUTest('two-sided', 0.0)(v, i) AS r "
            "FROM __nh7 WHERE v IS NOT NULL"
        ).rows[0][0][1]
        p_0 = eng.execute(
            "SELECT mannWhitneyUTest('two-sided', 0)(v, i) AS r "
            "FROM __nh7 WHERE v IS NOT NULL"
        ).rows[0][0][1]
        assert p_00 == p_0

    def test_proportions_z_test(self, eng):
        import math

        z, p, lo, hi = eng.execute(
            "SELECT proportionsZTest(30, 10, 40, 40, 0.95, "
            "'pooled') AS r"
        ).rows[0][0]
        p1, p2, pp = 0.75, 0.25, 0.5
        se = math.sqrt(pp * (1 - pp) * (2 / 40))
        assert abs(z - (p1 - p2) / se) < 1e-12
        assert abs(p - math.erfc(abs(z) / math.sqrt(2))) < 1e-12
        seu = math.sqrt(p1 * 0.25 / 40 + p2 * 0.75 / 40)
        assert abs(lo - (0.5 - 1.959963986 * seu)) < 1e-7
        assert abs(hi - (0.5 + 1.959963986 * seu)) < 1e-7
        un = eng.execute(
            "SELECT proportionsZTest(30, 10, 40, 40, 0.95, "
            "'unpooled') AS r"
        ).rows[0][0]
        assert abs(un[0] - 0.5 / seu) < 1e-12
        with pytest.raises(ValueError, match="pooled"):
            eng.execute(
                "SELECT proportionsZTest(1, 2, 3, 4, 0.95, 'weird')"
            )

    def test_contingency_family_known_2x2(self, eng):
        import math

        rows = []
        for x, y, c in [("a", "p", 30), ("a", "q", 10),
                        ("b", "p", 10), ("b", "q", 30)]:
            rows += [(x, y)] * c
        vals = ", ".join(f"('{x}','{y}')" for x, y in rows)
        eng.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW __ct7 AS SELECT * FROM "
            f"VALUES {vals} AS t(x, y)"
        )
        # e = 20 everywhere → χ² = 20; V = √(20/80); C = √(20/100).
        v = eng.execute(
            "SELECT cramersV(x, y) AS v FROM __ct7"
        ).rows[0][0]
        assert abs(v - 0.5) < 1e-12
        c = eng.execute(
            "SELECT contingency(x, y) AS v FROM __ct7"
        ).rows[0][0]
        assert abs(c - math.sqrt(0.2)) < 1e-12
        phi2t = max(0, 0.25 - 1 / 79)
        rt = 2 - 1 / 79
        vb = eng.execute(
            "SELECT cramersVBiasCorrected(x, y) AS v FROM __ct7"
        ).rows[0][0]
        assert abs(vb - math.sqrt(phi2t / (rt - 1))) < 1e-12
        hcond = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
        u = eng.execute(
            "SELECT theilsU(x, y) AS v FROM __ct7"
        ).rows[0][0]
        assert abs(u - (1 - hcond)) < 1e-12
        import math as _m

        deg = eng.execute(
            "SELECT cramersV(x, y) AS v FROM "
            "(SELECT 'a' AS x, 'p' AS y)"
        ).rows[0][0]
        assert _m.isnan(deg)

    def test_categorical_information_value(self, eng):
        import math

        rows = []
        for v, t, c in [("a", 1, 30), ("a", 0, 10),
                        ("b", 1, 10), ("b", 0, 30)]:
            rows += [(v, t)] * c
        vals = ", ".join(f"('{x}',{t})" for x, t in rows)
        eng.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW __civ7 AS SELECT * FROM "
            f"VALUES {vals} AS t(v, tag)"
        )
        out = eng.execute(
            "SELECT categoricalInformationValue(v, tag) AS iv "
            "FROM __civ7"
        ).rows[0][0]
        assert abs(out[0] - math.log(3)) < 1e-12
        multi = eng.execute(
            "SELECT categoricalInformationValue(v, v, tag) AS iv "
            "FROM __civ7"
        ).rows[0][0]
        assert len(multi) == 2
        # Zero-cell convention: absent-from-one-class values add 0.
        z = eng.execute(
            "SELECT categoricalInformationValue(v, tag) AS iv FROM "
            "(SELECT 'a' AS v, 1 AS tag UNION ALL SELECT 'b', 1)"
        ).rows[0][0]
        assert z == [0.0]
        # Rows with NULL in ANY argument are skipped entirely (same
        # policy as the contingency family).
        with_null = eng.execute(
            "SELECT categoricalInformationValue(v, tag) AS iv FROM "
            "(SELECT v, tag FROM __civ7 UNION ALL "
            "SELECT CAST(NULL AS STRING), 1 UNION ALL "
            "SELECT 'a', CAST(NULL AS INT))"
        ).rows[0][0]
        assert abs(with_null[0] - math.log(3)) < 1e-12

    def test_entropy_values(self, eng):
        import math

        r = eng.execute(
            "SELECT entropy(number % 4) AS h FROM numbers(8)"
        )
        assert abs(r.rows[0][0] - 2.0) < 1e-12  # uniform over 4
        r = eng.execute(
            "SELECT entropy(v) AS h FROM "
            "(SELECT explode(array('a','a','a','b')) AS v)"
        )
        expect = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
        assert abs(r.rows[0][0] - expect) < 1e-12
        r = eng.execute("SELECT entropy(number) AS h FROM numbers(1)")
        assert r.rows[0][0] == 0.0

    def test_lttb_matches_reference(self, eng):
        import math

        def lttb_ref(pts, n):
            pts = sorted(pts)
            big_n = len(pts)
            if big_n <= n:
                return pts
            if n <= 0:
                return []
            if n == 1:
                return [pts[0]]
            if n == 2:
                return [pts[0], pts[-1]]
            every = (big_n - 2) / (n - 2)
            sel = [pts[0]]
            for i in range(n - 2):
                bs = 2 + int(i * every)
                be = 2 + int((i + 1) * every)
                ne = min(int(2 + (i + 2) * every), big_n + 1)
                nxt = pts[be - 1:ne - 1]
                cx = sum(p[0] for p in nxt) / len(nxt)
                cy = sum(p[1] for p in nxt) / len(nxt)
                ax, ay = sel[-1]
                best, best_a = None, -1.0
                for p in pts[bs - 1:be - 1]:
                    area = abs(
                        (ax - cx) * (p[1] - ay) - (ax - p[0]) * (cy - ay)
                    )
                    if area > best_a:
                        best, best_a = p, area
                sel.append(best)
            sel.append(pts[-1])
            return sel

        pts = [
            (float(i), math.sin(i / 3.0) * 10 + (i % 7))
            for i in range(50)
        ]
        vals = ", ".join(f"({x}, {y})" for x, y in pts)
        eng.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW __lttb7 AS SELECT * FROM "
            f"VALUES {vals} AS t(x, y)"
        )
        for n in (3, 10, 25, 50, 60, 2, 1, 0):
            r = eng.execute(
                f"SELECT largestTriangleThreeBuckets({n})(x, y) "
                f"AS d FROM __lttb7"
            )
            got = [(p[0], p[1]) for p in r.rows[0][0]]
            assert got == lttb_ref(pts, n), n
        with pytest.raises(ValueError, match="parameter"):
            eng.execute(
                "SELECT largestTriangleThreeBuckets(x, y) FROM __lttb7"
            )

    def test_estimate_compression_ratio(self, eng):
        # Backed by the round-7 wire LZ4 codec as a grouped-agg UDF.
        r = eng.execute(
            "SELECT estimateCompressionRatio(s) AS r FROM "
            "(SELECT repeat('abc', 100) AS s FROM numbers(50))"
        )
        assert r.rows[0][0] > 5  # highly repetitive input compresses
        r = eng.execute(
            "SELECT estimateCompressionRatio('none')(number) AS r "
            "FROM numbers(10)"
        )
        assert r.rows[0][0] == 1.0
        r = eng.execute(
            "SELECT number % 2 AS g, "
            "estimateCompressionRatio('lz4')(toString(number)) AS r "
            "FROM numbers(100) GROUP BY g ORDER BY g"
        )
        assert len(r.rows) == 2 and all(row[1] > 0 for row in r.rows)
        with pytest.raises(ValueError, match="lz4"):
            eng.execute(
                "SELECT estimateCompressionRatio('zstd')(number) "
                "FROM numbers(10)"
            )

    def test_tuple_column_ref_guided(self, eng):
        with pytest.raises(ValueError, match="inline"):
            eng.execute(
                "SELECT tuplePlus(t, t) FROM (SELECT tuple(1,2) AS t)"
            )
        # flattenTuple graduated in round 7: nested inline tuples
        # flatten field-wise.
        r = eng.execute(
            "SELECT flattenTuple(tuple(tuple(1, 2), 3)) AS t"
        )
        assert list(r.rows[0][0]) == [1, 2, 3]


class TestRound7StatsGraduations:
    """Round-7 second tranche: rankCorr (Spearman), sumArgMin/Max,
    minSampleSizeConversion/Continous — former guided refusals
    graduated to implementations."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_rankcorr_values(self, eng):
        # Monotone relation → ρ = 1 exactly, anti-monotone → −1.
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __rc7 AS SELECT * FROM VALUES "
            "(1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 70.0) "
            "AS t(x, y)"
        )
        r = eng.execute(
            "SELECT rankCorr(x, y) AS up, rankCorr(x, -y) AS down "
            "FROM __rc7"
        )
        assert abs(r.rows[0][0] - 1.0) < 1e-12
        assert abs(r.rows[0][1] + 1.0) < 1e-12
        # Tie-averaged ranks: hand-computed Spearman on a tied set.
        # x = [1,2,2,3], y = [10,30,20,40]:
        # rx = [1, 2.5, 2.5, 4], ry = [1, 3, 2, 4] → ρ = 27/(√4.5·√5)
        r = eng.execute(
            "SELECT rankCorr(x, y) AS r FROM (SELECT * FROM VALUES "
            "(1.0, 10.0), (2.0, 30.0), (2.0, 20.0), (3.0, 40.0) "
            "AS t(x, y))"
        )
        import math

        rx = [1, 2.5, 2.5, 4]
        ry = [1, 3, 2, 4]
        mx, my = 2.5, 2.5
        num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        den = math.sqrt(
            sum((a - mx) ** 2 for a in rx)
            * sum((b - my) ** 2 for b in ry)
        )
        assert abs(r.rows[0][0] - num / den) < 1e-12
        # NULL pairs are dropped; n < 2 or constant side → NaN.
        r = eng.execute(
            "SELECT rankCorr(x, y) AS a FROM (SELECT * FROM VALUES "
            "(1.0, 10.0), (2.0, 20.0), (CAST(NULL AS DOUBLE), 99.0), "
            "(3.0, CAST(NULL AS DOUBLE)), (3.0, 30.0) AS t(x, y))"
        )
        assert abs(r.rows[0][0] - 1.0) < 1e-12
        r = eng.execute(
            "SELECT rankCorr(x, y) AS a FROM "
            "(SELECT 1.0 AS x, 2.0 AS y)"
        )
        import math as _m

        assert _m.isnan(r.rows[0][0])
        r = eng.execute(
            "SELECT rankCorr(x, y) AS a FROM (SELECT * FROM VALUES "
            "(1.0, 5.0), (2.0, 5.0), (3.0, 5.0) AS t(x, y))"
        )
        assert _m.isnan(r.rows[0][0])
        # Grouped: per-group independent ρ.
        r = eng.execute(
            "SELECT g, rankCorr(x, y) AS r FROM (SELECT * FROM VALUES "
            "(0, 1.0, 1.0), (0, 2.0, 2.0), (1, 1.0, 2.0), "
            "(1, 2.0, 1.0) AS t(g, x, y)) GROUP BY g ORDER BY g"
        )
        assert abs(r.rows[0][1] - 1.0) < 1e-12
        assert abs(r.rows[1][1] + 1.0) < 1e-12

    def test_sum_arg_min_max(self, eng):
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __sam7 AS SELECT * FROM VALUES "
            "(1, 10, 'a'), (1, 20, 'a'), (2, 30, 'a'), "
            "(1, 5, 'b'), (3, 7, 'b') AS t(k, x, g)"
        )
        # ALL rows tied at the extreme sum (min_by/max_by would keep
        # only one winner).
        r = eng.execute(
            "SELECT g, sumArgMin(x, k) AS lo, sumArgMax(x, k) AS hi "
            "FROM __sam7 GROUP BY g ORDER BY g"
        )
        assert r.rows == [["a", 30, 30], ["b", 5, 7]]
        # Integer sums stay integral (no double widening).
        assert isinstance(r.rows[0][1], int)
        # String keys compare lexicographically; NULL k/x rows skip.
        r = eng.execute(
            "SELECT sumArgMin(x, s) AS lo FROM (SELECT * FROM VALUES "
            "(CAST(1.5 AS DOUBLE), 'b'), (2.5, 'a'), (3.5, 'a'), "
            "(9.0, CAST(NULL AS STRING)), "
            "(CAST(NULL AS DOUBLE), 'a') AS t(x, s))"
        )
        assert abs(r.rows[0][0] - 6.0) < 1e-12
        # All-NULL group → NULL.
        r = eng.execute(
            "SELECT sumArgMax(x, k) AS v FROM (SELECT "
            "CAST(NULL AS BIGINT) AS x, 1 AS k)"
        )
        assert r.rows[0][0] is None

    def test_sum_arg_decimal_and_nonfinite(self, eng):
        # DECIMAL input: the fold accumulator must be type-stable
        # (decimal addition grows precision per step — the init
        # chain saturates it at 38 first). Review finding, verified
        # live before the fix: AnalysisException DATATYPE_MISMATCH.
        r = eng.execute(
            "SELECT sumArgMin(x, k) AS lo, sumArgMax(x, k) AS hi "
            "FROM (SELECT * FROM VALUES "
            "(CAST(1.25 AS DECIMAL(15,2)), 1), "
            "(CAST(2.50 AS DECIMAL(15,2)), 1), "
            "(CAST(9.75 AS DECIMAL(15,2)), 2) AS t(x, k))"
        )
        assert float(r.rows[0][0]) == 3.75
        assert float(r.rows[0][1]) == 9.75
        # An Inf/NaN x OUTSIDE the extreme-k rows must not poison
        # the sum (the old x−x typed zero became NaN).
        r = eng.execute(
            "SELECT sumArgMin(x, k) AS lo FROM (SELECT * FROM VALUES "
            "(CAST('Infinity' AS DOUBLE), 5), "
            "(CAST('NaN' AS DOUBLE), 4), (1.0, 1), (2.5, 1) "
            "AS t(x, k))"
        )
        assert abs(r.rows[0][0] - 3.5) < 1e-12

    def test_min_sample_size(self, eng):
        import math

        # z_{0.975} = 1.959964, z_{0.8} = 0.841621 (Acklam probit is
        # accurate to ~1e-9, anchors to 6 significant digits).
        z = 1.9599639845400545 + 0.8416212335729143
        r = eng.execute(
            "SELECT minSampleSizeConversion(0.25, 0.05, 0.80, 0.05) "
            "AS m"
        )
        row = r.rows[0][0]
        p1, p2 = 0.25, 0.30
        expect = z * z * (p1 * (1 - p1) + p2 * (1 - p2)) / 0.05**2
        assert abs(row[0] - expect) < 1e-6 * expect
        assert abs(row[1] - 0.20) < 1e-12
        assert abs(row[2] - 0.30) < 1e-12
        # Continuous (CH spells it Continous; both accepted): mde is
        # relative to the baseline mean.
        for name in (
            "minSampleSizeContinous", "minSampleSizeContinuous"
        ):
            r = eng.execute(
                f"SELECT {name}(112.25, 21.1, 0.03, 0.80, 0.05) AS m"
            )
            row = r.rows[0][0]
            expect = (
                z * z * 2 * 21.1**2 / (112.25 * 0.03) ** 2
            )
            assert abs(row[0] - expect) < 1e-6 * expect
            assert abs(row[1] - 112.25 * 0.97) < 1e-9
            assert abs(row[2] - 112.25 * 1.03) < 1e-9
        # Degenerate: mde = 0 (division guard) and zero baseline on
        # the continuous form → NaN struct, no DIVIDE_BY_ZERO.
        r = eng.execute(
            "SELECT minSampleSizeConversion(0.25, 0.0, 0.8, 0.05) "
            "AS a, minSampleSizeContinuous(0.0, 1.0, 0.03, 0.8, "
            "0.05) AS b"
        )
        assert math.isnan(r.rows[0][0][0])
        assert math.isnan(r.rows[0][1][0])

    def test_anova(self, eng):
        import math

        # Hand-computed one-way ANOVA: groups [1,2,3], [2,3,4],
        # [5,6,7] → SSB = 26, SSW = 6, F = (26/2)/(6/6) = 13; with
        # df1 = 2 the survival has the closed form
        # (1 + 2F/df2)^(−df2/2) = (6/32)³.
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __av7 AS SELECT * FROM VALUES "
            "(0, 1.0), (0, 2.0), (0, 3.0), (1, 2.0), (1, 3.0), "
            "(1, 4.0), (2, 5.0), (2, 6.0), (2, 7.0) AS t(g, x)"
        )
        for name in ("analysisOfVariance", "anova"):
            r = eng.execute(f"SELECT {name}(x, g) AS a FROM __av7")
            f, p = r.rows[0][0]
            assert abs(f - 13.0) < 1e-9
            assert abs(p - (6.0 / 32.0) ** 3) < 1e-9
        # NULL x or group rows skip (CH aggregate semantics).
        r = eng.execute(
            "SELECT anova(x, g) AS a FROM (SELECT * FROM VALUES "
            "(0, 1.0), (0, CAST(NULL AS DOUBLE)), (1, 2.0), "
            "(CAST(NULL AS INT), 9.0), (1, 4.0) AS t(g, x))"
        )
        f, p = r.rows[0][0]
        # groups {0:[1]}, {1:[2,4]}: SSB = 8/3, SSW = 2, F = 4/3.
        # df1 = df2 = 1: F = t² with t ~ Cauchy, so the survival is
        # the two-sided Cauchy tail (2/π)·arctan(1/√F).
        assert abs(f - 4.0 / 3.0) < 1e-9
        assert abs(
            p - (2 / math.pi) * math.atan(1 / math.sqrt(4.0 / 3.0))
        ) < 1e-9
        # Degenerates: one group, and N == k (no within df) → NaN.
        r = eng.execute(
            "SELECT anova(x, 0) AS one, "
            "(SELECT anova(x, g) FROM (SELECT * FROM VALUES "
            "(0, 1.0), (1, 5.0) AS t(g, x))) AS sat FROM __av7"
        )
        assert math.isnan(r.rows[0][0][0])
        assert math.isnan(r.rows[0][1][1])
        # Grouped outer GROUP BY: per-group independent ANOVA. (The
        # inner VALUES keeps numeric firsts — a leading string
        # literal is a schema string in CH's values() semantics.)
        r = eng.execute(
            "SELECT k, anova(x, g) AS a FROM (SELECT * FROM VALUES "
            "(7, 0, 1.0), (7, 0, 2.0), (7, 1, 9.0), "
            "(7, 1, 10.0), (8, 0, 5.0), (8, 1, 5.0), "
            "(8, 0, 5.0), (8, 1, 5.0) AS t(k, g, x)) "
            "GROUP BY k ORDER BY k"
        )
        assert r.rows[0][1][0] > 100  # well-separated means
        assert r.rows[1][1][0] < 1e-9  # identical means → F ≈ 0
        # String group ids work (boundary equality on string form).
        r = eng.execute(
            "SELECT anova(x, s) AS a FROM (SELECT "
            "IF(x < 5, 'lo', 'hi') AS s, x FROM (SELECT * FROM "
            "VALUES (1.0), (2.0), (8.0), (9.0) AS t(x)))"
        )
        assert r.rows[0][0][0] > 10


class TestRound5ProbeTranche3:
    """Eighth round-5 tranche: -Distinct/-OrNull/-OrDefault
    combinators, uniqUpTo, calendar epochs, UUID/digest conversions,
    random distributions, geohash, Unicode normalization."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_suffix_combinators(self, eng):
        r = eng.execute(
            "SELECT sumOrNull(number) AS a, sumOrDefault(number) AS b, "
            "countOrNull(number) AS c FROM numbers(10) WHERE number > 100"
        )
        assert r.rows == [[None, 0, None]]
        # Value-carrying bases can't spell the column type's zero
        # value — they refuse with the explicit coalesce rewrite.
        with pytest.raises(ValueError, match="coalesce"):
            eng.execute(
                "SELECT maxOrDefault(number) AS v FROM numbers(1)"
            )
        # Parametric forms: suffix applies to the ARGUMENT list.
        r = eng.execute(
            "SELECT quantileExactDistinct(0.5)(x) AS q, "
            "quantileOrDefault(0.5)(x) AS d "
            "FROM (SELECT number % 3 AS x FROM numbers(10) "
            "WHERE number > 100)"
        )
        assert r.rows == [[None, 0]]
        r = eng.execute(
            "SELECT quantileExactDistinct(0.5)(x) AS q "
            "FROM (SELECT number % 3 AS x FROM numbers(10))"
        )
        assert r.rows == [[1]]
        r = eng.execute(
            "SELECT sumDistinct(x) AS a, avgDistinct(x) AS b, "
            "uniqExactDistinct(x) AS c "
            "FROM (SELECT number % 3 AS x FROM numbers(12))"
        )
        assert r.rows == [[3, 1.0, 3]]
        r = eng.execute(
            "SELECT groupArrayOrDefault(number) AS v FROM numbers(3) "
            "WHERE number > 9"
        )
        assert r.rows == [[[]]]

    def test_uniq_up_to(self, eng):
        r = eng.execute(
            "SELECT uniqUpTo(3)(x) AS saturated, uniqUpTo(5)(y) AS exact "
            "FROM (SELECT number % 10 AS x, number % 2 AS y "
            "FROM numbers(100))"
        )
        # 10 distinct saturates at N+1=4; 2 distinct is exact.
        assert r.rows == [[4, 2]]

    def test_calendar_epochs(self, eng):
        r = eng.execute(
            # 739136 is ClickHouse's documented example value.
            "SELECT toDaysSinceYearZero(toDate('2023-09-08')) AS a, "
            "toModifiedJulianDay('2020-01-01') AS b, "
            "CAST(fromModifiedJulianDay(58849) AS STRING) AS c, "
            "toYearWeek(toDate('2024-01-04')) AS d, "
            "positiveModulo(-5, 3) AS e"
        )
        assert r.rows == [[739136, 58849, "2020-01-01", 202401, 1]]
        r = eng.execute(
            "SELECT CAST(fromDaysSinceYearZero("
            "toDaysSinceYearZero(toDate('2023-09-08'))) AS STRING) AS v"
        )
        assert r.rows == [["2023-09-08"]]

    def test_uuid_and_digests(self, eng):
        u = "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
        r = eng.execute(
            f"SELECT toUUID('{u}') AS a, "
            f"UUIDNumToString(UUIDStringToNum('{u}')) AS b, "
            f"toUUIDOrNull('nope') AS c, toBool('true') AS d, "
            f"length(SHA256('abc')) AS e, halfMD5('abc') > 0 AS f"
        )
        assert r.rows == [[u, u, None, True, 32, True]]

    def test_random_distributions(self, eng):
        # Aggregate over a materialized subquery — Spark (correctly)
        # refuses non-deterministic expressions inside aggregates.
        r = eng.execute(
            "SELECT bool_and(u BETWEEN 5 AND 6) AS a, "
            "bool_and(abs(n) < 50) AS b, bool_and(e >= 0) AS c, "
            "count(DISTINCT k) AS d FROM ("
            "SELECT randUniform(5, 6) AS u, randNormal(0, 1) AS n, "
            "randExponential(2) AS e, randConstant() AS k "
            "FROM numbers(100))"
        )
        assert r.rows == [[True, True, True, 1]]

    def test_geohash_roundtrip(self, eng):
        r = eng.execute(
            "SELECT geohashEncode(-5.60302734375, 42.593994140625, 5) AS g"
        )
        assert r.rows == [["ezs42"]]
        r = eng.execute("SELECT geohashDecode('ezs42') AS g")
        lon, lat = r.rows[0][0]
        assert abs(lon - -5.60302734375) < 0.05
        assert abs(lat - 42.593994140625) < 0.05

    def test_unicode_normalization(self, eng):
        # NFD decomposes the precomposed a-acute into two codepoints.
        r = eng.execute(
            "SELECT length(normalizeUTF8NFD('á')) AS d, "
            "length(normalizeUTF8NFC(normalizeUTF8NFD('á'))) AS c"
        )
        assert r.rows == [[2, 1]]

    def test_vector_products_and_ellipses(self, eng):
        r = eng.execute(
            "SELECT arrayDotProduct([1,2],[3,4]) AS a, "
            "pointInEllipses(10, 10, 10, 9.1, 1, 0.9999) AS b, "
            "pointInEllipses(100, 100, 10, 9.1, 1, 0.9999) AS c"
        )
        assert r.rows == [[11.0, True, False]]

    def test_interval_results_render(self, eng):
        r = eng.execute("SELECT toIntervalDay(3) AS v")
        assert "3 days" in r.rows[0][0]

    def test_server_introspection_literals(self, eng):
        r = eng.execute(
            "SELECT length(serverUUID()) AS a, "
            "UTCTimestamp() IS NOT NULL AS b, currentProfiles() AS c"
        )
        assert r.rows == [[36, True, ["default"]]]

    def test_tranche3_refusals(self, eng):
        for expr, hint in [
            # sequenceNextNode graduated to a real implementation in
            # round 8; the 3-arg spelling now fails ARITY with
            # guidance instead of a blanket refusal
            ("sequenceNextNode('forward', 'head')(x, x, x = 1)",
             "at least four"),
            ("h3ToGeo(x)", "geohash"),
            ("regionToName(x)", "geobase"),
            ("rowNumberInBlock()", "row_number"),
            ("filesystemAvailable()", "system_profile"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr} FROM (SELECT 1 AS x)")


class TestRound5ProbeTranche4:
    """Ninth round-5 tranche: vector norms, bit rotation/Hamming,
    map higher-order functions, calendar field changes."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_norms_and_distances(self, eng):
        r = eng.execute(
            "SELECT LinfNorm([1,-5,3]) AS a, "
            "LinfDistance([1,2],[4,6]) AS b, "
            "L2SquaredDistance([0,0],[3,4]) AS c, "
            "normalizeL1([1,3]) AS d, normalizeL2([3,4]) AS e"
        )
        assert r.rows == [[
            5.0, 4.0, 25.0, [0.25, 0.75], [0.6, 0.8]
        ]]

    def test_bit_rotation_and_hamming(self, eng):
        r = eng.execute(
            "SELECT bitRotateLeft(1, 2) AS a, "
            "bitRotateRight(4, 2) AS b, "
            "bitHammingDistance(111, 121) AS c"
        )
        # CH docs example: bitHammingDistance(111, 121) = 3.
        assert r.rows == [[4, 1, 3]]

    def test_string_jaccard_and_random_sample(self, eng):
        r = eng.execute(
            "SELECT round(stringJaccardIndex('abc', 'bcd'), 6) AS a, "
            "size(arrayRandomSample([1,2,3,4], 2)) AS b"
        )
        assert r.rows == [[0.5, 2]]

    def test_group_array_insert_at(self, eng):
        r = eng.execute(
            "SELECT groupArrayInsertAt(number * 10, number * 2) AS v "
            "FROM numbers(3)"
        )
        # positions 0,2,4 carry values; odd holes are NULL.
        assert r.rows == [[[0, None, 10, None, 20]]]

    def test_map_higher_order(self, eng):
        r = eng.execute(
            "SELECT mapFilter((k, v) -> v > 5, map(1, 3, 2, 8)) AS a, "
            "mapExists((k, v) -> v > 5, map(1, 3, 2, 8)) AS b, "
            "mapAll((k, v) -> v > 5, map(1, 6, 2, 8)) AS c, "
            "mapConcat(map(1, 'a'), map(2, 'b')) AS d, "
            "mapUpdate(map(1, 'a', 2, 'x'), map(1, 'b')) AS e, "
            "map_keys(mapSort(map(2, 'b', 1, 'a'))) AS f"
        )
        a, b, c, d, e, f = r.rows[0]
        assert dict(a) == {2: 8} and b is True and c is True
        assert dict(d) == {1: "a", 2: "b"}
        assert dict(e) == {1: "b", 2: "x"}
        assert f == [1, 2]

    def test_calendar_field_changes(self, eng):
        r = eng.execute(
            "SELECT CAST(changeYear(toDate('2024-03-05'), 2020) "
            "AS STRING) AS a, "
            "CAST(changeMonth(toDate('2024-03-05'), 1) AS STRING) AS b, "
            "CAST(changeDay(toDate('2024-03-05'), 28) AS STRING) AS c, "
            "CAST(toStartOfSecond(toDateTime('2024-01-01 01:02:03')) "
            "AS STRING) AS d, toDecimalString(3.14159, 2) AS e"
        )
        assert r.rows == [[
            "2020-03-05", "2024-01-05", "2024-03-28",
            "2024-01-01 01:02:03", "3.14",
        ]]

    def test_get_subcolumn(self, eng):
        r = eng.execute(
            "SELECT getSubcolumn([1,2,3], 'size0') AS a, "
            "getSubcolumn(map(1, 'x'), 'keys') AS b"
        )
        assert r.rows == [[3, [1]]]

    def test_tranche4_refusals(self, eng):
        for expr, hint in [
            # tuplePlus/tupleConcat implemented round 7 (inline
            # expansion); flattenTuple/byteSwap/mapApply/
            # arrayLevenshteinDistance graduated later in round 7
            # (TestRound7ArrayIntervalTranche).
            ("kql('x')", "ClickHouse SQL"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr}")


class TestRound5ProbeTranche5:
    """Tenth round-5 tranche: conversion-suffix completion, JSON
    introspection, array OrNull accessors, codecs, morton Z-order,
    query-id introspection."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_conversion_suffixes(self, eng):
        r = eng.execute(
            "SELECT toUInt8OrZero('x') AS a, "
            "toInt64OrDefault('12x', 7) AS b, "
            "toInt64OrDefault('12', 7) AS c, "
            "toDateTimeOrNull('bogus') AS d, "
            "toDecimal64OrNull('x', 2) AS e, "
            "CAST(toDecimal64OrZero('x', 2) AS STRING) AS f, "
            "accurateCast(1, 'Int64') AS g, "
            "accurateCastOrNull('x', 'UInt8') AS h"
        )
        assert r.rows == [[0, 7, 12, None, None, "0.00", 1, None]]

    def test_json_introspection(self, eng):
        r = eng.execute(
            'SELECT JSONArrayLength(\'[1,2,3]\') AS a, '
            'JSONType(\'{"a": 1}\') AS b, JSONType(\'[1]\') AS c, '
            'JSONType(\'3\') AS d, '
            'JSONExtractKeys(\'{"a":1,"b":2}\') AS e, '
            'JSON_VALUE(\'{"a":1}\', \'$.a\') AS f, '
            'JSON_EXISTS(\'{"a":1}\', \'$.b\') AS g, '
            'isValidJSON(\'{"a":1}\') AS h, isValidJSON(\'no{\') AS i'
        )
        assert r.rows == [[
            3, "Object", "Array", "Int64", ["a", "b"], "1", False,
            True, False,
        ]]
        r = eng.execute(
            'SELECT JSONExtractArrayRaw(\'[1,"a",{"b":2}]\') AS v'
        )
        assert r.rows[0][0][2] == '{"b":2}'

    def test_array_ornull_accessors(self, eng):
        r = eng.execute(
            "SELECT arrayFirstOrNull(x -> x > 1, [1,2,3]) AS a, "
            "arrayFirstOrNull(x -> x > 9, [1]) AS b, "
            "arrayLastOrNull(x -> x > 1, [1,2,3]) AS c, "
            "arrayElementOrNull([1,2], 5) AS d, "
            "countEqual([1,2,1], 1) AS e"
        )
        assert r.rows == [[2, None, 3, None, 2]]

    def test_misc_scalars(self, eng):
        r = eng.execute(
            "SELECT identity(5) AS a, nothing() AS b, "
            "isConstant(3) AS c, "
            "caseWithExpression(2, 1, 'a', 2, 'b', 'z') AS d, "
            "char(72, 105) AS e"
        )
        assert r.rows == [[5, None, 1, "b", "Hi"]]

    def test_codecs(self, eng):
        r = eng.execute(
            "SELECT tryBase64Decode('##') AS a, "
            "tryBase64Decode('YWJj') AS b, "
            "base64UrlDecode(base64UrlEncode('a+b/c')) AS c, "
            "idnaEncode('münchen.de') AS d, "
            "idnaDecode('xn--mnchen-3ya.de') AS e"
        )
        assert r.rows == [[
            "", "abc", "a+b/c", "xn--mnchen-3ya.de", "münchen.de"
        ]]

    def test_morton_z_order(self, eng):
        r = eng.execute(
            "SELECT mortonEncode(3, 1) AS a, mortonDecode(2, 7) AS b"
        )
        assert r.rows == [[7, [3, 1]]]

    def test_query_id_introspection(self, eng):
        r = eng.execute("SELECT queryID() AS v")
        assert r.rows[0][0].startswith("bh-")
        # Client-supplied ids surface through queryID().
        from bighouse_spark.engine import QueryRequest

        r = eng.execute(
            QueryRequest(query="SELECT queryID() AS v", query_id="q-42")
        )
        assert r.rows == [["q-42"]]

    def test_tranche5_refusals(self, eng):
        for expr, hint in [
            # hilbertEncode graduated to the xy2d fold in round 7.
            ("sqidEncode(1, 2)", "sqids"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr}")


class TestSessionReviewRegressions:
    """Regressions for the round-5 session self-review findings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_subdomain_functions_safe_on_short_hosts(self, eng):
        r = eng.execute(
            "SELECT firstSignificantSubdomain('http://localhost/x') AS a, "
            "cutToFirstSignificantSubdomain('http://localhost/x') AS b, "
            "cutToFirstSignificantSubdomain('https://ab.cd/x') AS c"
        )
        assert r.rows == [[None, "localhost", "ab.cd"]]

    def test_group_array_insert_at_duplicate_positions(self, eng):
        # Two rows share position 0 — must keep one, not throw
        # DUPLICATED_MAP_KEY.
        r = eng.execute(
            "SELECT groupArrayInsertAt(number, number % 2) AS v "
            "FROM numbers(4)"
        )
        row = r.rows[0][0]
        assert len(row) == 2
        assert row[0] in (0, 2) and row[1] in (1, 3)

    def test_time_slots_expression_size_arg(self, eng):
        a = eng.execute(
            "SELECT timeSlots(toDateTime('2024-01-01 00:05:00'), "
            "600, 300 + 300) AS v"
        ).rows[0][0]
        b = eng.execute(
            "SELECT timeSlots(toDateTime('2024-01-01 00:05:00'), "
            "600, 600) AS v"
        ).rows[0][0]
        assert a == b

    def test_max_result_rows_zero_is_unlimited(self, eng):
        out = eng.execute(
            "SELECT number FROM numbers(10) SETTINGS max_result_rows=0"
        )
        assert len(out.rows) == 10

    def test_duplicate_query_id_rejected(self, eng, spark):
        import threading
        import time

        from bighouse_spark.engine import QueryRequest

        res = {}

        def victim():
            try:
                eng.execute(QueryRequest(
                    query="SELECT count() AS c FROM numbers(200000000) "
                          "a, numbers(1000) b",
                    query_id="dup-1",
                ))
                res["r"] = "finished"
            except Exception as e:
                res["r"] = f"{type(e).__name__}"

        th = threading.Thread(target=victim)
        th.start()
        deadline = time.time() + 30
        while time.time() < deadline:
            with eng._inflight_lock:
                if "dup-1" in eng._inflight:
                    break
            time.sleep(0.05)
        with pytest.raises(ValueError, match="ALREADY_RUNNING"):
            eng.execute(QueryRequest(
                query="SELECT 1 AS x", query_id="dup-1"
            ))
        eng.execute("KILL QUERY WHERE query_id = 'dup-1'")
        th.join(60)

    def test_no_inflight_leak_on_analysis_error(self, eng):
        # A query that fails AFTER transpile but BEFORE collect (bad
        # column) must not leave a ghost in-flight entry.
        with pytest.raises(Exception):
            eng.execute("SELECT no_such_column FROM numbers(3)")
        with eng._inflight_lock:
            assert not eng._inflight


class TestRound5ProbeTranche6:
    """Eleventh round-5 tranche: epoch-precision conversions,
    snowflake ids, n-gram fuzzy match, token search, regex group
    extraction, Joda-syntax dates."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_epoch_precision_roundtrips(self, eng):
        r = eng.execute(
            "SELECT toUnixTimestamp64Milli("
            "fromUnixTimestamp64Milli(1704067200123)) AS a, "
            "toUnixTimestamp64Micro("
            "fromUnixTimestamp64Micro(1704067200123456)) AS b, "
            "toUnixTimestamp64Nano("
            "fromUnixTimestamp64Nano(1704067200123456000)) AS c"
        )
        assert r.rows == [[
            1704067200123, 1704067200123456, 1704067200123456000
        ]]

    def test_snowflake_roundtrip(self, eng):
        r = eng.execute(
            "SELECT snowflakeToDateTime(dateTimeToSnowflake("
            "toDateTime('2021-08-15 18:57:56'))) = "
            "toDateTime('2021-08-15 18:57:56') AS v"
        )
        assert r.rows == [[True]]

    def test_ngram_fuzzy_match(self, eng):
        r = eng.execute(
            "SELECT round(ngramDistance('clickhouse', 'clickhouse'), 6) "
            "AS a, ngramDistance('abc', 'xyz') AS b, "
            "ngramSearch('clickhouse', 'house') AS c"
        )
        assert r.rows == [[0.0, 1.0, 1.0]]

    def test_token_search(self, eng):
        r = eng.execute(
            "SELECT hasToken('hello world test', 'world') AS a, "
            "hasToken('helloworld', 'world') AS b, "
            "hasTokenCaseInsensitive('Hello World', 'world') AS c"
        )
        assert r.rows == [[True, False, True]]

    def test_regex_group_extraction(self, eng):
        r = eng.execute(
            "SELECT extractGroups('a1b2', '([a-z])([0-9])') AS a, "
            "extractAllGroups('a1b2', '([a-z])([0-9])') AS b, "
            "extractAllGroupsVertical('a1b2', '([a-z])([0-9])') AS c"
        )
        assert r.rows == [[
            ["a", "1"], [["a", "b"], ["1", "2"]],
            [["a", "1"], ["b", "2"]],
        ]]

    def test_joda_syntax_dates(self, eng):
        r = eng.execute(
            "SELECT formatDateTimeInJodaSyntax("
            "toDateTime('2024-01-01 02:03:04'), "
            "'yyyy-MM-dd HH:mm:ss') AS a, "
            "fromUnixTimestampInJodaSyntax(1704067200, 'yyyy-MM-dd') AS b"
        )
        assert r.rows == [["2024-01-01 02:03:04", "2024-01-01"]]

    def test_misc_tranche6(self, eng):
        r = eng.execute(
            "SELECT toLowCardinality('x') AS a, indexHint(1) AS b, "
            "notILike('abc', 'AB%') AS c, "
            "startsWithUTF8('hello', 'he') AS d, "
            "arrayJoin([10, 20]) AS e ORDER BY e"
        )
        assert [row[4] for row in r.rows] == [10, 20]
        assert r.rows[0][:4] == ["x", 1, False, True]

    def test_ulid_timestamp_decodes(self, eng):
        r = eng.execute(
            "SELECT year(ULIDStringToDateTime("
            "'01GNB2S2FGN2P93QPXDNB4EN2R')) AS v"
        )
        assert r.rows == [[2022]]

    def test_tranche6_refusals(self, eng):
        for expr, hint in [
            ("transactionID()", "transactions"),
            ("generateULID()", "uuid"),
            ("ngramMinHash('x')", "dedup"),
            ("wordShingleSimHash('x')", "dedup"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr}")


class TestRound5ProbeTranche7:
    """Twelfth round-5 tranche: string/URL/HTML helpers — URL
    hierarchy, entity codecs, tag-stripping text extraction."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_bitmask_and_array_helpers(self, eng):
        r = eng.execute(
            "SELECT arrayWithConstant(3, 'x') AS a, "
            "bitmaskToArray(50) AS b, bitmaskToList(50) AS c, "
            "visibleWidth('abc') AS d"
        )
        assert r.rows == [[["x", "x", "x"], [2, 16, 32], "2,16,32", 3]]

    def test_replace_one_semantics(self, eng):
        r = eng.execute(
            "SELECT replaceOne('aaa', 'a', 'b') AS a, "
            "replaceOne('xyz', 'q', 'b') AS b, "
            "replaceRegexpOne('a1a2', '[0-9]', 'N') AS c, "
            "appendTrailingCharIfAbsent('dir', '/') AS d"
        )
        assert r.rows == [["baa", "xyz", "aNa2", "dir/"]]

    def test_normalized_query_hash_ignores_literals(self, eng):
        r = eng.execute(
            "SELECT normalizedQueryHash('SELECT 1 WHERE x = 5') = "
            "normalizedQueryHash('SELECT 1 WHERE x = 9') AS v"
        )
        assert r.rows == [[True]]

    def test_url_helpers(self, eng):
        r = eng.execute(
            "SELECT queryStringAndFragment('https://x.com/a?q=1#f') AS a, "
            "cutQueryStringAndFragment('https://x.com/a?q=1#f') AS b, "
            "cutWWW('https://www.x.com/a') AS c, "
            "decodeURLComponent('a%20b+c') AS d, "
            "decodeURLFormComponent('a+b') AS e, "
            "encodeURLComponent('a b') AS f, "
            "URLHierarchy('https://x.com/a/b') AS g, "
            "URLPathHierarchy('https://x.com/a/b') AS h"
        )
        assert r.rows == [[
            "q=1#f", "https://x.com/a", "https://x.com/a",
            "a b+c", "a b", "a%20b",
            ["https://x.com", "https://x.com/a", "https://x.com/a/b"],
            ["/a", "/a/b"],
        ]]

    def test_xml_html_codecs_and_extraction(self, eng):
        r = eng.execute(
            "SELECT encodeXMLComponent('<a>') AS a, "
            "decodeXMLComponent('&lt;a&gt;') AS b, "
            "decodeHTMLComponent('&amp;x') AS c, "
            "extractTextFromHTML('<html><style>p{}</style>"
            "<p>hi <b>you</b></p></html>') AS d, "
            "firstLine('a\\nb') AS e, basename('/a/b/c.txt') AS f"
        )
        assert r.rows == [[
            "&lt;a&gt;", "<a>", "&x", "hi you", "a", "c.txt"
        ]]


class TestRound5ProbeTranche8:
    """Thirteenth round-5 tranche: quantile flavors, groupArray
    variants, stable statistics, histogram."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_quantile_flavors(self, eng):
        r = eng.execute(
            "SELECT quantileExactLow(0.5)(number) AS a, "
            "quantileExactHigh(0.5)(number) AS b, "
            "quantileGK(100, 0.5)(number) AS c, "
            "quantileExactWeighted(0.5)(number, 1) AS d, "
            "medianTiming(number) AS e FROM numbers(101)"
        )
        assert r.rows == [[50, 50, 50, 50.0, 50.0]]
        r = eng.execute(
            "SELECT quantileExactLow(0.5)(number) AS a, "
            "quantileExactHigh(0.5)(number) AS b FROM numbers(10)"
        )
        assert r.rows == [[4, 5]]

    def test_group_array_variants(self, eng):
        r = eng.execute(
            "SELECT groupArraySorted(3)(number) AS a, "
            "size(groupArraySample(3)(number)) AS b, "
            "groupConcat(',')(CAST(number AS String)) AS c, "
            "groupConcat(CAST(number AS String), '-') AS d "
            "FROM numbers(10)"
        )
        assert r.rows[0][0] == [0, 1, 2]
        assert r.rows[0][1] == 3
        assert r.rows[0][2] == "0,1,2,3,4,5,6,7,8,9"
        assert r.rows[0][3] == "0-1-2-3-4-5-6-7-8-9"

    def test_stable_statistics_and_histogram(self, eng):
        r = eng.execute(
            "SELECT corrStable(number, number) AS a, "
            "varPopStable(number) = varPop(number) AS b, "
            "sumWithOverflow(number) AS c, "
            "size(histogram(3)(number)) AS d FROM numbers(10)"
        )
        assert r.rows == [[1.0, True, 45, 3]]

    def test_tranche8_refusals(self, eng):
        for expr, hint in [
            ("groupArrayLast(3)(number)", "order"),
            # sparkbar graduated in round 10 (TestSparkbarKostik).
            ("flameGraph(number)", "profiler"),
            # maxIntersectionsPosition and analysisOfVariance both
            # graduated in round 7.
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr} FROM numbers(5)")


class TestRound5Tranche9:
    """Probe tranche 9: aggregate bit ops, simpleJSON aliases,
    YYYYMMDD numeric date codecs, regexpQuoteMeta, random-string
    generators, jump consistent hashing, literal-polygon
    containment."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_group_bit_aggregates(self, eng):
        r = eng.execute(
            "SELECT groupBitAnd(v) AS a, groupBitOr(v) AS o, "
            "groupBitXor(v) AS x FROM "
            "values('v Int64', (7),(6),(14))"
        )
        assert r.rows == [[6, 15, 15]]

    def test_simple_json_family(self, eng):
        r = eng.execute(
            'SELECT simpleJSONExtractString(\'{"a":"x"}\', \'a\') AS s, '
            'simpleJSONExtractInt(\'{"a":3}\', \'a\') AS i, '
            'simpleJSONExtractFloat(\'{"a":2.5}\', \'a\') AS f, '
            'simpleJSONExtractBool(\'{"a":true}\', \'a\') AS b, '
            'simpleJSONExtractRaw(\'{"a":[1,2]}\', \'a\') AS r, '
            'simpleJSONHas(\'{"a":1}\', \'b\') AS h'
        )
        assert r.rows == [["x", 3, 2.5, 1, "[1,2]", False]]

    def test_visit_param_bool_raw(self, eng):
        r = eng.execute(
            'SELECT visitParamExtractBool(\'{"a":true}\', \'a\') AS b, '
            'visitParamExtractRaw(\'{"a":{"n":1}}\', \'a\') AS r'
        )
        assert r.rows == [[1, '{"n":1}']]

    def test_yyyymmdd_codecs_roundtrip(self, eng):
        r = eng.execute(
            "SELECT YYYYMMDDToDate(20240315) AS d, "
            "toYYYYMMDD(YYYYMMDDToDate(20240315)) AS rt, "
            "YYYYMMDDhhmmssToDateTime(20240315123456) AS t"
        )
        assert str(r.rows[0][0]) == "2024-03-15"
        assert r.rows[0][1] == 20240315
        assert str(r.rows[0][2]) == "2024-03-15 12:34:56"

    def test_regexp_quote_meta(self, eng):
        r = eng.execute(
            "SELECT regexpQuoteMeta('a.b*c[d]') AS q, "
            "'a.b*c[d]' RLIKE regexpQuoteMeta('a.b*c[d]') AS m"
        )
        assert r.rows == [["a\\.b\\*c\\[d\\]", True]]

    def test_random_strings(self, eng):
        r = eng.execute(
            "SELECT length(randomString(16)) AS a, "
            "length(randomPrintableASCII(16)) AS b, "
            "randomPrintableASCII(0) AS z, "
            "randomPrintableASCII(100) RLIKE '^[ -~]+$' AS printable"
        )
        assert r.rows == [[16, 16, "", True]]

    def test_jump_consistent_hash_properties(self, eng):
        # Deterministic per key, in range, and minimal remapping when
        # the bucket count grows (the algorithm's defining property:
        # only ~1/(n+1) of keys move from n to n+1 buckets).
        r = eng.execute(
            "SELECT sum(CAST(jumpConsistentHash(number, 8) != "
            "jumpConsistentHash(number, 9) AS INT)) AS moved, "
            "max(jumpConsistentHash(number, 8)) AS hi, "
            "min(jumpConsistentHash(number, 8)) AS lo "
            "FROM numbers(900)"
        )
        moved, hi, lo = r.rows[0]
        assert 0 <= lo and hi <= 7
        # Expected moved ≈ 900/9 = 100; allow generous noise.
        assert 40 <= moved <= 180

    def test_point_in_polygon(self, eng):
        r = eng.execute(
            "SELECT pointInPolygon((0.5, 0.5), "
            "[(0,0),(1,0),(1,1),(0,1)]) AS inside, "
            "pointInPolygon((3.0, 0.5), "
            "[(0,0),(1,0),(1,1),(0,1)]) AS outside, "
            "pointInPolygon((1.5, 0.2), "
            "[(0,0),(2,0),(2,1),(1,0.1),(0,1)]) AS concave_in, "
            "pointInPolygon((1.0, 0.8), "
            "[(0,0),(2,0),(2,1),(1,0.1),(0,1)]) AS concave_notch"
        )
        assert r.rows == [[1, 0, 1, 0]]

    def test_point_in_polygon_refusals(self, eng):
        with pytest.raises(ValueError, match="literal"):
            eng.execute(
                "SELECT pointInPolygon((0.5, 0.5), poly) AS r FROM "
                "values('poly String', ('x'))"
            )
        with pytest.raises(ValueError, match="3 vertices"):
            eng.execute(
                "SELECT pointInPolygon((0.5, 0.5), [(0,0),(1,0)]) AS r"
            )

    def test_tranche9_refusals(self, eng):
        # deltaSumTimestamp graduated to the sorted fold (r7);
        # kostikConsistentHash graduated to the capability twin
        # (r10, TestSparkbarKostik) — nothing left in this tranche.
        assert eng.execute(
            "SELECT kostikConsistentHash(42, 8) >= 0 AS ok"
        ).rows == [[True]]


class TestRound5Tranche10:
    """Probe tranche 10: MAC codecs, CIDR containment/ranges, unbin,
    bucketed rounding, UTC shifts, timestampDiff (whose rewrite also
    hardened the rewrite loop against self-matching replacements),
    UUID v7/byte codecs, frame-tolerant lag/lead."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_mac_codecs_roundtrip(self, eng):
        r = eng.execute(
            "SELECT MACNumToString(1099511627775) AS a, "
            "MACStringToNum('00:ff:ff:ff:ff:ff') AS b, "
            "MACNumToString(MACStringToNum('12:34:56:78:9a:bc')) AS rt, "
            "MACStringToOUI('ab:cd:ef:11:22:33') AS oui"
        )
        assert r.rows == [["00:ff:ff:ff:ff:ff", 1099511627775,
                           "12:34:56:78:9a:bc", 11259375]]

    def test_ip_address_in_range_both_families(self, eng):
        r = eng.execute(
            "SELECT isIPAddressInRange('192.168.1.5', '192.168.0.0/16') AS a, "
            "isIPAddressInRange('10.0.0.1', '192.168.0.0/16') AS b, "
            "isIPAddressInRange('2001:db8::1', '2001:db8::/32') AS c, "
            "isIPAddressInRange('2001:db9::1', '2001:db8::/32') AS d"
        )
        assert r.rows == [[True, False, True, False]]

    def test_cidr_to_range(self, eng):
        r = eng.execute(
            "SELECT IPv4CIDRToRange(toIPv4('192.168.5.2'), 16) AS v4, "
            "IPv6CIDRToRange('2001:db8::1', 32) AS v6"
        )
        v4, v6 = r.rows[0]
        assert list(v4) == ["192.168.0.0", "192.168.255.255"]
        assert list(v6) == ["2001:db8::",
                            "2001:db8:ffff:ffff:ffff:ffff:ffff:ffff"]

    def test_to_ipv4_canonicalizes(self, eng):
        r = eng.execute("SELECT toIPv4('192.168.001.001') AS r")
        assert r.rows == [["192.168.1.1"]]

    def test_unbin_inverse_of_bin(self, eng):
        r = eng.execute(
            "SELECT unbin('00110000') AS a, unbin(bin(53)) AS b"
        )
        assert r.rows == [["0", "5"]]

    def test_round_down_buckets(self, eng):
        r = eng.execute(
            "SELECT roundDown(7, [1, 5, 10]) AS a, "
            "roundDown(0, [1, 5, 10]) AS b, "
            "roundDown(10, [1, 5, 10]) AS c"
        )
        assert r.rows == [[5, 1, 10]]

    def test_timestamp_diff_and_time_diff(self, eng):
        # timestampDiff's replacement spelling (timestampdiff) matches
        # its own pattern case-insensitively — this is the regression
        # test for the rewrite loop's self-match guard.
        r = eng.execute(
            "SELECT timestampDiff('hour', "
            "toDateTime('2024-01-01 00:00:00'), "
            "toDateTime('2024-01-01 05:00:00')) AS h, "
            "timeDiff(toDateTime('2024-01-01 00:00:00'), "
            "toDateTime('2024-01-01 00:01:30')) AS s"
        )
        assert r.rows == [[5, 90]]

    def test_utc_shifts(self, eng):
        r = eng.execute(
            "SELECT toUTCTimestamp(toDateTime('2024-01-01 08:00:00'), "
            "'Asia/Shanghai') AS a, "
            "fromUTCTimestamp(toDateTime('2024-01-01 00:00:00'), "
            "'Asia/Shanghai') AS b"
        )
        assert str(r.rows[0][0]) == "2024-01-01 00:00:00"
        assert str(r.rows[0][1]) == "2024-01-01 08:00:00"

    def test_array_symmetric_difference(self, eng):
        r = eng.execute(
            "SELECT arraySort(arraySymmetricDifference([1,2], [2,3])) AS r"
        )
        assert r.rows == [[[1, 3]]]

    def test_uuid_v7_shape_and_bytes(self, eng):
        r = eng.execute(
            "SELECT CAST(generateUUIDv7() AS String) RLIKE "
            "'^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}"
            "-[0-9a-f]{12}$' AS shape, "
            "length(UUIDToNum(toUUID("
            "'612f3c40-5d3b-217e-707b-6a546a3d7b29'))) AS nbytes"
        )
        assert r.rows == [[True, 16]]

    def test_lag_lead_in_frame(self, eng):
        r = eng.execute(
            "SELECT lagInFrame(v) OVER (ORDER BY v ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS l, "
            "leadInFrame(v, 1, -1) OVER (ORDER BY v ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS d "
            "FROM values('v Int64', (1),(2)) ORDER BY v"
        )
        assert r.rows == [[None, 2], [1, -1]]

    def test_lag_in_frame_bounded_refusal(self, eng):
        with pytest.raises(ValueError, match="frame has no Spark"):
            eng.execute(
                "SELECT lagInFrame(v) OVER (ORDER BY v ROWS BETWEEN "
                "1 PRECEDING AND CURRENT ROW) AS r "
                "FROM values('v Int64', (1))"
            )

    def test_tranche10_refusals(self, eng):
        # rankCorr / minSampleSize* graduated to implementations in
        # round 7 (TestRound7StatsGraduations); wrong arity still
        # refuses loudly.
        for expr, hint in [
            ("rankCorr(a)", "two arguments"),
            ("minSampleSizeConversion(0.1, 0.05)", "four arguments"),
            ("minSampleSizeContinuous(0.1, 0.05)", "five arguments"),
            ("arrayNormalizedGini([1],[1])", "Gini"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr} FROM values('a Int64', (1))")


class TestCastTypeTranslation:
    """CH type names inside standard casts: CAST(x AS Int64) and
    x::Float64 — the spellings every CH query uses interchangeably
    with toInt64(x). Unknown (already-Spark) types pass through;
    the :: scan is quote-aware (IPv6 literals contain '::')."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_cast_as_ch_types(self, eng):
        r = eng.execute(
            "SELECT CAST(1.9 AS Int64) AS a, CAST('7' AS UInt32) AS b, "
            "CAST(3 AS Float64) AS c, CAST(1 AS Nullable(Int64)) AS d, "
            "CAST('x' AS LowCardinality(String)) AS e"
        )
        assert r.rows == [[1, 7, 3.0, 1, "x"]]

    def test_cast_spark_types_untouched(self, eng):
        r = eng.execute(
            "SELECT CAST(1.9 AS BIGINT) AS a, CAST('2.5' AS DOUBLE) AS b"
        )
        assert r.rows == [[1, 2.5]]

    def test_nested_cast(self, eng):
        r = eng.execute(
            "SELECT CAST(CAST(200 AS UInt8) AS String) AS a"
        )
        # UInt8 widens to smallint (no unsigned bytes) — 200 survives.
        assert r.rows == [["200"]]

    def test_coloncolon_cast_and_ipv6_literal(self, eng):
        r = eng.execute(
            "SELECT 2.5::Float64 AS a, '9'::Int64 AS b, "
            "'::ffff:1.2.3.4' AS s, 1::BIGINT AS d"
        )
        assert r.rows == [[2.5, 9, "::ffff:1.2.3.4", 1]]

    def test_try_cast_ch_type(self, eng):
        r = eng.execute(
            "SELECT TRY_CAST('x' AS Int64) AS a, "
            "TRY_CAST('5' AS Int64) AS b"
        )
        assert r.rows == [[None, 5]]


class TestReviewFixesRound5:
    """Regression tests for the round-5 self-review findings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_in_frame_quote_aware_over_spec(self, eng):
        # A '(' inside a string literal in the window spec must not
        # derail the paren scan.
        r = eng.execute(
            "SELECT lagInFrame(v) OVER (PARTITION BY concat(g, '(') "
            "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "UNBOUNDED FOLLOWING) AS r "
            "FROM values('v Int64, g String', (1,'a'),(2,'a')) "
            "ORDER BY r NULLS FIRST"
        )
        assert [x[0] for x in r.rows] == [None, 1]

    def test_in_frame_shorthand_preceding(self, eng):
        # ROWS UNBOUNDED PRECEDING is a no-op for lag (backward-only)
        # and stripped; for lead the target row is outside the frame
        # — semantics change, so it refuses.
        r = eng.execute(
            "SELECT lagInFrame(v) OVER (ORDER BY v ROWS UNBOUNDED "
            "PRECEDING) AS r FROM values('v Int64', (1),(2)) "
            "ORDER BY r NULLS FIRST"
        )
        assert [x[0] for x in r.rows] == [None, 1]
        with pytest.raises(ValueError, match="frame has no Spark"):
            eng.execute(
                "SELECT leadInFrame(v) OVER (ORDER BY v ROWS "
                "UNBOUNDED PRECEDING) AS r FROM values('v Int64', (1))"
            )

    def test_in_frame_named_window(self, eng):
        r = eng.execute(
            "SELECT lagInFrame(v) OVER w AS r "
            "FROM values('v Int64', (1),(2)) WINDOW w AS (ORDER BY v) "
            "ORDER BY r NULLS FIRST"
        )
        assert [x[0] for x in r.rows] == [None, 1]

    def test_cast_as_with_tabs_and_newlines(self, eng):
        r = eng.execute("SELECT CAST(1.9\tAS Int64) AS a, CAST(2\n AS\n Float64) AS b")
        assert r.rows == [[1, 2.0]]

    def test_uuid_to_num_variant2_refused(self, eng):
        with pytest.raises(ValueError, match="variant"):
            eng.execute(
                "SELECT UUIDToNum(toUUID("
                "'612f3c40-5d3b-217e-707b-6a546a3d7b29'), 2) AS r"
            )

    def test_ipv4_cidr_composed_stays_small(self, eng):
        # The naive interpolation emitted 71 KB for this shape,
        # silently dropping Spark to interpreted evaluation.
        from bighouse_spark.dialect.transpile import transpile

        t = transpile(
            "SELECT IPv4CIDRToRange(toIPv4(ip), 16) FROM t"
        ).sql
        assert len(t) < 8000


class TestRound5Tranche11:
    """Probe tranche 11: AES ciphers over Spark's aes_encrypt/
    aes_decrypt, reverse sorts, type-default literals, dateTrunc
    spelling, catalog-folded hasColumnInTable, and guided refusals
    for families needing libraries that don't ship."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_encrypt_decrypt_roundtrip_modes(self, eng):
        r = eng.execute(
            "SELECT decrypt('aes-128-ecb', encrypt('aes-128-ecb', "
            "'secret text', 'keykeykeykeykeyk'), 'keykeykeykeykeyk') AS a, "
            "decrypt('aes-256-gcm', encrypt('aes-256-gcm', 'msg', "
            "'kkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkk'), "
            "'kkkkkkkkkkkkkkkkkkkkkkkkkkkkkkkk') AS b, "
            "aes_decrypt_mysql('aes-128-ecb', aes_encrypt_mysql("
            "'aes-128-ecb', 'abc', '0123456789abcdef'), "
            "'0123456789abcdef') AS c"
        )
        assert r.rows == [["secret text", "msg", "abc"]]

    def test_encrypt_unsupported_mode_refused(self, eng):
        with pytest.raises(ValueError, match="unsupported cipher"):
            eng.execute("SELECT encrypt('rot13', 'x', 'k')")

    def test_array_reverse_sort(self, eng):
        r = eng.execute("SELECT arrayReverseSort([3,1,2]) AS r")
        assert r.rows == [[[3, 2, 1]]]

    def test_date_trunc_spelling(self, eng):
        r = eng.execute(
            "SELECT dateTrunc('quarter', "
            "toDateTime('2024-05-05 00:00:00')) AS r"
        )
        assert str(r.rows[0][0]) == "2024-04-01 00:00:00"

    def test_default_value_of_type_name(self, eng):
        r = eng.execute(
            "SELECT defaultValueOfTypeName('Int64') AS a, "
            "defaultValueOfTypeName('String') AS b, "
            "defaultValueOfTypeName('Date') AS c, "
            "defaultValueOfTypeName('Array(Int64)') AS d"
        )
        assert r.rows[0][0] == 0
        assert r.rows[0][1] == ""
        assert str(r.rows[0][2]) == "1970-01-01"
        assert r.rows[0][3] == []

    def test_has_column_in_table_constant_folds(self, eng, spark):
        spark.createDataFrame([(1, "x")], ["k", "v"]).createOrReplaceTempView(
            "hct_probe"
        )
        r = eng.execute(
            "SELECT hasColumnInTable('hct_probe', 'k') AS a, "
            "hasColumnInTable('hct_probe', 'nope') AS b, "
            "hasColumnInTable('no_such_table', 'x') AS c"
        )
        assert r.rows == [[True, False, False]]

    def test_tranche11_refusals(self, eng):
        # sumArgMin/sumArgMax graduated to one-fold implementations
        # in round 7 (TestRound7StatsGraduations); arity still checks.
        for expr, hint in [
            ("sumArgMin(a)", "two arguments"),
            ("sumArgMax(a, a, a)", "two arguments"),
            # countResample graduated to conditional-aggregate bucket
            # expansion (TestRound7MapResample); the bare un-
            # parameterized spelling still guides.
            ("countResample(a)", "parameters"),
            ("defaultValueOfArgumentType(a)", "defaultValueOfTypeName"),
            # detectLanguage (stopword-marker heuristic) and
            # seriesPeriodDetectFFT (numpy rfft) graduated in r7.
            ("lemmatize('en', 'x')", "dictionaries"),
            # polygonAreaCartesian graduated to the shoelace fold
            # in round 7 (TestRound7GeoHilbertTranche).
            ("getSetting('max_threads')", "system_settings"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr} FROM values('a Int64', (1))")


class TestRound5Tranche12:
    """Final round-5 mini-probe: null-semantics spellings and
    KeepNames normalization aliases (34-name probe; 27 already
    served natively or by prior tranches)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_is_not_distinct_from(self, eng):
        r = eng.execute(
            "SELECT isNotDistinctFrom(NULL, NULL) AS a, "
            "isNotDistinctFrom(1, NULL) AS b, "
            "isNotDistinctFrom(1, 1) AS c"
        )
        assert r.rows == [[True, False, True]]

    def test_keep_names_normalization_aliases(self, eng):
        r = eng.execute(
            "SELECT normalizeQueryKeepNames('SELECT a + 1') AS q, "
            "normalizedQueryHashKeepNames('SELECT 1') = "
            "normalizedQueryHashKeepNames('SELECT 2') AS same"
        )
        assert r.rows == [["SELECT a + ?", True]]

    def test_tranche12_refusals(self, eng):
        for expr, hint in [
            ("isNullable(1)", "schema"),
            ("bitSlice('x', 1, 4)", "substring"),
            ("formatQuery('select 1')", "EXPLAIN SYNTAX"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr}")


class TestReviewFixesRound5B:
    """Regression tests for the second self-review pass."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_checksum_wrap_covers_sumif_and_window(self, eng):
        # The mod-2^64 wrap must reach sumIf's CASE form and sit
        # OUTSIDE a windowed sum's OVER clause.
        r = eng.execute(
            "SELECT sumIf(cityHash64Exact(v), v > 0) AS a "
            "FROM values('v Int64', (1),(2),(3))"
        )
        assert int(r.rows[0][0]) < (1 << 64)
        r2 = eng.execute(
            "SELECT sum(cityHash64Exact(v)) OVER (PARTITION BY g) AS a "
            "FROM values('v Int64, g Int64', (1,1),(2,1),(3,1)) LIMIT 1"
        )
        assert r2.rows[0][0] == r.rows[0][0]

    def test_aes_key_size_enforced(self, eng):
        # CH rejects a key whose length mismatches the declared
        # variant; silently running AES-256-as-128 would produce
        # ciphertext no ClickHouse could produce.
        with pytest.raises(Exception, match="32-byte key"):
            eng.execute(
                "SELECT encrypt('aes-256-ecb', 'x', '0123456789abcdef')"
            )

    def test_default_value_nullable_and_tuple(self, eng):
        r = eng.execute(
            "SELECT defaultValueOfTypeName('Nullable(Int64)') AS a, "
            "defaultValueOfTypeName('Tuple(Int64, String)') AS b"
        )
        assert r.rows[0][0] is None
        assert list(r.rows[0][1]) == [0, ""]

    def test_date_trunc_timezone_form(self, eng):
        # Truncate-in-zone: midnight Asia/Shanghai == 16:00 UTC prev day.
        r = eng.execute(
            "SELECT dateTrunc('day', "
            "toDateTime('2024-01-01 03:00:00'), 'Asia/Shanghai') AS r"
        )
        assert str(r.rows[0][0]) == "2023-12-31 16:00:00"

    def test_column_named_rows_not_a_frame(self, eng):
        r = eng.execute(
            "SELECT lagInFrame(v) OVER (PARTITION BY rows ORDER BY v) "
            "AS r FROM values('v Int64, rows Int64', (1,1),(2,1)) "
            "ORDER BY r NULLS FIRST"
        )
        assert [x[0] for x in r.rows] == [None, 1]

    def test_named_window_with_frame_guided(self, eng):
        with pytest.raises(ValueError, match="inline the OVER"):
            eng.execute(
                "SELECT lagInFrame(v) OVER w AS r "
                "FROM values('v Int64', (1)) WINDOW w AS "
                "(ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND "
                "UNBOUNDED FOLLOWING)"
            )

    def test_non_utc_session_refuses_datetime_only(self, spark):
        # Non-UTC variant: strings/ints keep bit parity, datetime
        # raises with the fix instead of silently shifting epochs.
        from bighouse_spark.functions.cityhash import (
            cityhash64_values,
            make_cityhash64_row_udf,
        )
        from decimal import Decimal
        import pandas as pd

        fn = make_cityhash64_row_udf(allow_datetime=False).func
        ok = fn(pd.DataFrame({"a": ["x"], "b": [3]}))
        assert ok[0] == Decimal(cityhash64_values(["x", 3]))
        with pytest.raises(ValueError, match="timeZone=UTC"):
            fn(pd.DataFrame({"a": [pd.Timestamp("2024-01-01")]}))


class TestRound5Tranche13:
    """Probe tranche 13: INTO OUTFILE, -ForEach / -SimpleState
    combinators, interval helpers, sub-second truncation, CH random
    generators (37-name probe; 21 already served natively)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_into_outfile_writes_and_reports(self, eng, tmp_path):
        p = str(tmp_path / "out.csv")
        r = eng.execute(
            f"SELECT 1 AS x, 'a' AS y INTO OUTFILE '{p}' "
            "FORMAT CSVWithNames"
        )
        assert r.rows == [[p, 1]]
        assert open(p).read().strip().splitlines() == ['"x","y"', '1,"a"']
        # default format = TabSeparated, like clickhouse-local
        p2 = str(tmp_path / "out.tsv")
        eng.execute(f"SELECT 2 AS x INTO OUTFILE '{p2}'")
        assert open(p2).read().strip() == "2"

    def test_for_each_combinators(self, eng, spark):
        spark.createDataFrame(
            [([1, 2],), ([10, 20],)], "arr array<bigint>"
        ).createOrReplaceTempView("fe_even")
        spark.createDataFrame(
            [([5, 2, 9],), ([1],)], "arr array<bigint>"
        ).createOrReplaceTempView("fe_ragged")
        assert eng.execute(
            "SELECT sumForEach(arr) AS r FROM fe_even"
        ).rows == [[[11, 22]]]
        assert eng.execute(
            "SELECT maxForEach(arr) AS r FROM fe_even"
        ).rows == [[[10, 20]]]
        # Ragged arrays: missing positions contribute the identity,
        # matching CH (pos 0 min(5,1); pos 1/2 only from the long row).
        assert eng.execute(
            "SELECT minForEach(arr) AS r FROM fe_ragged"
        ).rows == [[[1, 2, 9]]]
        # avgForEach graduated in round 7: element-wise sum/count.
        assert eng.execute(
            "SELECT avgForEach(arr) AS r FROM fe_even"
        ).rows == [[[5.5, 11.0]]]

    def test_simple_state_is_identity(self, eng):
        r = eng.execute(
            "SELECT sumSimpleState(v) AS a, anySimpleState(v) AS b, "
            "maxSimpleState(v) AS c FROM values('v Int64', (7),(3))"
        )
        assert r.rows == [[10, 7, 7]]

    def test_interval_helpers(self, eng):
        r = eng.execute(
            "SELECT addInterval(toDateTime('2024-01-01 00:00:00'), "
            "INTERVAL 1 DAY) AS a, "
            "addTupleOfIntervals(DATE '2024-01-01', "
            "(INTERVAL 1 DAY, INTERVAL 1 MONTH)) AS b, "
            "subtractTupleOfIntervals(DATE '2024-02-02', "
            "(INTERVAL 1 DAY, INTERVAL 1 MONTH)) AS c"
        )
        assert str(r.rows[0][0]) == "2024-01-02 00:00:00"
        assert str(r.rows[0][1]) == "2024-02-02"
        assert str(r.rows[0][2]) == "2024-01-01"

    def test_subsecond_truncation_and_random(self, eng):
        r = eng.execute(
            "SELECT toStartOfMicrosecond(toDateTime("
            "'2024-01-01 00:00:00')) AS a, "
            "toStartOfMillisecond(toDateTime('2024-01-01 00:00:00')) AS b, "
            "rand32() BETWEEN 0 AND 4294967296 AS c, "
            "randBernoulli(0.5) IN (0, 1) AS d, "
            "concatAssumeInjective('a', 'b', 'c') AS e"
        )
        assert r.rows[0][2:] == [True, True, "abc"]

    def test_tranche13_refusals(self, eng):
        for expr, hint in [
            ("blockSize()", "OVER"),
            ("rowNumberInAllBlocks()", "row_number"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr} FROM values('a Int64', (1))")


class TestColumnMatchers:
    """CH SELECT-list matchers: COLUMNS('regex') [APPLY(fn)] and
    * APPLY(fn), expanded against the FROM table's live schema at
    transpile. (* EXCEPT / * REPLACE are native Spark.)"""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from tests.conftest import SF_SMOKE

        from bighouse_spark.engine import BigHouseEngine
        from bighouse_spark.sources.catalog import load_table

        load_table(spark, SF_SMOKE, "region").createOrReplaceTempView(
            "cm_region"
        )
        return BigHouseEngine(spark)

    def test_columns_regex(self, eng):
        r = eng.execute(
            "SELECT COLUMNS('key') FROM cm_region ORDER BY 1 LIMIT 1"
        )
        assert r.cols == ["r_regionkey"]
        assert r.rows == [[0]]

    def test_star_apply(self, eng):
        r = eng.execute("SELECT * APPLY(max) FROM cm_region")
        assert r.cols == ["max(r_regionkey)", "max(r_name)"]
        assert r.rows[0][0] == 4

    def test_columns_apply_composition(self, eng):
        r = eng.execute(
            "SELECT COLUMNS('r_.*') APPLY(count) FROM cm_region"
        )
        assert r.rows == [[5, 5]]

    def test_no_match_refused(self, eng):
        with pytest.raises(ValueError, match="matched no columns"):
            eng.execute("SELECT COLUMNS('zzz') FROM cm_region")


class TestWideAndStructuredTypes:
    """Round-5 schema-parser closure: 128/256-bit integers (widened
    to DECIMAL(38,0) — loud ANSI overflow, never silent wrap),
    Decimal256 (precision capped at Spark's 38), precision >38
    refused with guidance, JSON/Object('json') as raw-text carriers,
    geo types (Point/Ring/Polygon/MultiPolygon as nested structs),
    Nested (array-of-struct), SimpleAggregateFunction unwrapping."""

    def test_wide_integers_and_decimals(self):
        from bighouse_spark.dialect.schema import ch_type_to_spark

        assert ch_type_to_spark("Int128").simpleString() == "decimal(38,0)"
        assert ch_type_to_spark("UInt256").simpleString() == "decimal(38,0)"
        assert (
            ch_type_to_spark("Decimal256(10)").simpleString()
            == "decimal(38,10)"
        )
        with pytest.raises(ValueError, match="38 digits"):
            ch_type_to_spark("Decimal(45, 10)")

    def test_json_geo_nested_types(self):
        from bighouse_spark.dialect.schema import ch_type_to_spark

        assert ch_type_to_spark("JSON").simpleString() == "string"
        assert (
            ch_type_to_spark("Point").simpleString()
            == "struct<x:double,y:double>"
        )
        assert ch_type_to_spark("Ring").simpleString().startswith("array<")
        assert (
            ch_type_to_spark("Nested(a Int64, b String)").simpleString()
            == "array<struct<a:bigint,b:string>>"
        )
        assert (
            ch_type_to_spark(
                "SimpleAggregateFunction(sum, Int64)"
            ).simpleString()
            == "bigint"
        )
        with pytest.raises(ValueError, match="uniqState"):
            ch_type_to_spark("AggregateFunction(uniq, Int64)")

    def test_wide_types_usable_in_ddl(self, spark):
        from bighouse_spark.engine import BigHouseEngine, QueryRequest

        eng = BigHouseEngine(spark)
        eng.execute(
            QueryRequest(
                query="CREATE TABLE wide_t (big Int128, j JSON, "
                "pt Point) ENGINE = Memory"
            )
        )
        r = eng.execute(QueryRequest(query="DESCRIBE wide_t"))
        types = {row[0]: row[1] for row in r.rows}
        assert types["big"] == "decimal(38,0)"
        assert types["j"] == "string"
        assert types["pt"].startswith("struct")
        eng.execute(QueryRequest(query="DROP TABLE wide_t"))


class TestColumnMatcherHardening:
    """Fourth-review hardening of COLUMNS()/APPLY(): joins and
    subquery sources refuse (a heuristic FROM scan expanded the
    wrong table before), names are backquoted, string literals are
    skipped, lowercase keywords work, qualified stars are consumed,
    chained APPLY and escaped-quote patterns get guided refusals."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from tests.conftest import SF_SMOKE

        from bighouse_spark.engine import BigHouseEngine
        from bighouse_spark.sources.catalog import load_table

        load_table(spark, SF_SMOKE, "region").createOrReplaceTempView(
            "cmh_region"
        )
        return BigHouseEngine(spark)

    def test_join_and_subquery_refused(self, eng):
        with pytest.raises(ValueError, match="joins"):
            eng.execute(
                "SELECT * APPLY(max) FROM cmh_region "
                "JOIN cmh_region r2 ON 1=1"
            )
        with pytest.raises(ValueError, match="single resolvable"):
            eng.execute(
                "SELECT COLUMNS('key') FROM (SELECT * FROM cmh_region)"
            )

    def test_lowercase_and_qualified_star(self, eng):
        r = eng.execute(
            "select columns('key') from cmh_region order by 1 limit 1"
        )
        assert r.rows == [[0]]
        r2 = eng.execute("SELECT r.* APPLY(max) FROM cmh_region AS r")
        assert r2.rows[0][0] == 4

    def test_string_literal_untouched(self, eng):
        r = eng.execute(
            "SELECT 'see COLUMNS(''x'')' AS doc FROM cmh_region LIMIT 1"
        )
        assert r.rows == [["see COLUMNS('x')"]]

    def test_guided_refusals(self, eng):
        with pytest.raises(ValueError, match="escaped quotes"):
            eng.execute("SELECT COLUMNS('a''b') FROM cmh_region")
        with pytest.raises(ValueError, match="chained APPLY"):
            eng.execute(
                "SELECT COLUMNS('key') APPLY(max) APPLY(round) "
                "FROM cmh_region"
            )


class TestRound5FinalStatements:
    """Final statement-shape closure: ALTER TABLE MODIFY/RESET
    SETTING accepted (MergeTree knobs — dropped like CREATE-time
    SETTINGS), CH EXPLAIN flag syntax folded into the PLAN variant,
    SHOW CREATE DATABASE, and formatDateTime's modern CH specs
    (%M = month name, %i = minute, %b/%c/%D/%R/%G...)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_modify_setting_accepted(self, eng):
        r = eng.execute(
            "ALTER TABLE whatever MODIFY SETTING index_granularity = 8192"
        )
        assert r.rows == [[1]]

    def test_explain_flag_syntax(self, eng):
        r = eng.execute("EXPLAIN indexes = 1 SELECT 1")
        assert "Physical Plan" in r.rows[0][0]

    def test_show_create_database(self, eng):
        r = eng.execute("SHOW CREATE DATABASE default")
        assert r.rows == [["CREATE DATABASE default"]]

    def test_format_datetime_modern_specs(self, eng):
        r = eng.execute(
            "SELECT formatDateTime(toDateTime('2024-01-01 12:30:00'), "
            "'%Y-%m-%d %H:%i') AS a, "
            "formatDateTime(toDateTime('2024-03-15 00:00:00'), "
            "'%M %b %D %R') AS b"
        )
        assert r.rows == [["2024-01-01 12:30", "March Mar 03/15/24 00:00"]]


class TestRound6AdviceFixes:
    """Round-6 ADVICE closure: week-based formatDateTime specs
    rewritten as extract() expressions (Spark 3+ rejects the Java
    week-based pattern letters at runtime), -ForEach over empty
    input, simpleJSON Raw/String ClickHouse semantics."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_format_datetime_week_specs(self, eng):
        # 2021-01-01 is ISO week 53 of ISO year 2020, weekday 5 (Fri);
        # 2024-03-15 is ISO week 11.
        r = eng.execute(
            "SELECT formatDateTime(toDateTime('2021-01-01 12:00:00'), "
            "'%G-%V-%u') AS a, "
            "formatDateTime(toDateTime('2021-01-01 12:00:00'), "
            "'wk %V of %g') AS b, "
            "formatDateTime(toDateTime('2024-03-15 00:00:00'), "
            "'%Y w%V') AS c"
        )
        assert r.rows == [["2020-53-5", "wk 53 of 20", "2024 w11"]]

    def test_parse_datetime_week_spec_refused(self, eng):
        with pytest.raises(ValueError, match="week-based"):
            eng.execute("SELECT parseDateTime('2021-53', '%G-%V')")

    def test_foreach_empty_input_is_empty_array(self, eng, spark):
        spark.createDataFrame(
            [([1, 2],)], "arr array<bigint>"
        ).createOrReplaceTempView("fe_adv6")
        for fn in ("sumForEach", "maxForEach", "minForEach"):
            r = eng.execute(
                f"SELECT {fn}(arr) AS r FROM fe_adv6 WHERE 1 = 0"
            )
            assert r.rows == [[[]]], fn

    def test_simple_json_raw_keeps_string_quotes(self, eng):
        r = eng.execute(
            'SELECT simpleJSONExtractRaw(\'{"a":"b"}\', \'a\') AS s, '
            'simpleJSONExtractRaw(\'{"a":123}\', \'a\') AS n, '
            'simpleJSONExtractRaw(\'{"a":{"x":1}}\', \'a\') AS o, '
            'simpleJSONExtractRaw(\'{"a":1}\', \'b\') AS m, '
            'visitParamExtractRaw(\'{"a":"b"}\', \'a\') AS v'
        )
        assert r.rows == [['"b"', "123", '{"x":1}', "", '"b"']]

    def test_simple_json_string_non_string_is_empty(self, eng):
        r = eng.execute(
            'SELECT simpleJSONExtractString(\'{"a":"x"}\', \'a\') AS s, '
            'simpleJSONExtractString(\'{"a":3}\', \'a\') AS n, '
            'simpleJSONExtractString(\'{"a":1}\', \'b\') AS m'
        )
        assert r.rows == [["x", "", ""]]


class TestRound6ProbeTranche:
    """Round-6 probe tranche: tuple expansion, ranked enumeration,
    geo central angle, relative-time stragglers, week-end rounding,
    CH month naming (full name, not Spark's 3-letter monthname())."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_untuple_expands_fields(self, eng):
        r = eng.execute("SELECT untuple(tuple(1, 'a')) FROM numbers(1)")
        assert r.rows == [[1, "a"]]

    def test_great_circle_angle(self, eng):
        r = eng.execute("SELECT greatCircleAngle(0, 0, 45, 0) AS a")
        assert abs(r.rows[0][0] - 45.0) < 1e-9

    def test_enumerate_uniq_ranked(self, eng):
        r = eng.execute(
            "SELECT arrayEnumerateUniqRanked([[1,2],[1,2],[3]]) AS r"
        )
        assert r.rows == [[[1, 2, 1]]]
        with pytest.raises(ValueError, match="flatten"):
            eng.execute("SELECT arrayEnumerateUniqRanked(1, [[1]], 1)")

    def test_partial_reverse_sort(self, eng):
        r = eng.execute(
            "SELECT arrayPartialReverseSort(2, [3,1,2]) AS r"
        )
        assert r.rows == [[[3, 2, 1]]]

    def test_relative_num_stragglers(self, eng):
        r = eng.execute(
            "SELECT toRelativeMonthNum(toDate('2024-01-01')) AS m, "
            "toRelativeQuarterNum(toDate('2024-01-01')) AS q, "
            "toRelativeWeekNum(toDate('1970-01-05')) AS w0, "
            "toRelativeWeekNum(toDate('1970-01-01')) AS we"
        )
        # DateLUT formulas: y*12+m, y*4+q-1, Monday-based weeks with
        # the epoch Thursday in week 0 (Mon 1970-01-05 starts week 1).
        assert r.rows == [[24289, 8096, 1, 0]]

    def test_last_day_of_week(self, eng):
        r = eng.execute(
            "SELECT toLastDayOfWeek(toDate('2024-03-15')) AS d, "
            "toLastDayOfWeek(toDate('2024-03-17')) AS s"
        )
        # Friday -> the following Sunday; Sunday is its own last day.
        assert [str(v) for v in r.rows[0]] == ["2024-03-17", "2024-03-17"]

    def test_month_name_is_full(self, eng):
        r = eng.execute("SELECT monthName(toDate('2024-03-15')) AS m")
        assert r.rows == [["March"]]

    def test_tuple_name_value_pairs(self, eng):
        # Graduated later in round 7: inline tuples expand to
        # ('index', value) pairs.
        r = eng.execute(
            "SELECT tupleToNameValuePairs(tuple(1,2)) AS p"
        )
        assert [list(x) for x in r.rows[0][0]] == [["1", 1], ["2", 2]]


class TestTupleOpsAndRemote:
    """CH tuple comparisons + the remote()/remoteSecure() table
    function. Spark's struct IN needs exact element types (INT
    literal vs BIGINT column inside a struct never matches), so
    tuple IN / equality expand field-wise where plain numeric
    coercion applies; remote() reads the named table on the one warm
    session (the cluster() erasure), with system.one available as
    CH's canonical dummy table."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_tuple_in(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM numbers(10) "
            "WHERE (number, number) IN ((1,1),(2,2))"
        )
        assert r.rows == [[2]]

    def test_tuple_not_in_and_arity_3(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM numbers(10) "
            "WHERE (number, number + 1) NOT IN ((1,2),(3,4))"
        )
        assert r.rows == [[8]]
        r2 = eng.execute(
            "SELECT count() AS c FROM numbers(10) "
            "WHERE (number, number, number) IN ((1,1,1))"
        )
        assert r2.rows == [[1]]

    def test_tuple_equality(self, eng):
        r = eng.execute(
            "SELECT ((1, 'a') = (1, 'a')) AS x, ((1, 2) != (1, 3)) AS y"
        )
        assert r.rows == [[True, True]]

    def test_tuple_in_subquery_untouched(self, eng):
        # Multi-column IN-subquery is native Spark — must NOT expand.
        r = eng.execute(
            "SELECT count() AS c FROM numbers(10) WHERE "
            "(number, number) IN (SELECT number, number FROM numbers(3))"
        )
        assert r.rows == [[3]]

    def test_function_args_and_scalar_subquery_untouched(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM numbers(10) "
            "WHERE greatest(number, 1) IN (1, 2)"
        )
        assert r.rows == [[3]]
        r2 = eng.execute(
            "SELECT ((SELECT max(number) FROM numbers(3)) = 2) AS x"
        )
        assert r2.rows == [[True]]

    def test_remote_and_system_one(self, eng, spark):
        eng.refresh_system_views()
        r = eng.execute(
            "SELECT count() AS c FROM remote('127.0.0.1', system, one)"
        )
        assert r.rows == [[1]]
        r2 = eng.execute(
            "SELECT dummy FROM remoteSecure('h1:9440,h2:9440', system.one)"
        )
        assert r2.rows == [[0]]
        spark.createDataFrame([(7,)], "v bigint") \
            .createOrReplaceTempView("remote_probe_t")
        r3 = eng.execute(
            "SELECT v FROM remote('127.0.0.1:9000', default, "
            "remote_probe_t)"
        )
        assert r3.rows == [[7]]


class TestWeekSpecBoundarySweep:
    """Property sweep: formatDateTime's %G/%V/%u must agree with
    Python's isocalendar() on every day around each ISO year
    boundary 2015-2027 (the dates where week-of-year logic breaks)."""

    def test_iso_week_fields_match_python(self, spark):
        import datetime as dt

        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        days = []
        for year in range(2015, 2028):
            for delta in range(-5, 6):
                days.append(dt.date(year, 1, 1) + dt.timedelta(days=delta))
        in_list = ", ".join(f"toDate('{d}')" for d in days)
        r = eng.execute(
            "SELECT formatDateTime(d, '%G|%V|%u') AS f FROM "
            f"(SELECT arrayJoin([{in_list}]) AS d)"
        )
        got = [row[0] for row in r.rows]
        want = [
            "|".join(
                str(x).zfill(2) if i == 1 else str(x)
                for i, x in enumerate(d.isocalendar())
            )
            for d in days
        ]
        assert got == want


class TestMapAggregates:
    """sum/min/maxMap over a MAP column: per-key aggregation across
    the group's maps, keys sorted like CH; empty input → {}; the CH
    two-array form (tuple-of-arrays result) refused with guidance."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_sum_min_max_map(self, eng):
        r = eng.execute(
            "SELECT sumMap(map(number % 2, number)) AS s, "
            "minMap(map(number % 3, number)) AS mn, "
            "maxMap(map(number % 3, number)) AS mx FROM numbers(6)"
        )
        s, mn, mx = r.rows[0]
        assert s == {0: 6, 1: 9}
        assert mn == {0: 0, 1: 1, 2: 2}
        assert mx == {0: 3, 1: 4, 2: 5}

    def test_grouped_and_empty(self, eng):
        r = eng.execute(
            "SELECT number % 2 AS g, sumMap(map(number % 3, 1)) AS m "
            "FROM numbers(6) GROUP BY g ORDER BY g"
        )
        assert [row[1] for row in r.rows] == [
            {0: 1, 1: 1, 2: 1}, {0: 1, 1: 1, 2: 1},
        ]
        r2 = eng.execute(
            "SELECT sumMap(map(number, number)) AS m FROM numbers(5) "
            "WHERE 1 = 0"
        )
        assert r2.rows == [[{}]]

    def test_two_array_form(self, eng):
        # Graduated later in round 7: the (keys, values) form folds
        # the per-row map and splits back into a tuple of arrays.
        r = eng.execute("SELECT sumMap([1,2],[10,20]) AS s")
        assert list(r.rows[0][0]) == [[1, 2], [10, 20]]


class TestSumMapFiltered:
    def test_keep_list_filter(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        r = eng.execute(
            "SELECT sumMapFiltered([0, 2])(map(number % 3, number)) "
            "AS m FROM numbers(6)"
        )
        assert r.rows == [[{0: 3, 2: 7}]]


class TestExponentialMovingAverage:
    def test_decayed_weighted_mean(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        # halflife 1: weights at T=1 are 2^-1 for t=0 and 1 for t=1 →
        # (1·0.5 + 2·1) / 1.5. Order-free: shuffled input, same value.
        for rows in ("(1.0, 0.0), (2.0, 1.0)", "(2.0, 1.0), (1.0, 0.0)"):
            r = eng.execute(
                "SELECT exponentialMovingAverage(1)(v, t) AS e FROM "
                f"values('v Float64, t Float64', {rows})"
            )
            assert abs(r.rows[0][0] - 5 / 3) < 1e-12


class TestRound6ProbeTranche2:
    """Second round-6 tranche: statistical-test refusals upgraded
    from opaque UNRESOLVED_ROUTINE to guided errors, plus the
    mappable stragglers."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_mapped_stragglers(self, eng):
        r = eng.execute(
            "SELECT editDistanceUTF8('abc', 'abd') AS e, "
            "arrayROCAUC([0.1, 0.9], [0, 1]) AS auc, "
            "quantileDD(0.01, 0.5)(number) AS q FROM numbers(100)"
        )
        e, auc, q = r.rows[0]
        assert e == 1 and auc == 1.0 and 45 <= q <= 55

    def test_group_array_intersect(self, eng):
        r = eng.execute(
            "SELECT groupArrayIntersect(a) AS r FROM "
            "values('a Array(Int64)', ([1,2,3]), ([2,3,4]), ([3,2]))"
        )
        assert sorted(r.rows[0][0]) == [2, 3]
        r2 = eng.execute(
            "SELECT groupArrayIntersect(a) AS r FROM "
            "values('a Array(Int64)', ([1])) WHERE 1 = 0"
        )
        assert r2.rows == [[[]]]

    def test_values_array_rows(self, eng):
        # CH [..] literals inside values() row payloads now rewrite.
        r = eng.execute(
            "SELECT a FROM values('a Array(Int64)', ([1,2]), ([3]))"
        )
        assert [row[0] for row in r.rows] == [[1, 2], [3]]

    @pytest.mark.parametrize(
        "expr,hint",
        [
            ("andersonDarlingTest(x)", "ECDF"),
            # exponentialTimeDecayed* implemented as WINDOW functions
            # in round 7; the non-window spelling now guides to the
            # OVER form / exponentialMovingAverage.
            ("exponentialTimeDecayedSum(5)(x, g)", "window function"),
        ],
    )
    def test_guided_statistical_refusals(self, eng, expr, hint):
        with pytest.raises(ValueError, match=hint):
            eng.execute(
                f"SELECT {expr} FROM "
                "values('x Float64, g UInt8', (1.0, 0))"
            )


class TestRound6ProbeTranche3:
    """Third round-6 tranche: DateTime64 constructors/epochs,
    bounded distinct collection, exact-inclusive quantiles, matrix
    aggregates guided."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_datetime64_family(self, eng):
        r = eng.execute(
            "SELECT toDateTime64('2024-01-01 00:00:00.123', 3) AS t, "
            "toUnixTimestamp64Milli("
            "toDateTime64('2024-01-01 00:00:00.123', 3)) AS ms, "
            "toUnixTimestamp64Nano("
            "toDateTime64('2024-01-01 00:00:00', 3)) AS ns"
        )
        t, ms, ns = r.rows[0]
        assert t.microsecond == 123000
        assert ms == 1704067200123
        assert ns == 1704067200000000000

    def test_bounded_distinct_and_inclusive_quantiles(self, eng):
        r = eng.execute(
            "SELECT size(groupUniqArray(2)(number % 5)) AS n, "
            "quantilesExactInclusive(0.5, 1.0)(number) AS q, "
            "quantileExactInclusive(0.5)(number) AS m "
            "FROM numbers(101)"
        )
        n, q, m = r.rows[0]
        assert n == 2 and q == [50.0, 100.0] and m == 50.0

    def test_matrix_and_exclusive_graduated(self, eng):
        # both refused until round 10 (TestAggregateMatrices /
        # TestExclusiveQuantiles carry the value pins)
        assert eng.execute(
            "SELECT corrMatrix(x, x) IS NOT NULL AS a, "
            "quantilesExactExclusive(0.5)(x) IS NOT NULL AS b "
            "FROM values('x Float64', (1.0), (2.0))"
        ).rows == [[True, True]]


class TestRound6ProbeTranche4:
    """Fourth round-6 tranche: JSON path-argument forms (JSONType /
    JSONExtractArrayRaw at a key path), typed JSONExtract."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_json_type_at_path(self, eng):
        r = eng.execute(
            'SELECT JSONType(\'{"a":1}\', \'a\') AS i, '
            'JSONType(\'{"a":"s"}\', \'a\') AS s, '
            'JSONType(\'{"a":[1]}\', \'a\') AS arr, '
            'JSONType(\'{"a":1.5}\', \'a\') AS d, '
            'JSONType(\'{"a":1}\') AS root'
        )
        assert r.rows == [["Int64", "String", "Array", "Double",
                           "Object"]]

    def test_json_extract_array_raw_at_path(self, eng):
        r = eng.execute(
            'SELECT JSONExtractArrayRaw(\'{"a": [1,2]}\', \'a\') AS p, '
            "JSONExtractArrayRaw('[3,4]') AS root"
        )
        assert r.rows == [[["1", "2"], ["3", "4"]]]

    def test_json_extract_typed(self, eng):
        r = eng.execute(
            'SELECT JSONExtract(\'{"a":1}\', \'a\', \'Int64\') AS x, '
            'JSONExtract(\'{"a":[1,2]}\', \'a\', \'Array(Int64)\') AS arr, '
            'JSONExtract(\'{"a":{"b":7}}\', \'a\', \'b\', \'Int64\') AS n'
        )
        assert r.rows == [[1, [1, 2], 7]]
        with pytest.raises(ValueError, match="unsupported type"):
            eng.execute(
                "SELECT JSONExtract('{}', 'a', 'Tuple(Int64)')"
            )


class TestRound6ProbeTranche5:
    def test_array_element_oob_and_map_key_like(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        r = eng.execute(
            "SELECT arrayElement([1,2,3], 9) AS oob, "
            "arrayElement([1,2,3], -1) AS neg, "
            "mapExtractKeyLike(map('abc', 1, 'xyz', 2), 'a%') AS mk"
        )
        # CH returns the type default out-of-bounds; NULL is the
        # honest Spark analog (ANSI element_at would throw).
        assert r.rows == [[None, 3, {"abc": 1}]]


class TestRound6ProbeTranche6:
    def test_split_pad_zip_stragglers(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        r = eng.execute(
            "SELECT splitByNonAlpha('ab.c1 d') AS s, "
            "leftPadUTF8('x', 3, '_') AS l, "
            "rightPadUTF8('x', 3, '_') AS rp, "
            "arrayZipUnaligned([1,2,3], ['a']) AS z"
        )
        s, l, rp, z = r.rows[0]
        assert s == ["ab", "c1", "d"]
        assert l == "__x" and rp == "x__"
        assert len(z) == 3 and z[0][0] == 1 and z[1][1] is None


class TestRound7ArrayIntervalTranche:
    """Round-7 third tranche: arraySplit/arrayReverseSplit,
    tupleHammingDistance, flattenTuple, arrayLevenshteinDistance,
    byteSwap, mapApply, maxIntersections(Position),
    intervalLengthSum, deltaSumTimestamp — former guided refusals
    graduated to expression/fold implementations."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_array_split(self, eng):
        # CH docs anchor: two-source lambda form.
        r = eng.execute(
            "SELECT arraySplit((x, y) -> y, [1, 2, 3, 4, 5], "
            "[1, 0, 0, 1, 0]) AS a, "
            "arrayReverseSplit((x, y) -> y, [1, 2, 3, 4, 5], "
            "[1, 0, 0, 1, 0]) AS b"
        )
        assert r.rows[0][0] == [[1, 2, 3], [4, 5]]
        assert r.rows[0][1] == [[1], [2, 3, 4], [5]]
        # Single-array lambda; cut at zeros (first element never cuts).
        r = eng.execute(
            "SELECT arraySplit(x -> x = 0, [1, 2, 0, 3, 0, 4]) AS a, "
            "arraySplit(x -> x = 0, [0, 1, 2]) AS leading, "
            "arraySplit(x -> true, [7]) AS single, "
            "arraySplit(x -> true, CAST(array() AS ARRAY<INT>)) AS mt"
        )
        assert r.rows[0][0] == [[1, 2], [0, 3], [0, 4]]
        assert r.rows[0][1] == [[0, 1, 2]]
        assert r.rows[0][2] == [[7]]
        assert r.rows[0][3] == []
        # Reverse split: flag on the LAST element is a no-op.
        r = eng.execute(
            "SELECT arrayReverseSplit(x -> x = 0, [1, 0, 2, 3, 0]) "
            "AS a"
        )
        assert r.rows[0][0] == [[1, 0], [2, 3, 0]]

    def test_tuple_hamming_and_flatten(self, eng):
        r = eng.execute(
            "SELECT tupleHammingDistance(tuple(1, 2, 3), "
            "tuple(3, 2, 1)) AS h, "
            "tupleHammingDistance((1, 'a'), (1, 'b')) AS h2, "
            "tupleHammingDistance(tuple(NULL, 1), tuple(NULL, 2)) "
            "AS hn"
        )
        assert r.rows[0][:3] == [2, 1, 1]  # NULL <=> NULL is equal
        r = eng.execute(
            "SELECT flattenTuple(tuple(1, tuple(2, tuple(3, 4)), 5)) "
            "AS f"
        )
        assert list(r.rows[0][0]) == [1, 2, 3, 4, 5]
        # Column-typed tuples keep the guided refusal.
        import pytest as _pt

        with _pt.raises(Exception, match="inline tuples"):
            eng.execute(
                "SELECT tupleHammingDistance(t, t) FROM "
                "(SELECT tuple(1, 2) AS t)"
            )

    def test_array_levenshtein(self, eng):
        r = eng.execute(
            "SELECT arrayLevenshteinDistance([1, 2, 4], [1, 2, 3]) "
            "AS a, "
            "arrayLevenshteinDistance(['k','i','t','t','e','n'], "
            "['s','i','t','t','i','n','g']) AS b, "
            "arrayLevenshteinDistance(CAST(array() AS ARRAY<INT>), "
            "[1, 2]) AS c, "
            "arrayLevenshteinDistance([1, 2], "
            "CAST(array() AS ARRAY<INT>)) AS d, "
            "arrayLevenshteinDistance(CAST(array() AS ARRAY<INT>), "
            "CAST(array() AS ARRAY<INT>)) AS e"
        )
        assert r.rows[0] == [1, 3, 2, 2, 0]

    def test_byte_swap(self, eng):
        import struct

        def swap(v, width, signed=True):
            raw = int(v).to_bytes(width, "little", signed=signed)
            return int.from_bytes(raw, "big", signed=signed)

        r = eng.execute(
            "SELECT byteSwap(CAST(258 AS SMALLINT)) AS s16, "
            "byteSwap(CAST(305419896 AS INT)) AS s32, "
            "byteSwap(CAST(-2 AS INT)) AS neg32, "
            "byteSwap(CAST(123456789012345678 AS BIGINT)) AS s64, "
            "byteSwap(CAST(7 AS TINYINT)) AS s8"
        )
        assert r.rows[0][0] == swap(258, 2)
        assert r.rows[0][1] == swap(305419896, 4)
        assert r.rows[0][2] == swap(-2, 4)
        assert r.rows[0][3] == swap(123456789012345678, 8)
        assert r.rows[0][4] == 7

    def test_map_apply(self, eng):
        r = eng.execute(
            "SELECT mapApply((k, v) -> (concat(k, '!'), v * 2), "
            "map('a', 1, 'b', 2)) AS m"
        )
        assert r.rows[0][0] == {"a!": 2, "b!": 4}
        # keys may depend on values and vice versa
        r = eng.execute(
            "SELECT mapApply((k, v) -> (v, k), map('a', 1)) AS m"
        )
        assert r.rows[0][0] == {1: "a"}
        import pytest as _pt

        with _pt.raises(Exception, match="2-tuple"):
            eng.execute(
                "SELECT mapApply((k, v) -> k, map('a', 1)) AS m"
            )

    def test_interval_sweeps(self, eng):
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __iv7 AS SELECT * FROM VALUES "
            "(1.0, 3.0), (2.0, 5.0), (4.0, 6.0), (7.0, 8.0) AS t(s, e)"
        )
        r = eng.execute(
            "SELECT maxIntersections(s, e) AS mi, "
            "maxIntersectionsPosition(s, e) AS mp, "
            "intervalLengthSum(s, e) AS ls FROM __iv7"
        )
        # overlaps: [2,3) and [4,5) both have 2; first max at s=2.
        assert r.rows[0][0] == 2
        assert abs(r.rows[0][1] - 2.0) < 1e-12
        # union [1,6] ∪ [7,8] = 5 + 1
        assert abs(r.rows[0][2] - 6.0) < 1e-12
        # Half-open: touching intervals do not intersect.
        r = eng.execute(
            "SELECT maxIntersections(s, e) AS mi FROM (SELECT * FROM "
            "VALUES (1.0, 2.0), (2.0, 3.0) AS t(s, e))"
        )
        assert r.rows[0][0] == 1
        # NULL rows skip; empty group → 0 / NULL / 0.
        r = eng.execute(
            "SELECT maxIntersections(s, e) AS mi, "
            "maxIntersectionsPosition(s, e) AS mp, "
            "intervalLengthSum(s, e) AS ls FROM (SELECT "
            "CAST(NULL AS DOUBLE) AS s, CAST(NULL AS DOUBLE) AS e)"
        )
        assert r.rows[0][0] == 0
        assert r.rows[0][1] is None
        assert abs(r.rows[0][2]) < 1e-12

    def test_delta_sum_timestamp(self, eng):
        r = eng.execute(
            "SELECT deltaSumTimestamp(v, t) AS d FROM (SELECT * FROM "
            "VALUES (1, 1.0), (2, 3.0), (3, 2.0), (4, 5.0) AS t(t, v))"
        )
        # diffs in t order: +2, −1 (ignored), +3 → 5
        assert abs(r.rows[0][0] - 5.0) < 1e-12
        # grouped, NULLs skipped
        r = eng.execute(
            "SELECT g, deltaSumTimestamp(v, t) AS d FROM (SELECT * "
            "FROM VALUES (0, 1, 10.0), (0, 2, 12.0), "
            "(0, 3, CAST(NULL AS DOUBLE)), (0, 4, 11.0), "
            "(1, 1, 5.0), (1, 2, 9.0) AS t(g, t, v)) "
            "GROUP BY g ORDER BY g"
        )
        assert abs(r.rows[0][1] - 2.0) < 1e-12
        assert abs(r.rows[1][1] - 4.0) < 1e-12


class TestRound7GeoHilbertTranche:
    """Round-7 fourth tranche: hilbertEncode/hilbertDecode (published
    xy2d/d2xy walks as bit-level folds), polygonAreaCartesian /
    polygonPerimeterCartesian (shoelace + edge-length ring folds),
    avgForEach."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_hilbert_anchors_and_roundtrip(self, eng):
        # CH docs: hilbertEncode(3, 4) = 31; hilbertDecode(2, 31) =
        # (3, 4); 1-D forms are the identity.
        r = eng.execute(
            "SELECT hilbertEncode(3, 4) AS h, hilbertEncode(5) AS i1, "
            "hilbertDecode(2, 31) AS d, hilbertDecode(1, 9) AS d1, "
            "hilbertEncode(0, 0) AS q0, hilbertEncode(1, 0) AS q3, "
            "hilbertEncode(1, 1) AS q2, hilbertEncode(0, 1) AS q1"
        )
        assert r.rows[0] == [31, 5, [3, 4], [9], 0, 3, 2, 1]
        # Round-trip across the supported 31-bit coordinate range.
        r = eng.execute(
            "SELECT hilbertDecode(2, hilbertEncode(123456789, "
            "987654321)) AS a, hilbertDecode(2, hilbertEncode("
            "2147483647, 2147483647)) AS b, "
            "hilbertDecode(2, hilbertEncode(0, 2147483647)) AS c"
        )
        assert r.rows[0][0] == [123456789, 987654321]
        assert r.rows[0][1] == [2147483647, 2147483647]
        assert r.rows[0][2] == [0, 2147483647]
        # Guard: coordinates beyond 2^31−1 raise with guidance.
        with pytest.raises(Exception, match="2147483647"):
            eng.execute("SELECT hilbertEncode(2147483648, 0) AS x")

    def test_polygon_cartesian(self, eng):
        r = eng.execute(
            "SELECT polygonAreaCartesian([[(0., 0.), (0., 5.), "
            "(5., 5.), (5., 0.)]]) AS a, "
            "polygonPerimeterCartesian([[(0., 0.), (0., 5.), "
            "(5., 5.), (5., 0.)]]) AS p"
        )
        assert abs(r.rows[0][0] - 25.0) < 1e-9
        assert abs(r.rows[0][1] - 20.0) < 1e-9
        # Holes subtract from area; their boundary adds to perimeter.
        r = eng.execute(
            "SELECT polygonAreaCartesian([[(0.,0.),(0.,10.),"
            "(10.,10.),(10.,0.)],[(4.,4.),(4.,6.),(6.,6.),(6.,4.)]]) "
            "AS a, polygonPerimeterCartesian([[(0.,0.),(0.,10.),"
            "(10.,10.),(10.,0.)],[(4.,4.),(4.,6.),(6.,6.),(6.,4.)]]) "
            "AS p"
        )
        assert abs(r.rows[0][0] - 96.0) < 1e-9
        assert abs(r.rows[0][1] - 48.0) < 1e-9
        # Winding-direction independent (shoelace is |abs|'d): a
        # clockwise outer ring gives the same area.
        r = eng.execute(
            "SELECT polygonAreaCartesian([[(0., 0.), (5., 0.), "
            "(5., 5.), (0., 5.)]]) AS a"
        )
        assert abs(r.rows[0][0] - 25.0) < 1e-9
        # Triangle: non-axis-aligned anchor.
        r = eng.execute(
            "SELECT polygonAreaCartesian([[(0., 0.), (4., 0.), "
            "(0., 3.)]]) AS a, polygonPerimeterCartesian([[(0., 0.), "
            "(4., 0.), (0., 3.)]]) AS p"
        )
        assert abs(r.rows[0][0] - 6.0) < 1e-9
        assert abs(r.rows[0][1] - 12.0) < 1e-9

    def test_avg_foreach(self, eng):
        r = eng.execute(
            "SELECT avgForEach(arr) AS a FROM (SELECT * FROM VALUES "
            "(array(1, 2)), (array(3, 4, 10)) AS t(arr))"
        )
        # ragged: position 3 averages over the single array having it
        assert r.rows[0][0] == [2.0, 3.0, 10.0]
        # NULL elements neither add nor count.
        r = eng.execute(
            "SELECT avgForEach(arr) AS a FROM (SELECT * FROM VALUES "
            "(array(CAST(NULL AS INT), 2)), (array(4, 4)) AS t(arr))"
        )
        assert r.rows[0][0] == [4.0, 3.0]
        # Empty group → empty array (same contract as sumForEach).
        r = eng.execute(
            "SELECT avgForEach(arr) AS a FROM (SELECT array(1) AS "
            "arr) WHERE 1 = 0"
        )
        assert r.rows[0][0] == []


class TestRound7MapResample:
    """Round-7 fifth tranche: two-array sum/min/maxMap forms,
    tupleToNameValuePairs, the -Resample combinators, and
    geohashesInBox."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_two_array_map_forms(self, eng):
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __mr7 AS SELECT * FROM VALUES "
            "(array(1, 2), array(10, 20)), "
            "(array(2, 3), array(5, 7)) AS t(k, v)"
        )
        r = eng.execute(
            "SELECT sumMap(k, v) AS s, minMap(k, v) AS lo, "
            "maxMap(k, v) AS hi FROM __mr7"
        )
        s, lo, hi = r.rows[0]
        assert list(s) == [[1, 2, 3], [10, 25, 7]]
        assert list(lo) == [[1, 2, 3], [10, 5, 7]]
        assert list(hi) == [[1, 2, 3], [10, 20, 7]]

    def test_tuple_to_name_value_pairs(self, eng):
        r = eng.execute(
            "SELECT tupleToNameValuePairs(tuple(10, 20, 30)) AS p"
        )
        assert [list(x) for x in r.rows[0][0]] == [
            ["1", 10], ["2", 20], ["3", 30]
        ]
        with pytest.raises(ValueError, match="inline"):
            eng.execute(
                "SELECT tupleToNameValuePairs(t) FROM "
                "(SELECT tuple(1) AS t)"
            )

    def test_resample_combinators(self, eng):
        eng.spark.sql(
            "CREATE OR REPLACE TEMP VIEW __rs7 AS SELECT * FROM VALUES "
            "(5, CAST(1 AS DOUBLE)), (15, 2.0), (17, 4.0), "
            "(29, 8.0), (35, 99.0) AS t(k, v)"
        )
        r = eng.execute(
            "SELECT sumResample(0, 30, 10)(v, k) AS s, "
            "countResample(0, 30, 10)(k) AS c, "
            "avgResample(0, 30, 10)(v, k) AS a, "
            "minResample(0, 30, 10)(v, k) AS lo, "
            "maxResample(0, 30, 10)(v, k) AS hi FROM __rs7"
        )
        s, c, a, lo, hi = r.rows[0]
        assert [float(x) for x in s] == [1.0, 6.0, 8.0]  # 35 excluded
        assert c == [1, 2, 1]
        assert [float(x) for x in a] == [1.0, 3.0, 8.0]
        assert [float(x) for x in lo] == [1.0, 2.0, 8.0]
        assert [float(x) for x in hi] == [1.0, 4.0, 8.0]
        # Partial last bucket: [0,25) step 10 → [20,25) cuts at end.
        r = eng.execute(
            "SELECT countResample(0, 25, 10)(k) AS c FROM (SELECT * "
            "FROM VALUES (24), (26) AS t(k))"
        )
        assert r.rows[0][0] == [0, 0, 1]
        # Guards: bucket cap and non-literal parameters.
        with pytest.raises(ValueError, match="cap"):
            eng.execute(
                "SELECT sumResample(0, 1000000, 1)(v, k) FROM __rs7"
            )
        with pytest.raises(ValueError, match="numeric literals"):
            eng.execute(
                "SELECT sumResample(k, 10, 1)(v, k) FROM __rs7"
            )

    def test_geohashes_in_box(self, eng):
        r = eng.execute(
            "SELECT geohashesInBox(-1.0, -1.0, 1.0, 1.0, 2) AS four, "
            "geohashesInBox(0.0, 0.0, 0.0, 0.0, 6) AS pt, "
            "geohashesInBox(1.0, 1.0, -1.0, -1.0, 3) AS inverted"
        )
        four, pt, inverted = r.rows[0]
        assert len(four) == 4 and len(set(four)) == 4
        assert all(len(h) == 2 for h in four)
        assert inverted == []
        # The cell containing a point inside the box IS in the set.
        r2 = eng.execute("SELECT geohashEncode(0.001, 0.001, 6) AS h")
        assert r2.rows[0][0] in pt
        # Oversize → guided error, not an OOM.
        with pytest.raises(Exception, match="cap"):
            eng.execute(
                "SELECT geohashesInBox(-180.0, -90.0, 180.0, 90.0, "
                "12) AS g"
            )


class TestRound7SeriesLangTranche:
    """Round-7 sixth tranche: seriesPeriodDetectFFT (numpy rfft
    dominant period) and detectLanguage (the in-engine stopword
    heuristic standing in for CH's CLD2 models, documented)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_series_period_fft(self, eng):
        import math

        r = eng.execute(
            "SELECT seriesPeriodDetectFFT([1.0,4,6,1,4,6,1,4,6,"
            "1,4,6,1,4,6]) AS p3, "
            "seriesPeriodDetectFFT([0.0,1,0,1,0,1,0,1]) AS p2, "
            "seriesPeriodDetectFFT([5.0,5,5,5,5]) AS flat, "
            "seriesPeriodDetectFFT([1.0,2]) AS short, "
            "seriesPeriodDetectFFT(CAST(NULL AS ARRAY<DOUBLE>)) AS n"
        )
        p3, p2, flat, short, n = r.rows[0]
        assert p3 == 3.0  # CH docs anchor
        assert p2 == 2.0
        assert math.isnan(flat) and math.isnan(short)
        assert n is None

    def test_detect_language(self, eng):
        r = eng.execute(
            "SELECT detectLanguage('the cat and the dog of a to') "
            "AS en, detectLanguage('la el de que y') AS es, "
            "detectLanguage('der hund und die katze') AS de, "
            "detectLanguage('xyzzy qwerty') AS und"
        )
        assert r.rows[0] == ["en", "es", "de", "und"]

    def test_markers_match_text_module(self):
        # The UDF module duplicates LANG_MARKERS (ships by value, no
        # sibling imports at unpickle) — they must stay identical.
        from bighouse_spark.functions.miscfuncs import _LANG_MARKERS
        from bighouse_spark.functions.text import LANG_MARKERS

        assert _LANG_MARKERS == LANG_MARKERS


class TestRound7OutlierBytesTranche:
    """Round-7 seventh tranche: seriesOutliersDetectTukey,
    byteHammingDistance, mapReverseSort, dateTimeToSnowflakeID."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_tukey_outliers(self, eng):
        xs = [-3.0, 2.4, 15, 3.9, 5, 6, 4.5, 5.2, 3, 4, 5, 16, 7,
              5.8, 3.5, 4.5, 4.7, 3.2, 3.25, 3.7]
        arr = ", ".join(str(v) for v in xs)
        r = eng.execute(
            f"SELECT seriesOutliersDetectTukey([{arr}]) AS s"
        )
        # Independent recompute: linear-interpolated quartiles,
        # k = 1.5 fences, score = distance beyond the nearest fence.
        s = sorted(xs)
        n = len(s)

        def q(p):
            pos = (n - 1) * p
            lo = int(pos)
            return s[lo] + (pos - lo) * (s[min(lo + 1, n - 1)] - s[lo])

        q1, q3 = q(0.25), q(0.75)
        lo_f, hi_f = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        expect = [max(0.0, lo_f - x, x - hi_f) for x in xs]
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(r.rows[0][0], expect)
        )
        # Only the three true outliers score non-zero.
        assert [i for i, v in enumerate(r.rows[0][0]) if v > 0] == [
            0, 2, 11
        ]
        # Percent spelling == fraction spelling; <4 points raise.
        r = eng.execute(
            "SELECT seriesOutliersDetectTukey([1.0,2,3,100,2,3,1,2], "
            "0.25, 0.75, 1.5) AS a, "
            "seriesOutliersDetectTukey([1.0,2,3,100,2,3,1,2], "
            "25, 75, 1.5) AS b"
        )
        assert r.rows[0][0] == r.rows[0][1]
        with pytest.raises(Exception, match="at least 4"):
            eng.execute(
                "SELECT seriesOutliersDetectTukey([1.0, 2, 3]) AS s"
            )

    def test_byte_hamming(self, eng):
        r = eng.execute(
            "SELECT byteHammingDistance('abc', 'abd') AS a, "
            "byteHammingDistance('', 'ab') AS b, "
            "byteHammingDistance('münch', 'munch') AS c, "
            "byteHammingDistance('same', 'same') AS d"
        )
        # 'münch' vs 'munch' at BYTE level: ü is 2 bytes (0xC3 0xBC),
        # shifting the suffix — 4 differing bytes + 1 length byte.
        assert r.rows[0] == [1, 2, 5, 0]

    def test_map_reverse_sort_and_snowflake_inverse(self, eng):
        r = eng.execute(
            "SELECT map_keys(mapReverseSort(map('a', 1, 'c', 3, "
            "'b', 2))) AS k, "
            "snowflakeIDToDateTime(dateTimeToSnowflakeID("
            "TIMESTAMP'2024-01-02 03:04:05')) AS rt"
        )
        assert r.rows[0][0] == ["c", "b", "a"]
        import datetime

        assert r.rows[0][1] == datetime.datetime(2024, 1, 2, 3, 4, 5)


class TestGetSetting:
    """getSetting('k') resolves to the literal value assigned by the
    query's SETTINGS clause (or a wire session's merged SET state);
    never-set names keep the guided error naming system_settings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_set_values_resolve(self, eng):
        r = eng.execute(
            "SELECT getSetting('my_tag') AS t, "
            "getSetting('custom_n') AS n "
            "SETTINGS my_tag = 'abc', custom_n = 42"
        )
        assert r.rows == [["abc", 42]]

    def test_quoting_is_injection_safe(self, eng):
        r = eng.execute(
            "SELECT getSetting('v') AS t SETTINGS v = 'a''b'"
        )
        assert r.rows == [["a'b"]]

    def test_unset_name_guides(self, eng):
        with pytest.raises(ValueError, match="system_settings"):
            eng.execute("SELECT getSetting('never_set_xyz')")

    def test_session_set_persists_into_get_setting(self, eng):
        # The wire layers send per-connection SET state as the
        # statement's init SET — exercised engine-level here.
        from bighouse_spark.engine import QueryRequest

        assert eng.execute(QueryRequest(
            query="SELECT getSetting('mood') AS m",
            init_queries=["SET mood = 'calm'"],
        )).rows == [["calm"]]


class TestRound7ProbeTranche2:
    """Round-7 eighth tranche, from the broad probe sweep:
    multiSearchFirstPosition, extractKeyValuePairs,
    parseReadableSize family, bitTestAll/Any, erfInv,
    UUIDv7ToDateTime, toUUIDOrZero, IPv4 OrNull/OrDefault variants,
    server-identity constants, and guided refusals for the
    unshippable tails."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_multi_search_first_position(self, eng):
        r = eng.execute(
            "SELECT multiSearchFirstPosition('hello world', "
            "['wor', 'ell']) AS p, "
            "multiSearchFirstPosition('abc', ['xyz']) AS z"
        )
        assert r.rows == [[2, 0]]

    def test_extract_key_value_pairs(self, eng):
        r = eng.execute(
            "SELECT extractKeyValuePairs("
            "'name:neymar, age:31; team:psg') AS m"
        )
        assert r.rows[0][0] == {
            "name": "neymar", "age": "31", "team": "psg"
        }
        r = eng.execute(
            "SELECT extractKeyValuePairs('a=1|b=2', '=', '|') AS m"
        )
        assert r.rows[0][0] == {"a": "1", "b": "2"}
        with pytest.raises(ValueError, match="quot"):
            eng.execute(
                "SELECT extractKeyValuePairs('x', ':', ',', '\"')"
            )

    def test_parse_readable_size(self, eng):
        r = eng.execute(
            "SELECT parseReadableSize('1 KiB') AS a, "
            "parseReadableSize('1.5 MB') AS b, "
            "parseReadableSizeOrNull('junk') AS c, "
            "parseReadableSizeOrZero('junk') AS d, "
            "parseReadableSize('3 B') AS e"
        )
        assert r.rows == [[1024, 1500000, None, 0, 3]]
        with pytest.raises(Exception, match="cannot parse"):
            eng.execute("SELECT parseReadableSize('nope')")
        # '1.2.3 KiB' passes a naive [0-9.]+ shape check but is not a
        # castable number — the Or-variants must substitute, not
        # raise an ANSI CAST error (review regression).
        r = eng.execute(
            "SELECT parseReadableSizeOrNull('1.2.3 KiB') AS a, "
            "parseReadableSizeOrZero('1.2.3 KiB') AS b, "
            "parseReadableSizeOrNull('.5 KiB') AS c"
        )
        assert r.rows == [[None, 0, 512]]

    def test_bit_tests_and_erfinv(self, eng):
        r = eng.execute(
            "SELECT bitTestAll(7, 0, 1, 2) AS a, "
            "bitTestAll(5, 0, 1) AS b, bitTestAny(4, 0, 2) AS c, "
            "bitTestAny(4, 0, 1) AS d, round(erfInv(0.5), 6) AS e"
        )
        assert r.rows == [[1, 0, 1, 0, 0.476936]]

    def test_uuid7_and_or_variants(self, eng):
        import datetime

        r = eng.execute(
            # RFC 9562's UUIDv7 example — timestamp 2022-02-22
            # 14:22:22-05:00 (19:22:22 UTC).
            "SELECT UUIDv7ToDateTime("
            "'017f22e2-79b0-7cc3-98c4-dc0c0c07398f') AS t, "
            "toUUIDOrZero('bad') AS z, "
            "toIPv4OrNull('1.2.3.999') AS bad_ip, "
            "toIPv4OrNull('001.2.3.4') AS norm, "
            "IPv4StringToNumOrDefault('nope') AS dflt, "
            "IPv4StringToNumOrNull('nope') AS nul"
        )
        assert r.rows[0] == [
            datetime.datetime(2022, 2, 22, 19, 22, 22),
            "00000000-0000-0000-0000-000000000000",
            None, "1.2.3.4", 0, None,
        ]

    def test_server_identity(self, eng):
        from bighouse_spark.chwire import SERVER_REVISION

        r = eng.execute(
            "SELECT revision() AS r, displayName() AS d, "
            "getOSKernelVersion() AS k"
        )
        # revision() is hardcoded (import-cycle avoidance) — pin it
        # to the chwire constant here.
        assert r.rows[0][0] == SERVER_REVISION
        assert r.rows[0][1] == "bighouse"
        assert isinstance(r.rows[0][2], str) and r.rows[0][2]

    def test_refusal_tail(self, eng):
        for expr, hint in [
            ("multiFuzzyMatchAny('x', 1, ['x'])", "fuzzy"),
            ("firstSignificantSubdomainCustom('x', 'l')", "suffix"),
            ("zookeeperSessionUptime()", "ZooKeeper"),
            ("nested(['k'], [1])", "arrayZip"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr}")


class TestRound7AggSweepAdditions:
    """Aggregate-probe additions: simpleLinearRegression and the
    approx_top_sum alias of topKWeighted."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_simple_linear_regression(self, eng):
        r = eng.execute(
            "SELECT simpleLinearRegression(x, y) AS r FROM (SELECT * "
            "FROM VALUES (0.0, 3.0), (1.0, 5.0), (2.0, 7.0), "
            "(3.0, 9.0) AS t(x, y))"
        )
        k, b = r.rows[0][0]
        assert abs(k - 2.0) < 1e-12 and abs(b - 3.0) < 1e-12
        # Constant x: slope floor-guard, no DIVIDE_BY_ZERO.
        r = eng.execute(
            "SELECT simpleLinearRegression(1.0, y) AS r FROM "
            "(SELECT CAST(5.0 AS DOUBLE) AS y)"
        )
        assert r.rows[0][0] is not None

    def test_approx_top_sum(self, eng):
        r = eng.execute(
            "SELECT approx_top_sum(2)(number % 3, number) AS a, "
            "approx_top_sum(number % 3, number) AS b FROM numbers(7)"
        )
        # weights: value 0 → 9, 2 → 7, 1 → 5. CH's approx_top_sum
        # returns Array(Tuple(item, count, error)), NOT topKWeighted's
        # bare values array; the exact twin reports error = 0.
        assert [tuple(t) for t in r.rows[0][0]] == [(0, 9, 0), (2, 7, 0)]
        assert [tuple(t) for t in r.rows[0][1]] == [
            (0, 9, 0), (2, 7, 0), (1, 5, 0)
        ]
        # topKWeighted itself keeps the bare-array shape.
        r = eng.execute(
            "SELECT topKWeighted(2)(number % 3, number) AS a "
            "FROM numbers(7)"
        )
        assert r.rows[0][0] == [0, 2]


class TestRound7HashStemTranche:
    """Bit-exact interop hashes (javaHash/hiveHash/gccMurmurHash/
    kafkaMurmurHash — published algorithms, externally-anchored
    vectors) and stem('en', x) via the published Porter 1980
    algorithm, with guided errors for the unshippable tails."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_java_hash_known_vectors(self, eng):
        # Java String.hashCode published values: "".hashCode()==0,
        # "abc"==96354, "hello"==99162322, "Hello"==69609650.
        r = eng.execute(
            "SELECT javaHash('') AS e, javaHash('abc') AS a, "
            "javaHash('hello') AS h, javaHash('Hello') AS hh, "
            "javaHash(NULL) AS n"
        )
        assert r.rows[0] == [0, 96354, 99162322, 69609650, None]

    def test_java_hash_non_bmp(self, eng):
        # Surrogate-pair path: U+1F600 hashes as its two UTF-16
        # units (0xD83D, 0xDE00) -> 31*0xD83D + 0xDE00.
        r = eng.execute("SELECT javaHash('\U0001F600') AS v")
        want = (31 * 0xD83D + 0xDE00) & 0xFFFFFFFF
        want = want - (1 << 32) if want >= (1 << 31) else want
        assert r.rows[0][0] == want

    def test_hive_hash_sign_zeroed(self, eng):
        # hiveHash == javaHash & 0x7FFFFFFF: pick a string whose
        # javaHash is negative to see the difference.
        r = eng.execute(
            "SELECT javaHash('hello world!') AS j, "
            "hiveHash('hello world!') AS h"
        )
        j, h = r.rows[0]
        assert h == j & 0x7FFFFFFF and h >= 0

    def test_kafka_murmur_finalizer_hand_derived(self, eng):
        # Empty input: h = seed ^ 0, then the three finalizer steps —
        # independently hand-computed arithmetic, no shared code.
        m, mask = 0x5BD1E995, 0xFFFFFFFF
        h = 0x9747B28C
        h ^= h >> 13
        h = (h * m) & mask
        h ^= h >> 15
        r = eng.execute("SELECT kafkaMurmurHash('') AS v")
        assert r.rows[0][0] == h & 0x7FFFFFFF

    def test_kafka_murmur_positive_and_stable(self, eng):
        r = eng.execute(
            "SELECT kafkaMurmurHash('key-1') AS a, "
            "kafkaMurmurHash('key-1') AS b, kafkaMurmurHash('key-2') AS c"
        )
        a, b, c = r.rows[0]
        assert a == b and a != c and 0 <= a <= 0x7FFFFFFF

    def test_gcc_murmur_hand_derived_one_chunk(self, eng):
        # 8-byte input exercises exactly one MurmurHash64A round;
        # recompute it here with independent inline arithmetic.
        data = b"abcdefgh"
        m, mask = 0xC6A4A7935BD1E995, (1 << 64) - 1
        h = (0xC70F6907 ^ (8 * m)) & mask
        k = int.from_bytes(data, "little")
        k = (k * m) & mask
        k ^= k >> 47
        k = (k * m) & mask
        h = ((h ^ k) * m) & mask
        h ^= h >> 47
        h = (h * m) & mask
        h ^= h >> 47
        r = eng.execute("SELECT gccMurmurHash('abcdefgh') AS v")
        assert int(r.rows[0][0]) == h

    def test_interop_hash_multi_arg_guided(self, eng):
        for fn in ("javaHash", "hiveHash", "gccMurmurHash",
                   "kafkaMurmurHash"):
            with pytest.raises(Exception, match="ONE String"):
                eng.execute(f"SELECT {fn}('a', 'b') AS v")

    def test_stem_porter_paper_examples(self, eng):
        r = eng.execute(
            "SELECT stem('en', 'relational') AS a, "
            "stem('en', 'conditional') AS b, "
            "stem('english', 'CONNECTIONS') AS c, "
            "stem('en', 'hopping') AS d, stem('en', 'controlling') AS e, "
            "stem('en', NULL) AS n"
        )
        assert r.rows[0] == [
            "relat", "condit", "connect", "hop", "control", None,
        ]

    def test_stem_language_and_arity_guided(self, eng):
        with pytest.raises(Exception, match="Snowball"):
            eng.execute("SELECT stem('fr', 'mot') AS v")
        with pytest.raises(Exception, match="language, value"):
            eng.execute("SELECT stem('en') AS v")

    def test_moving_avg_guided_matches_moving_sum(self, eng):
        with pytest.raises(Exception, match="block-order"):
            eng.execute(
                "SELECT groupArrayMovingAvg(2)(number) AS v "
                "FROM numbers(4)"
            )


def test_porter_stem_canonical_corpus():
    """The paper's own step examples plus well-known full stems —
    pure-python check of the algorithm, no Spark session needed."""
    from bighouse_spark.functions.porter import porter_stem as p

    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti",
        "caress": "caress", "cats": "cat", "feed": "feed",
        "agreed": "agre", "plastered": "plaster", "bled": "bled",
        "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop",
        "tanned": "tan", "falling": "fall", "hissing": "hiss",
        "fizzed": "fizz", "failing": "fail", "filing": "file",
        "happy": "happi", "sky": "sky", "relational": "relat",
        "conditional": "condit", "rational": "ration",
        "valency": "valenc", "hesitancy": "hesit",
        "digitizer": "digit", "conformably": "conform",
        "radically": "radic", "differently": "differ",
        "vilely": "vile", "analogously": "analog",
        "vietnamization": "vietnam", "predication": "predic",
        "operator": "oper", "feudalism": "feudal",
        "decisiveness": "decis", "hopefulness": "hope",
        "callousness": "callous", "formality": "formal",
        "sensitivity": "sensit", "sensibility": "sensibl",
        "triplicate": "triplic", "formative": "form",
        "formalize": "formal", "electricity": "electr",
        "electrical": "electr", "hopeful": "hope",
        "goodness": "good", "revival": "reviv",
        "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "gyroscopic": "gyroscop",
        "adjustable": "adjust", "defensible": "defens",
        "irritant": "irrit", "replacement": "replac",
        "adjustment": "adjust", "dependent": "depend",
        "adoption": "adopt", "communism": "commun",
        "activate": "activ", "effective": "effect",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controlling": "control", "rolling": "roll",
        "connected": "connect", "connecting": "connect",
        "connection": "connect", "connections": "connect",
    }
    bad = {w: (p(w), want) for w, want in cases.items() if p(w) != want}
    assert not bad, bad


class TestRound7UrlTupleSweep:
    """Late-r7 probe-sweep graduations: URL parameter surgery,
    timestampAdd/Sub interval aliases, RFC 4648 base32, and the
    tuple intDiv/modulo family."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_extract_url_parameter_names(self, eng):
        r = eng.execute(
            "SELECT extractURLParameterNames("
            "'http://a/?k=v&z=2&flag') AS v"
        )
        assert r.rows[0][0] == ["k", "z", "flag"]

    def test_cut_url_parameter(self, eng):
        cases = [
            ("http://a/?k=v&z=2", "k", "http://a/?z=2"),
            ("http://a/?k=v&z=2", "z", "http://a/?k=v"),
            ("http://a/?z=2", "z", "http://a/"),         # lone param takes '?'
            ("http://a/?k=1&k=2&z=3", "k", "http://a/?z=3"),  # duplicates
            ("http://a/?k=v#frag", "k", "http://a/#frag"),    # fragment kept
            ("http://a/?kk=v&k=2", "k", "http://a/?kk=v"),    # no prefix match
            ("http://a/?z=2", "missing", "http://a/?z=2"),
        ]
        for url, name, want in cases:
            r = eng.execute(
                f"SELECT cutURLParameter('{url}', '{name}') AS v"
            )
            assert r.rows[0][0] == want, (url, name)

    def test_cut_url_parameter_dynamic_name_guided(self, eng):
        with pytest.raises(Exception, match="string literal"):
            eng.execute(
                "SELECT cutURLParameter('http://a/?k=v', x) AS v "
                "FROM (SELECT 'k' AS x)"
            )

    def test_timestamp_add_sub(self, eng):
        r = eng.execute(
            "SELECT timestampAdd(toDate('2020-01-01'), "
            "INTERVAL 1 DAY) AS a, "
            "timestampSub(toDate('2020-01-05'), INTERVAL 1 MONTH) AS b"
        )
        import datetime

        assert r.rows[0] == [
            datetime.date(2020, 1, 2), datetime.date(2019, 12, 5),
        ]

    def test_base32_roundtrip(self, eng):
        r = eng.execute(
            "SELECT base32Encode('hi') AS e, "
            "base32Decode(base32Encode('hello world')) AS d, "
            "base32Decode('not base32!') AS bad"
        )
        # RFC 4648 anchor: b32('hi') == NBUQ====
        assert r.rows[0] == ["NBUQ====", "hello world", None]

    def test_tuple_intdiv_modulo_family(self, eng):
        r = eng.execute(
            "SELECT tupleIntDiv((10, 20), (3, 4)) AS a, "
            "tupleIntDivOrZero((10, 20), (0, 4)) AS b, "
            "tupleModulo((10, 20), (3, 6)) AS c, "
            "tupleModuloByNumber((10, 20), 3) AS d, "
            "tupleIntDivByNumber((10, 20), 3) AS e, "
            "tupleIntDivOrZeroByNumber((10, 20), 0) AS f"
        )
        row = [tuple(v) for v in r.rows[0]]
        assert row == [
            (3, 5), (0, 5), (1, 2), (1, 2), (3, 6), (0, 0),
        ]

    def test_tuple_intdiv_column_ref_guided(self, eng):
        with pytest.raises(Exception, match="inline tuples"):
            eng.execute(
                "SELECT tupleIntDiv(t, (1, 2)) AS v "
                "FROM (SELECT (1, 2) AS t)"
            )


class TestRound7ArrayFillSweep:
    """arrayFill/arrayReverseFill carry-forward folds, arrayUnion,
    bitPositionsToArray, timezoneOf, parseTimeDelta."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_array_fill_docs_example(self, eng):
        # The CH documentation's own example, reproduced exactly.
        r = eng.execute(
            "SELECT arrayFill(x -> isNotNull(x), "
            "[1, NULL, 3, 11, 12, NULL, NULL, 5, 6, 14, NULL, NULL]) "
            "AS v"
        )
        assert r.rows[0][0] == [1, 1, 3, 11, 12, 12, 12, 5, 6, 14, 14, 14]

    def test_array_fill_leading_falsy_and_predicate(self, eng):
        r = eng.execute(
            "SELECT arrayFill(x -> x > 1, [0, 5, 1, 9]) AS a, "
            "arrayReverseFill(x -> isNotNull(x), [1, NULL, 3, NULL]) AS b, "
            "arrayFill((x, y) -> y, [1, 2, 3], [true, false, true]) AS c, "
            "arrayFill(x -> x, CAST(array() AS ARRAY<BOOLEAN>)) AS e"
        )
        a, b, c, e = r.rows[0]
        assert a == [0, 5, 5, 9]       # leading falsy kept
        assert b == [1, 3, 3, None]    # trailing falsy kept (reverse)
        assert c == [1, 1, 3]          # two-array lambda form
        assert e == []

    def test_array_union(self, eng):
        r = eng.execute("SELECT arrayUnion([1,2],[2,3]) AS v")
        assert sorted(r.rows[0][0]) == [1, 2, 3]

    def test_bit_positions_to_array(self, eng):
        r = eng.execute(
            "SELECT bitPositionsToArray(10) AS a, "
            "bitPositionsToArray(0) AS z, bitPositionsToArray(1) AS o"
        )
        assert r.rows[0] == [[1, 3], [], [0]]

    def test_timezone_of(self, eng):
        r = eng.execute("SELECT timezoneOf(now()) AS v")
        assert r.rows[0][0] == "UTC"  # tests pin the session to UTC

    def test_parse_time_delta(self, eng):
        r = eng.execute(
            "SELECT parseTimeDelta('1h 30m') AS a, "
            "parseTimeDelta('2.5s') AS b, "
            "parseTimeDelta('1w 1d') AS c, "
            "parseTimeDelta('250ms') AS d, "
            "parseTimeDelta('1mo') AS amb, "    # ambiguous unit -> NULL
            "parseTimeDelta('junk') AS junk"
        )
        assert r.rows[0] == [5400.0, 2.5, 691200.0, 0.25, None, None]


class TestRound7FormatReinterpretSweep:
    """format() placeholder compilation, RFC 7386 JSONMergePatch,
    decimal arithmetic with result scale, 128-bit casts, and the
    reinterpretAs* little-endian byte views."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_format_placeholders(self, eng):
        r = eng.execute(
            "SELECT format('{} and {}', 'a', 'b') AS a, "
            "format('{1}-{0}', 'x', 'y') AS b, "
            "format('{{}} ok {0}', 7) AS c, format('none') AS d"
        )
        assert r.rows[0] == ["a and b", "y-x", "{} ok 7", "none"]

    def test_format_guided_errors(self, eng):
        with pytest.raises(Exception, match="string literal"):
            eng.execute(
                "SELECT format(x, 1) AS v FROM (SELECT '{}' AS x)"
            )
        with pytest.raises(Exception, match="no.*argument"):
            eng.execute("SELECT format('{} {}', 1) AS v")

    def test_json_merge_patch_rfc7386(self, eng):
        r = eng.execute(
            "SELECT JSONMergePatch("
            "'{\"a\":1,\"b\":{\"c\":2}}', '{\"b\":{\"d\":3},\"e\":4}') AS m, "
            "JSONMergePatch('{\"a\":1,\"b\":2}', '{\"b\":null}') AS del, "
            "JSONMergePatch('{\"a\":1}', '{\"b\":2}', '{\"c\":3}') AS tri, "
            "JSONMergePatch('not json', '{}') AS bad"
        )
        import json

        m, deleted, tri, bad = r.rows[0]
        assert json.loads(m) == {"a": 1, "b": {"c": 2, "d": 3}, "e": 4}
        assert json.loads(deleted) == {"a": 1}
        assert json.loads(tri) == {"a": 1, "b": 2, "c": 3}
        assert bad is None

    def test_decimal_ops_and_wide_casts(self, eng):
        r = eng.execute(
            "SELECT multiplyDecimal(toDecimal64(2.5, 2), "
            "toDecimal64(4.0, 2), 4) AS m, toUInt128(5) AS w"
        )
        from decimal import Decimal

        assert r.rows[0][0] == Decimal("10.0000")
        assert int(r.rows[0][1]) == 5
        with pytest.raises(Exception, match="256 bits"):
            eng.execute("SELECT toUInt256(5) AS v")

    def test_reinterpret_little_endian(self, eng):
        r = eng.execute(
            "SELECT reinterpretAsUInt32('abcd') AS a, "
            "reinterpretAsUInt16('ab') AS b, "
            "reinterpretAsUInt8('a') AS c, "
            "reinterpretAsUInt32('ab') AS pad, "
            "reinterpretAsUInt64('abcdefgh') AS w"
        )
        assert r.rows[0][:4] == [0x64636261, 0x6261, 97, 0x6261]
        assert int(r.rows[0][4]) == 0x6867666564636261

    def test_reinterpret_signed_and_string(self, eng):
        # 'é' encodes UTF-8 as C3 A9: first byte 0xC3 → -61 signed.
        r = eng.execute(
            "SELECT reinterpretAsInt8('é') AS s, "
            "reinterpretAsString(toUInt32(97)) AS a, "
            "reinterpretAsString(6579297) AS add"
        )
        assert r.rows[0] == [-61, "a", "add"]

    def test_running_concurrency_guided(self, eng):
        with pytest.raises(Exception, match="maxIntersections"):
            eng.execute(
                "SELECT runningConcurrency(toDateTime(1), "
                "toDateTime(2)) AS v"
            )


class TestTranspileFuzz:
    """Seeded structural fuzz over the rewrite frontend: randomly
    nested CH-ish calls (parametric forms, wrong arities, literal
    soup) must either transpile to a string or raise the guided
    ValueError — never an unhandled IndexError/KeyError/TypeError.
    Found the zero-arg position()/extract() IndexError this guards."""

    def test_fuzz_only_guided_errors(self):
        import random

        from bighouse_spark.dialect.transpile import transpile

        random.seed(7)
        funcs = [
            "toString", "arrayMap", "sumIf", "format",
            "reinterpretAsUInt32", "JSONExtractInt", "splitByChar",
            "tupleElement", "mapApply", "topK", "quantile", "argMax",
            "substring", "position", "multiIf", "transform",
            "toDateTime", "toStartOfInterval", "arrayJoin", "uniq",
            "cityHash64", "countIf", "if", "plus", "coalesce",
            "extract", "leftPad", "range", "locate", "lagInFrame",
            "topKWeighted", "uniqUpTo", "histogram",
            "exponentialMovingAverage", "groupArraySample",
            "quantileGK", "groupArraySorted", "sumMapFiltered",
        ]
        lits = [
            "1", "'a'", "0.5", "NULL", "[1,2]", "(1,2)", "x", "''",
            "-3", "map('k',1)", "today()", "'{}'", "'%'", "1e10",
            "x.y",
        ]

        def rand_expr(d=0):
            if d > 3 or random.random() < 0.3:
                return random.choice(lits)
            f = random.choice(funcs)
            args = ", ".join(
                rand_expr(d + 1) for _ in range(random.randint(0, 3))
            )
            if random.random() < 0.15:
                # parametric form, sometimes with empty params/args
                p = "" if random.random() < 0.3 else str(
                    random.randint(1, 3)
                )
                return f"{f}({p})({args})"
            return f"{f}({args})"

        for _ in range(2500):
            sql = f"SELECT {rand_expr()} AS v FROM t"
            try:
                out = transpile(sql).sql
                assert isinstance(out, str) and out
            except ValueError:
                pass  # guided refusal/arity error — the contract


class TestWithFillInterpolate:
    """ORDER BY ... WITH FILL ... INTERPOLATE (col [AS expr]):
    spine-inserted rows take expr applied to the previous row's value
    (per-gap recurrence via window + fold); bare INTERPOLATE carries
    every non-fill column forward; rows before the first real row
    keep the type default (no previous row)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_carry_forward(self, eng):
        r = eng.execute(
            "SELECT n, v FROM (SELECT 0 AS n, 10 AS v UNION ALL "
            "SELECT 3, 40) ORDER BY n WITH FILL FROM 0 TO 6 "
            "INTERPOLATE (v AS v)"
        )
        assert r.rows == [[0, 10], [1, 10], [2, 10], [3, 40],
                          [4, 40], [5, 40]]

    def test_recurrence(self, eng):
        r = eng.execute(
            "SELECT n, v FROM (SELECT 0 AS n, 10 AS v UNION ALL "
            "SELECT 3, 40) ORDER BY n WITH FILL FROM 0 TO 6 "
            "INTERPOLATE (v AS v + 1)"
        )
        assert r.rows == [[0, 10], [1, 11], [2, 12], [3, 40],
                          [4, 41], [5, 42]]

    def test_bare_interpolate_and_leading_defaults(self, eng):
        r = eng.execute(
            "SELECT n, v, s FROM (SELECT 1 AS n, 5 AS v, 'a' AS s "
            "UNION ALL SELECT 4, 9, 'b') ORDER BY n WITH FILL "
            "INTERPOLATE"
        )
        assert r.rows == [[1, 5, "a"], [2, 5, "a"], [3, 5, "a"],
                          [4, 9, "b"]]
        r2 = eng.execute(
            "SELECT n, v FROM (SELECT 3 AS n, 7 AS v) ORDER BY n "
            "WITH FILL FROM 0 TO 5 INTERPOLATE (v AS v * 2)"
        )
        assert r2.rows == [[0, 0], [1, 0], [2, 0], [3, 7], [4, 14]]

    def test_guided_errors(self, eng):
        with pytest.raises(Exception, match="only the interpolated"):
            eng.execute(
                "SELECT n, v FROM (SELECT 1 AS n, 2 AS v) ORDER BY n "
                "WITH FILL INTERPOLATE (v AS n + 1)"
            )
        # without WITH FILL the clause is not ours to interpret —
        # it surfaces Spark's parse error (and a bare word passes,
        # see TestReviewFindingsRound7)
        with pytest.raises(Exception):
            eng.execute(
                "SELECT n FROM (SELECT 1 AS n) INTERPOLATE (n AS n)"
            )
        with pytest.raises(Exception, match="cannot be interpolated"):
            eng.execute(
                "SELECT n, v FROM (SELECT 1 AS n, 2 AS v) ORDER BY n "
                "WITH FILL INTERPOLATE (n AS n)"
            )


class TestInlineTableFunctions:
    """format() inline-data table function, view() wrapper, null()/
    zeros()/numbers_mt generators, and ORDER BY ... COLLATE."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_format_jsoneachrow(self, eng):
        r = eng.execute(
            "SELECT * FROM format(JSONEachRow, "
            "'{\"a\": 1, \"b\": \"x\"}\\n{\"a\": 2, \"b\": \"y\"}') "
            "ORDER BY a"
        )
        assert r.rows == [[1, "x"], [2, "y"]]

    def test_format_csv_variants(self, eng):
        r = eng.execute(
            "SELECT * FROM format(CSVWithNames, 'a,b\\n1,x\\n2,y') "
            "ORDER BY a"
        )
        assert r.rows == [[1, "x"], [2, "y"]]
        r2 = eng.execute(
            "SELECT * FROM format(CSV, 'a UInt8, b String', "
            "'1,x\\n2,y') ORDER BY a"
        )
        assert r2.rows == [[1, "x"], [2, "y"]]
        r3 = eng.execute(
            "SELECT * FROM format(TSVWithNames, 'a\\tb\\n5\\tz')"
        )
        assert r3.rows == [[5, "z"]]

    def test_format_csv_inference_is_strict(self, eng):
        # Python int() accepts '1_0' (underscore separators) but Spark
        # CAST does not — inference must keep such columns string
        # instead of silently NULLing every value.
        r = eng.execute(
            "SELECT * FROM format(CSVWithNames, "
            "'a,b\\n1_0,7\\n2_5,8') ORDER BY b"
        )
        assert r.rows == [["1_0", 7], ["2_5", 8]]

    def test_format_values_with_quote_escapes(self, eng):
        r = eng.execute(
            "SELECT * FROM format(Values, 'a UInt8, b String', "
            "'(1, ''x''), (2, ''y'')') ORDER BY a"
        )
        assert r.rows == [[1, "x"], [2, "y"]]

    def test_format_scalar_still_works(self, eng):
        r = eng.execute("SELECT format('{}-{}', 1, 2) AS f")
        assert r.rows == [["1-2"]]

    def test_format_unknown_format_guided(self, eng):
        with pytest.raises(Exception, match="not.*supported"):
            eng.execute("SELECT * FROM format(Protobuf, 'x')")

    def test_view_null_zeros_numbers_mt(self, eng):
        r = eng.execute(
            "SELECT * FROM view(SELECT 1 AS x UNION ALL SELECT 2) "
            "ORDER BY x"
        )
        assert r.rows == [[1], [2]]
        assert eng.execute("SELECT * FROM null('a UInt8')").rows == []
        r2 = eng.execute(
            "SELECT count() AS c, sum(zero) AS z FROM zeros(5)"
        )
        assert r2.rows == [[5, 0]]
        assert eng.execute(
            "SELECT count() AS c FROM zeros_mt(7)"
        ).rows == [[7]]
        assert eng.execute(
            "SELECT count() AS c FROM numbers_mt(10)"
        ).rows == [[10]]

    def test_generate_random_narrow_types(self, eng):
        r = eng.execute(
            "SELECT max(a) <= 9999 AND min(a) >= 0 AS ok FROM "
            "(SELECT * FROM generateRandom('a UInt8', 42) LIMIT 100)"
        )
        assert r.rows == [[True]]
        # same seed -> same data
        a = eng.execute(
            "SELECT * FROM generateRandom('a UInt8, b String', 7) "
            "LIMIT 5"
        ).rows
        b = eng.execute(
            "SELECT * FROM generateRandom('a UInt8, b String', 7) "
            "LIMIT 5"
        ).rows
        assert a == b

    def test_collate_locale_order(self, eng):
        r = eng.execute(
            "SELECT v FROM (SELECT 'b' AS v UNION ALL SELECT 'A' "
            "UNION ALL SELECT 'a') ORDER BY v COLLATE 'en'"
        )
        assert [x[0] for x in r.rows] == ["a", "A", "b"]
        # 'en_US'-style tags normalize to the language
        r2 = eng.execute(
            "SELECT v FROM (SELECT 'b' AS v UNION ALL SELECT 'A') "
            "ORDER BY v COLLATE 'en_US'"
        )
        assert [x[0] for x in r2.rows] == ["A", "b"]

    @pytest.mark.parametrize("col", ["t.`v`", "`t`.`v`"])
    def test_collate_on_backticked_qualified_column(self, eng, col):
        r = eng.execute(
            "SELECT v FROM (SELECT 'b' AS v UNION ALL SELECT 'A' "
            f"UNION ALL SELECT 'a') AS t ORDER BY {col} COLLATE 'en'"
        )
        assert [x[0] for x in r.rows] == ["a", "A", "b"]


class TestQuantifiedComparisons:
    """op ANY/ALL/SOME (subquery): Spark's parser lacks quantified
    comparisons — equality forms map to IN/NOT IN, ordering forms to
    one scalar min/max aggregate over the subquery; any(...) over a
    plain column stays the aggregate (now also in comparison
    position, previously a Spark boolean-any type error)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_equality_forms(self, eng):
        assert eng.execute(
            "SELECT 1 AS v WHERE 1 = ANY (SELECT 1 UNION ALL SELECT 2)"
        ).rows == [[1]]
        assert eng.execute(
            "SELECT 1 AS v WHERE 2 = SOME (SELECT 2)"
        ).rows == [[1]]
        assert eng.execute(
            "SELECT number AS n FROM numbers(4) WHERE number != ALL "
            "(SELECT 1 UNION ALL SELECT 3) ORDER BY n"
        ).rows == [[0], [2]]

    def test_ordering_forms(self, eng):
        assert eng.execute(
            "SELECT number AS n FROM numbers(5) WHERE number > ALL "
            "(SELECT number FROM numbers(3)) ORDER BY n"
        ).rows == [[3], [4]]
        assert eng.execute(
            "SELECT number AS n FROM numbers(5) WHERE number > ANY "
            "(SELECT number + 2 FROM numbers(2)) ORDER BY n"
        ).rows == [[3], [4]]
        assert eng.execute(
            "SELECT number AS n FROM numbers(5) WHERE number <= ALL "
            "(SELECT number + 1 FROM numbers(3)) ORDER BY n"
        ).rows == [[0], [1]]

    def test_any_aggregate_untouched(self, eng):
        assert eng.execute(
            "SELECT max(number) = any(number) AS eq "
            "FROM (SELECT 5 AS number)"
        ).rows == [[True]]
        assert eng.execute(
            "SELECT any(number) AS v FROM numbers(3)"
        ).rows == [[0]]

    def test_eq_all_guided(self, eng):
        with pytest.raises(Exception, match="row-wise NULL semantics"):
            eng.execute("SELECT 1 AS v WHERE 1 = ALL (SELECT 1)")


class TestReviewFindingsRound7:
    """Regression pins for the round-7 code-review findings."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_quantified_pass_is_quote_aware(self, eng):
        r = eng.execute("SELECT 'score > ALL (SELECT hi)' AS s")
        assert r.rows == [["score > ALL (SELECT hi)"]]

    def test_quantified_null_or_empty_raises_loudly(self, eng):
        for q in (
            "SELECT 1 AS v WHERE 1 > ALL "
            "(SELECT NULL UNION ALL SELECT 0)",
            "SELECT 1 AS v WHERE 1 > ALL (SELECT 5 WHERE 1 = 0)",
        ):
            with pytest.raises(Exception, match="row-wise semantics"):
                eng.execute(q)
        # non-empty NULL-free stays exact
        assert eng.execute(
            "SELECT 1 AS v WHERE 1 > ALL (SELECT 0)"
        ).rows == [[1]]

    def test_interpolate_bare_word_passes(self, eng):
        assert eng.execute(
            "SELECT 'do not INTERPOLATE me' AS s"
        ).rows == [["do not INTERPOLATE me"]]
        from bighouse_spark.dialect.transpile import transpile

        assert "interpolate" in transpile(
            "SELECT interpolate FROM t"
        ).sql

    def test_format_builder_quote_collapse_and_unmatched_brace(self, eng):
        r = eng.execute("SELECT format('it''s {}', 1) AS v")
        assert r.rows == [["it's 1"]]
        with pytest.raises(Exception, match="unmatched"):
            eng.execute("SELECT format('oops {', 1) AS v")

    def test_inline_csv_quoted_embedded_newline(self, eng):
        r = eng.execute(
            "SELECT * FROM format(CSV, 'a String, b UInt8', "
            "'\"l1\nl2\",1')"
        )
        assert r.rows == [["l1\nl2", 1]]

    def test_collate_on_expression(self, eng):
        r = eng.execute(
            "SELECT v FROM (SELECT 'B' AS v UNION ALL SELECT 'a') "
            "ORDER BY lower(v) COLLATE 'en'"
        )
        assert [x[0] for x in r.rows] == ["a", "B"]


def test_transpile_is_not_quadratic_in_one_long_literal():
    # The COLLATE rewrite once restarted its identifier pattern at
    # every character of a long word: 16,000 characters took 6 s.
    import time

    t0 = time.monotonic()
    out = transpile(f"SELECT length('{'x' * 100_000}') > 0 AS ok", None)
    assert time.monotonic() - t0 < 10
    assert "x" * 100_000 in out.sql


class TestStackedCombinators:
    """Stacked CH combinators: <agg>IfOrNull / OrNullIf (filter then
    NULL-over-empty), <agg>IfOrDefault / OrDefaultIf (filter then
    type default), <agg>DistinctIf (distinct over filtered values),
    incl. countIf's one-arg condition form."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_if_or_null(self, eng):
        r = eng.execute(
            "SELECT sumIfOrNull(number, number > 99) AS a, "
            "sumIfOrNull(number, number > 1) AS b, "
            "countIfOrNull(number > 99) AS c, "
            "anyIfOrNull(number, number > 1) AS d FROM numbers(3)"
        )
        assert r.rows == [[None, 2, None, 2]]

    def test_if_or_default(self, eng):
        r = eng.execute(
            "SELECT sumOrDefaultIf(number, number > 99) AS a, "
            "avgIfOrDefault(number, number > 99) AS b FROM numbers(3)"
        )
        assert r.rows == [[0, 0.0]]
        with pytest.raises(Exception, match="coalesce"):
            eng.execute(
                "SELECT minIfOrDefault(number, number > 0) AS v "
                "FROM numbers(3)"
            )

    def test_distinct_if(self, eng):
        r = eng.execute(
            "SELECT countDistinctIf(x, x > 0) AS a, "
            "sumDistinctIf(x, x > 0) AS b "
            "FROM (SELECT number % 3 AS x FROM numbers(9))"
        )
        assert r.rows == [[2, 3]]


class TestShowFunctionsLike:
    def test_like_pattern_translated_to_glob(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        names = [r[0] for r in eng.execute(
            "SHOW FUNCTIONS LIKE 'sum%'"
        ).rows]
        assert "sum" in names
        names2 = [r[0] for r in eng.execute(
            "SHOW FUNCTIONS ILIKE 'avg%'"
        ).rows]
        assert "avg" in names2

    def test_lowercase_ilike_translated(self, spark):
        # ILIKE can arrive in any case; the rewrite must still emit
        # Spark's LIKE spelling (lowercase ilike used to pass through
        # untranslated and fail to parse).
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        names = [r[0] for r in eng.execute(
            "show functions ilike 'avg%'"
        ).rows]
        assert "avg" in names


class TestSequenceNextNode:
    """sequenceNextNode(direction, base)(ts, event, base_cond, e1...):
    next-event lookup after a matched chain — one sorted collect,
    let-bound once, pure index arithmetic (no UDF)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    BASE = (
        "FROM (SELECT * FROM format(CSVWithNames, "
        "'u,t,e\\n1,1,A\\n1,2,B\\n1,3,C\\n1,4,D\\n"
        "2,1,B\\n2,2,A\\n2,3,C\\n3,1,A\\n3,2,B'))"
    )

    def _run(self, eng, call):
        return eng.execute(
            f"SELECT u, {call} AS r {self.BASE} GROUP BY u ORDER BY u"
        ).rows

    def test_forward_head(self, eng):
        # u1 matches A,B at head → next is C; u3 matches but has no
        # next event; u2's head is B
        got = self._run(
            eng,
            "sequenceNextNode('forward','head')"
            "(t, e, true, e='A', e='B')",
        )
        assert got == [[1, "C"], [2, None], [3, None]]

    def test_forward_first_match(self, eng):
        got = self._run(
            eng,
            "sequenceNextNode('forward','first_match')"
            "(t, e, true, e='A')",
        )
        assert got == [[1, "B"], [2, "C"], [3, "B"]]

    def test_backward_tail(self, eng):
        # u2's tail is C → value before it is A
        got = self._run(
            eng,
            "sequenceNextNode('backward','tail')(t, e, true, e='C')",
        )
        assert got == [[1, None], [2, "A"], [3, None]]

    def test_backward_last_match(self, eng):
        got = self._run(
            eng,
            "sequenceNextNode('backward','last_match')"
            "(t, e, true, e='A')",
        )
        assert got == [[1, None], [2, "B"], [3, None]]

    def test_base_condition_gates_base_point(self, eng):
        got = self._run(
            eng,
            "sequenceNextNode('forward','head')"
            "(t, e, e='B', e='A', e='B')",
        )
        assert got == [[1, None], [2, None], [3, None]]

    def test_invalid_combo_and_arity_guided(self, eng):
        with pytest.raises(ValueError, match="requires direction"):
            eng.execute(
                "SELECT sequenceNextNode('backward','head')"
                f"(t, e, true, e='A') AS r {self.BASE}"
            )
        with pytest.raises(ValueError, match="at least four"):
            eng.execute(
                "SELECT sequenceNextNode('forward','head')(t, e) "
                f"AS r {self.BASE}"
            )


class TestKsExactMethod:
    """kolmogorovSmirnovTest(..., 'exact'): the small-sample lattice
    path-count, cross-checked against an INDEPENDENT brute force that
    enumerates all C(n+m, n) label placements."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    @staticmethod
    def _brute(x, y):
        from itertools import combinations

        pooled = x + y
        n, m = len(x), len(y)

        def dmax(xs, ys):
            xs, ys = sorted(xs), sorted(ys)
            i = j = h = 0
            while i < len(xs) and j < len(ys):
                v = min(xs[i], ys[j])
                while i < len(xs) and xs[i] == v:
                    i += 1
                while j < len(ys) and ys[j] == v:
                    j += 1
                h = max(h, abs(i * len(ys) - j * len(xs)))
            return h / (n * m)

        d_obs = dmax(x, y)
        cnt = tot = 0
        for pos in combinations(range(n + m), n):
            s = set(pos)
            xs = [pooled[k] for k in range(n + m) if k in s]
            ys = [pooled[k] for k in range(n + m) if k not in s]
            tot += 1
            if dmax(xs, ys) >= d_obs - 1e-12:
                cnt += 1
        return d_obs, cnt / tot

    @pytest.mark.parametrize(
        "x,y",
        [
            ([1, 2, 3], [4, 5, 6]),  # full separation: p = 2/C(6,3)
            ([1, 3], [2, 4]),
            ([1.5, 2.5, 3.5, 9], [2, 3, 4, 5, 6]),
            ([1, 2, 2, 3], [2, 3, 4]),  # ties
            ([1, 1, 1, 2], [1, 2, 2]),  # heavy ties
            ([5, 5, 5], [5, 5, 5, 5]),  # all one value: D=0, p=1
            ([10, 20, 30, 40, 50], [15, 25, 35]),
        ],
    )
    def test_matches_brute_force_enumeration(self, eng, x, y):
        vals = ", ".join(f"({v}, 0)" for v in x) + ", " + ", ".join(
            f"({v}, 1)" for v in y
        )
        row = eng.execute(
            "SELECT kolmogorovSmirnovTest('two-sided','exact')(v, i) "
            f"AS r FROM (SELECT col1 AS v, col2 AS i "
            f"FROM (VALUES {vals}))"
        ).rows[0][0]
        d_want, p_want = self._brute(x, y)
        assert abs(row[0] - d_want) < 1e-12
        assert abs(row[1] - p_want) < 1e-12

    def test_cap_is_a_guided_runtime_error(self, eng):
        with pytest.raises(Exception, match="capped at"):
            eng.execute(
                "SELECT kolmogorovSmirnovTest('two-sided','exact')"
                "(number*1.0, number%2) AS r FROM numbers(2000)"
            )

    def test_asymp_path_unchanged(self, eng):
        row = eng.execute(
            "SELECT kolmogorovSmirnovTest('two-sided','asymp')"
            "(number*1.0, number%2) AS r FROM numbers(200)"
        ).rows[0][0]
        assert 0.0 <= row[0] <= 1.0 and 0.0 <= row[1] <= 1.0


class TestRound8DatetimeJson:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_totime_snaps_date(self, eng):
        r = eng.execute(
            "SELECT toTime(toDateTime('2024-03-05 13:47:11')) AS r"
        )
        assert str(r.rows[0][0]) == "1970-01-02 13:47:11"

    def test_totime_timezone_arg_shifts_wall_clock(self, eng):
        # CH toTime(x, tz) extracts the time-of-day AS SEEN in tz;
        # the 2-arg form previously dropped the zone silently.
        r = eng.execute(
            "SELECT toTime(toDateTime('2024-03-05 13:47:11'), "
            "'Asia/Tokyo') AS r"
        )
        assert str(r.rows[0][0]) == "1970-01-02 22:47:11"

    def test_fromunixtimestamp_ch_pattern(self, eng):
        r = eng.execute(
            "SELECT fromUnixTimestamp(1704067200, '%Y-%m-%d') AS r"
        )
        assert r.rows == [["2024-01-01"]]

    def test_makedatetime64_fraction_and_precision(self, eng):
        r = eng.execute(
            "SELECT makeDateTime64(2024, 3, 5, 13, 47, 11, 123) AS r"
        )
        assert str(r.rows[0][0]) == "2024-03-05 13:47:11.123000"
        r2 = eng.execute(
            "SELECT makeDateTime64(2024, 3, 5, 13, 47, 11, 5, 1) AS r"
        )
        assert str(r2.rows[0][0]) == "2024-03-05 13:47:11.500000"

    def test_json_extract_multikey_paths(self, eng):
        j = '\'{"a": 1, "b": {"c": [10,20,30]}}\''
        assert eng.execute(
            f"SELECT JSONExtractInt({j}, 'b', 'c', 2) AS r"
        ).rows == [[20]]
        assert eng.execute(
            f"SELECT JSONExtractInt({j}, 'a') AS r"
        ).rows == [[1]]
        with pytest.raises(ValueError, match="1-based"):
            eng.execute(f"SELECT JSONExtractInt({j}, 'b', 'c', 0) AS r")
        with pytest.raises(ValueError, match="negative"):
            eng.execute(
                f"SELECT JSONExtractInt({j}, 'b', 'c', -1) AS r"
            )


class TestBehavioralSqlSpellings:
    """windowFunnel/retention/sequenceMatch/sequenceCount as SQL
    aggregates (the operator library twins live in behavioral.py)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    BASE = (
        "FROM (SELECT * FROM format(CSVWithNames, "
        "'u,t,e\\n1,1,A\\n1,2,B\\n1,3,C\\n2,1,A\\n2,2,A\\n2,50,B\\n"
        "3,1,B\\n3,2,A\\n4,0,A\\n4,95,A\\n4,100,B'))"
    )

    def _run(self, eng, call):
        return eng.execute(
            f"SELECT u, {call} AS r {self.BASE} GROUP BY u ORDER BY u"
        ).rows

    def test_window_funnel_levels(self, eng):
        got = self._run(
            eng, "windowFunnel(10)(t, e='A', e='B', e='C')"
        )
        # u4 is the restart-anchor case: the chain re-anchors on the
        # A@95 so B@100 lands within the 10-unit window
        assert got == [[1, 3], [2, 1], [3, 1], [4, 2]]
        got2 = self._run(
            eng, "windowFunnel(100)(t, e='A', e='B', e='C')"
        )
        assert got2 == [[1, 3], [2, 2], [3, 1], [4, 2]]

    def test_retention_flags(self, eng):
        got = self._run(eng, "retention(e='A', e='B', e='C')")
        assert got == [
            [1, [1, 1, 1]], [2, [1, 1, 0]],
            [3, [1, 1, 0]], [4, [1, 1, 0]],
        ]

    def test_sequence_match_and_count(self, eng):
        got = self._run(
            eng, "sequenceMatch('(?1).*(?2)')(t, e='A', e='B')"
        )
        assert got == [[1, True], [2, True], [3, False], [4, True]]
        got2 = self._run(
            eng, "sequenceCount('(?1).*(?2)')(t, e='A', e='B')"
        )
        assert got2 == [[1, 1], [2, 1], [3, 0], [4, 1]]

    def test_remaining_unsupported_guided(self, eng):
        with pytest.raises(ValueError, match="at most one"):
            eng.execute(
                "SELECT sequenceMatch('(?1)(?t>10)(?t<99)(?2)')"
                f"(t, e='A', e='B') AS r {self.BASE}"
            )
        with pytest.raises(ValueError, match="BOTH sides"):
            eng.execute(
                "SELECT sequenceMatch('(?t>10)(?1)')(t, e='A') "
                f"AS r {self.BASE}"
            )
        with pytest.raises(ValueError, match="strict_order"):
            eng.execute(
                "SELECT windowFunnel(10, 'bogus_mode')(t, e='A') "
                f"AS r {self.BASE}"
            )


class TestWindowFunnelStrictModes:
    """CH AggregateFunctionWindowFunnel strict modes, one fixture
    stream per semantic corner."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def _wf(self, eng, events, spec):
        vals = ", ".join(f"({t}, '{e}')" for t, e in events)
        q = (
            f"SELECT windowFunnel({spec})(CAST(t AS TIMESTAMP), "
            f"e='A', e='B', e='C') AS lvl "
            f"FROM (SELECT * FROM VALUES {vals} AS t(t, e))"
        )
        return eng.execute(q).rows[0][0]

    def test_strict_order_breaker_after_start(self, eng):
        # X matches no condition: after the first A it halts the scan
        ev = [(1, 'A'), (2, 'X'), (3, 'B'), (4, 'C')]
        assert self._wf(eng, ev, "3600, 'strict_order'") == 1
        assert self._wf(eng, ev, "3600") == 3  # default ignores X

    def test_strict_order_breaker_before_start_ignored(self, eng):
        ev = [(1, 'X'), (2, 'A'), (3, 'B')]
        assert self._wf(eng, ev, "3600, 'strict_order'") == 2

    def test_strict_dedup_truncates_at_repeat(self, eng):
        # second B repeats an already-reached level: CH returns that
        # level and stops — the later C is never seen
        ev = [(1, 'A'), (2, 'B'), (3, 'B'), (4, 'C')]
        assert self._wf(eng, ev, "3600, 'strict_deduplication'") == 2
        assert self._wf(eng, ev, "3600, 'strict_dedup'") == 2
        assert self._wf(eng, ev, "3600") == 3

    def test_strict_dedup_completed_funnel_immune(self, eng):
        # CH early-returns N on completion, before the repeat
        ev = [(1, 'A'), (2, 'B'), (3, 'C'), (4, 'B')]
        assert self._wf(eng, ev, "3600, 'strict_dedup'") == 3

    def test_strict_increase_needs_larger_ts(self, eng):
        ev = [(1, 'A'), (1, 'B'), (2, 'C')]
        assert self._wf(eng, ev, "3600, 'strict_increase'") == 1
        assert self._wf(eng, ev, "3600") == 3  # tie ok by default

    def test_equal_ts_processes_lower_condition_first(self, eng):
        # CH sorts (ts, condition number): at a tie A runs before B
        # regardless of row order
        assert self._wf(
            eng, [(1, 'B'), (1, 'A'), (2, 'C')], "3600"
        ) == 3

    def test_modes_combine(self, eng):
        # strict_order + strict_increase: X halts AND ties don't
        # advance
        ev = [(1, 'A'), (1, 'B'), (2, 'B'), (3, 'X'), (4, 'C')]
        got = self._wf(
            eng, ev, "3600, 'strict_order', 'strict_increase'"
        )
        assert got == 2  # B@2 advances (2>1); X@3 halts before C

    def _wfv(self, eng, events, spec):
        vals = ", ".join(f"({t}, {v})" for t, v in events)
        q = (
            f"SELECT windowFunnel({spec})(CAST(t AS TIMESTAMP), "
            f"v>=1, v>=2, v>=3) AS lvl "
            f"FROM (SELECT * FROM VALUES {vals} AS t(t, v))"
        )
        return eng.execute(q).rows[0][0]

    def test_one_row_advances_consecutive_levels(self, eng):
        # CH walks a row's matched conditions sequentially: a single
        # row satisfying all three OVERLAPPING conditions completes
        # the funnel (was the documented pre-r9 deviation)
        assert self._wfv(eng, [(1, 3)], "3600") == 3
        assert self._wfv(eng, [(1, 2)], "3600") == 2
        # strict_increase blocks the same-row chain (t > t fails)
        assert self._wfv(
            eng, [(1, 3)], "3600, 'strict_increase'"
        ) == 1


class TestSequenceMatchAdjacencyAndTime:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def _sm(self, eng, events, pattern, conds="e='A', e='B'"):
        vals = ", ".join(f"({t}, '{e}')" for t, e in events)
        q = (
            f"SELECT sequenceMatch('{pattern}')(CAST(t AS "
            f"TIMESTAMP), {conds}) AS m "
            f"FROM (SELECT * FROM VALUES {vals} AS t(t, e))"
        )
        return eng.execute(q).rows[0][0]

    def test_adjacent_skips_undescribed_events(self, eng):
        # the documented CH example: an event matching no listed
        # condition is invisible to the pattern
        ev = [(1, 'A'), (2, 'X'), (3, 'B')]
        assert self._sm(eng, ev, "(?1)(?2)") is True
        # ...but describing it as a condition makes it break
        # adjacency
        assert self._sm(
            eng, ev, "(?1)(?2)", conds="e='A', e='B', e='X'"
        ) is False
        assert self._sm(
            eng, ev, "(?1).*(?2)", conds="e='A', e='B', e='X'"
        ) is True

    def test_adjacent_restarts_on_later_anchor(self, eng):
        assert self._sm(
            eng, [(1, 'A'), (2, 'A'), (3, 'B')], "(?1)(?2)"
        ) is True

    def test_time_constraint_adjacent(self, eng):
        assert self._sm(
            eng, [(1, 'A'), (100, 'B')], "(?1)(?t<3600)(?2)"
        ) is True
        assert self._sm(
            eng, [(1, 'A'), (5000, 'B')], "(?1)(?t<3600)(?2)"
        ) is False

    def test_time_constraint_gap_uses_right_witness(self, eng):
        # (?t>N) across .* needs the EARLIEST prefix end
        assert self._sm(
            eng, [(1, 'A'), (2, 'A'), (3000, 'B')],
            "(?1).*(?t>2000)(?2)",
        ) is True
        assert self._sm(
            eng, [(2500, 'A'), (2600, 'A'), (3000, 'B')],
            "(?1).*(?t>2000)(?2)",
        ) is False
        # (?t<N) across .* needs the LATEST prefix end
        assert self._sm(
            eng, [(1, 'A'), (2900, 'A'), (3000, 'B')],
            "(?1).*(?t<200)(?2)",
        ) is True

    def test_three_refs_mixed_transitions(self, eng):
        assert self._sm(
            eng, [(1, 'A'), (2, 'B'), (3, 'X'), (50, 'C')],
            "(?1)(?2).*(?t<100)(?3)",
            conds="e='A', e='B', e='C'",
        ) is True


class TestSequenceCountAdjacencyAndTime:
    """sequenceCount over the extended grammar: reset-on-complete
    greedy non-overlapping counting in the same reachability DP."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def _sc(self, eng, events, pattern, conds="e='A', e='B'"):
        vals = ", ".join(f"({t}, '{e}')" for t, e in events)
        q = (
            f"SELECT sequenceCount('{pattern}')(CAST(t AS "
            f"TIMESTAMP), {conds}) AS m "
            f"FROM (SELECT * FROM VALUES {vals} AS t(t, e))"
        )
        return eng.execute(q).rows[0][0]

    def test_adjacent_pairs_counted(self, eng):
        assert self._sc(
            eng, [(1, 'A'), (2, 'B'), (3, 'A'), (4, 'B')], "(?1)(?2)"
        ) == 2
        # A A B B: only (A@2, B@3) is adjacent; the completing match
        # consumes its events, the trailing B has no fresh A
        assert self._sc(
            eng, [(1, 'A'), (2, 'A'), (3, 'B'), (4, 'B')], "(?1)(?2)"
        ) == 1

    def test_no_event_reuse_across_matches(self, eng):
        # both conditions match every event: A A A pairs as (1,2)
        # and then 3 alone — reuse of event 2 would count 2
        assert self._sc(
            eng, [(1, 'A'), (2, 'A'), (3, 'A')], "(?1)(?2)",
            conds="e='A', e='A'",
        ) == 1

    def test_time_constraints_counted(self, eng):
        assert self._sc(
            eng, [(1, 'A'), (100, 'B'), (200, 'B')],
            "(?1)(?t<600)(?2)",
        ) == 1
        assert self._sc(
            eng, [(0, 'A'), (3000, 'B'), (4000, 'A'), (8000, 'B')],
            "(?1).*(?t>2000)(?2)",
        ) == 2


class TestParametricThirdParenGroup:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_triple_paren_guided_not_parse_error(self, eng):
        # quantileGK written with the level split into a third group
        # used to splice malformed SQL (percentile_approx(0.5, )) and
        # crash with a raw ParseException
        with pytest.raises(ValueError, match="third parenthesized"):
            eng.execute(
                "SELECT quantileGK(100)(0.5)(number) AS r "
                "FROM numbers(101)"
            )

    def test_documented_two_group_forms_work(self, eng):
        assert eng.execute(
            "SELECT quantileGK(100, 0.5)(number) AS r FROM numbers(101)"
        ).rows == [[50]]
        assert eng.execute(
            "SELECT quantileDD(0.01, 0.5)(number) AS r "
            "FROM numbers(101)"
        ).rows == [[50]]


class TestCastWrappersNested:
    """Cast wrappers (toString/toInt64/...) must rewrite over NESTED
    call arguments — the old flat [^()]* pattern silently left
    toString(generateUUIDv4()) unrewritten."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_nested_args_rewrite(self, eng):
        assert eng.execute(
            "SELECT length(toString(generateUUIDv4())) AS r"
        ).rows == [[36]]
        assert eng.execute(
            "SELECT toInt64(toString(40 + 2)) AS r"
        ).rows == [[42]]

    def test_two_arg_tostring_still_handled(self, eng):
        r = eng.execute(
            "SELECT toString(toDateTime('2024-01-01 00:00:00'), "
            "'UTC') AS r"
        )
        assert r.rows == [["2024-01-01 00:00:00"]]


class TestLengthOverload:
    """CH length() is overloaded over String AND Array; syntactically
    array-shaped arguments dispatch to size()."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_array_shapes_go_to_size(self, eng):
        for sql, want in [
            ("SELECT length([1,2,3]) AS r", 3),
            ("SELECT length(splitByChar(',', 'a,b')) AS r", 2),
            ("SELECT length(arrayShuffle([1,2,3])) AS r", 3),
            ("SELECT length(range(5)) AS r", 5),
        ]:
            assert eng.execute(sql).rows == [[want]], sql

    def test_string_shapes_stay_on_length(self, eng):
        assert eng.execute("SELECT length('héllo') AS r").rows == [[5]]
        assert eng.execute(
            "SELECT length(toString(number)) AS r FROM numbers(1)"
        ).rows == [[1]]

    def test_scalar_returning_array_heads_stay_on_length(self, eng):
        # arrayStringConcat returns String — length() must count its
        # CHARS, not try size() (which fails analysis on a string).
        r = eng.execute(
            "SELECT length(arrayStringConcat(['ab', 'cde'], '-')) "
            "AS r"
        )
        assert r.rows == [[6]]

    def test_columns_named_array_stay_on_length(self, eng):
        # A column whose NAME starts with an array head prefix is not
        # an array expression; the bare-prefix match rewrote these.
        r = eng.execute(
            "SELECT length(array_name) AS r FROM (SELECT 'abcd' AS "
            "array_name)"
        )
        assert r.rows == [[4]]
        r2 = eng.execute(
            "SELECT length(topk_label) AS r FROM (SELECT 'xyz' AS "
            "topk_label)"
        )
        assert r2.rows == [[3]]


class TestPrewhereWithWhere:
    """CH allows PREWHERE and WHERE on one SELECT (they AND); the old
    blind keyword sub emitted two WHERE clauses."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_both_clauses_and_together(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM (SELECT number AS x FROM "
            "numbers(100)) PREWHERE x > 10 WHERE x < 50"
        )
        assert r.rows == [[39]]

    def test_prewhere_alone_unchanged(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM (SELECT number AS x FROM "
            "numbers(100)) PREWHERE x > 10"
        )
        assert r.rows == [[89]]

    def test_subquery_where_inside_predicate_survives(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM (SELECT number AS x FROM "
            "numbers(20) WHERE number > 1) PREWHERE x IN (SELECT "
            "number FROM numbers(30) WHERE number < 10) WHERE x < 8"
        )
        assert r.rows == [[6]]

    def test_where_top_level_or_parenthesized(self, eng):
        # (p) AND w with unparenthesized w regrouped a top-level OR:
        # ((p) AND x) OR y — the second query below distinguishes
        # the correct grouping (9 rows) from the buggy one (19).
        r = eng.execute(
            "SELECT count() AS c FROM (SELECT number AS x FROM "
            "numbers(100)) PREWHERE x > 50 WHERE x < 10 OR x >= 90"
        )
        # x>50 AND (x<10 OR x>=90) → 90..99 = 10 rows; the buggy
        # regroup gives (x>50 AND x<10) OR x>=90 = same 10 here, so
        # pick bounds where they differ:
        assert r.rows == [[10]]
        r2 = eng.execute(
            "SELECT count() AS c FROM (SELECT number AS x FROM "
            "numbers(100)) PREWHERE x > 50 WHERE x < 60 OR x < 10"
        )
        # correct: x>50 AND (x<60 OR x<10) = 51..59 → 9 rows;
        # buggy regroup: (x>50 AND x<60) OR x<10 → 19 rows.
        assert r2.rows == [[9]]

    def test_where_or_then_group_by(self, eng):
        r = eng.execute(
            "SELECT x % 2 AS p, count() AS c FROM (SELECT number AS "
            "x FROM numbers(100)) PREWHERE x > 50 WHERE x < 60 OR "
            "x < 10 GROUP BY p ORDER BY p"
        )
        assert r.rows == [[0, 4], [1, 5]]


class TestLimitByOffset:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_offset_comma_form(self, eng):
        r = eng.execute(
            "SELECT g, n FROM (SELECT number%3 AS g, number AS n "
            "FROM numbers(12)) ORDER BY g, n LIMIT 1, 2 BY g"
        )
        assert r.rows == [[0, 3], [0, 6], [1, 4], [1, 7], [2, 5], [2, 8]]

    def test_offset_keyword_form(self, eng):
        r = eng.execute(
            "SELECT g, n FROM (SELECT number%3 AS g, number AS n "
            "FROM numbers(12)) ORDER BY g, n LIMIT 2 OFFSET 1 BY g"
        )
        assert r.rows == [[0, 3], [0, 6], [1, 4], [1, 7], [2, 5], [2, 8]]


class TestSettingsInSubquery:
    """SETTINGS inside a subquery must strip to the closing paren —
    the old (.+)$ regex swallowed the paren into the conf value AND
    deleted the rest of the outer query."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_subquery_settings_stripped(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM (SELECT number FROM numbers(5) "
            "SETTINGS max_threads=2)"
        )
        assert r.rows == [[5]]

    def test_outer_clause_after_subquery_settings_survives(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM (SELECT number AS x FROM "
            "numbers(10) SETTINGS max_threads=2) WHERE x < 4"
        )
        assert r.rows == [[4]]

    def test_settings_word_in_string_literal_untouched(self, eng):
        r = eng.execute("SELECT 'use SETTINGS x=1 wisely' AS s")
        assert r.rows == [["use SETTINGS x=1 wisely"]]

    def test_trailing_format_not_eaten_into_value(self, eng):
        # CH grammar: SETTINGS then FORMAT — the FORMAT clause used to
        # leak into the last setting's value
        r = eng.execute(
            "SELECT 41 + 1 AS x SETTINGS max_threads=2 "
            "FORMAT JSONEachRow"
        )
        assert r.rows == [[42]]


class TestCountStateMerge:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_zero_arg_count_state_merges(self, eng):
        r = eng.execute(
            "SELECT countMerge(s) AS c FROM (SELECT countState() AS s "
            "FROM numbers(5))"
        )
        assert r.rows == [[5]]


class TestDateTimeTzArg:
    """toDateTime/toDate second-argument TIMEZONE forms — the plain
    rename used to pass the tz into Spark's format-pattern slot and
    crash with a week-based-pattern error."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_todatetime_tz_parses_wall_clock_in_zone(self, eng):
        r = eng.execute(
            "SELECT toDateTime('2024-01-01 00:00:00', "
            "'America/New_York') AS r"
        )
        assert str(r.rows[0][0]) == "2024-01-01 05:00:00"

    def test_todate_tz_takes_date_in_zone(self, eng):
        r = eng.execute(
            "SELECT toDate(toDateTime('2024-01-01 03:00:00'), "
            "'America/New_York') AS r"
        )
        assert str(r.rows[0][0]) == "2023-12-31"

    def test_one_arg_forms_unchanged(self, eng):
        r = eng.execute("SELECT toDateTime('2024-01-01 00:00:00') AS r")
        assert str(r.rows[0][0]) == "2024-01-01 00:00:00"

    def test_todate32_family(self, eng):
        assert str(eng.execute(
            "SELECT toDate32('2024-01-01') AS r"
        ).rows[0][0]) == "2024-01-01"
        assert eng.execute(
            "SELECT toDate32OrNull('bogus') AS r"
        ).rows == [[None]]
        assert str(eng.execute(
            "SELECT toDate32OrZero('bogus') AS r"
        ).rows[0][0]) == "1900-01-01"


class TestRound8Refusals:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_variant_dynamic_guided(self, eng):
        for expr in ("CAST(1 AS Variant(Int64, String))",
                     "CAST(1 AS Dynamic)"):
            with pytest.raises(ValueError, match="no Spark column"):
                eng.execute(f"SELECT {expr} AS r")

    def test_empty_payload_complex_schema_zero_rows(self, eng):
        r = eng.execute(
            "SELECT count() AS c FROM "
            "format(CSV, 'n Nested(a Int32, b String)', '')"
        )
        assert r.rows == [[0]]

    def test_array_flatten_deep_literals(self, eng):
        # CH arrayFlatten is recursive; nested literals flatten fully
        assert eng.execute(
            "SELECT arrayFlatten([[[1,2]],[[3]]]) AS r"
        ).rows == [[[1, 2, 3]]]
        assert eng.execute(
            "SELECT arrayFlatten([[[[9]]]]) AS r"
        ).rows == [[[9]]]
        assert eng.execute(
            "SELECT arrayFlatten([[1,2],[3]]) AS r"
        ).rows == [[[1, 2, 3]]]

    def test_array_intersect_variadic(self, eng):
        # CH arrayIntersect is variadic; Spark's is binary — folded
        r = eng.execute(
            "SELECT arrayIntersect([1,2,3],[2,3,4],[3,4,5]) AS r"
        )
        assert r.rows == [[[3]]]

    def test_wkt_family_and_formatrow_guided(self, eng):
        for expr, hint in [
            ("wkt((1., 2.))", "geometry type system"),
            ("readWKTPoint('POINT (1 2)')", "geometry type system"),
            ("formatRowNoNewline('CSV', 1)", "FORMAT renderers"),
        ]:
            with pytest.raises(ValueError, match=hint):
                eng.execute(f"SELECT {expr} AS r")


class TestExplainVariantFlags:
    def test_flags_after_variant_keyword(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        for q in (
            "EXPLAIN PLAN indexes = 1 SELECT 1",
            "EXPLAIN PIPELINE header = 0 SELECT 1",
            "EXPLAIN indexes = 1, header = 0 SELECT 1",
        ):
            rows = eng.execute(q).rows
            assert rows and "Physical Plan" in rows[0][0]


class TestRound9ProbeTranche:
    """Vector norm/normalize family completion, tuple dotProduct,
    MultiPolygon-literal geo folds, mapPopulateSeries,
    tryBase58Decode."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_norm_family_and_aliases(self, eng):
        for q, want in [
            ("SELECT L2SquaredNorm([3,4]) AS r", 25.0),
            ("SELECT normL2Squared([3,4]) AS r", 25.0),
            ("SELECT normL1([1,-2]) AS r", 3.0),
            ("SELECT normL2([3,4]) AS r", 5.0),
            ("SELECT normLinf([1,-5]) AS r", 5.0),
            ("SELECT LpDistance([0,0],[3,4], 2) AS r", 5.0),
            ("SELECT distanceLp([0,0],[3,4], 2) AS r", 5.0),
            ("SELECT distanceL2Squared([0,0],[3,4]) AS r", 25.0),
            ("SELECT distanceLinf([1,2],[4,3]) AS r", 3.0),
        ]:
            got = eng.execute(q).rows[0][0]
            assert abs(got - want) < 1e-9, q

    def test_normalize_family(self, eng):
        for q, want in [
            ("SELECT L1Normalize([1,3]) AS r", [0.25, 0.75]),
            ("SELECT L2Normalize([3,4]) AS r", [0.6, 0.8]),
            ("SELECT LinfNormalize([2,-4]) AS r", [0.5, -1.0]),
            ("SELECT normalizeLinf([2,-4]) AS r", [0.5, -1.0]),
            ("SELECT LpNormalize([3,4], 2) AS r", [0.6, 0.8]),
        ]:
            got = eng.execute(q).rows[0][0]
            assert all(
                abs(g - w) < 1e-9 for g, w in zip(got, want)
            ), q

    def test_dot_product_tuple_overload(self, eng):
        assert eng.execute(
            "SELECT dotProduct((1,2),(3,4)) AS r"
        ).rows == [[11.0]]
        assert eng.execute(
            "SELECT scalarProduct((1,2,3),(4,5,6)) AS r"
        ).rows == [[32.0]]
        # the array path is untouched
        assert eng.execute(
            "SELECT dotProduct([1,2,3],[4,5,6]) AS r"
        ).rows == [[32.0]]

    def test_polygon_multipolygon_literals(self, eng):
        # the CH docs examples: triple-nested MultiPolygon literals
        got = eng.execute(
            "SELECT polygonAreaCartesian([[[(0., 0.), (10., 0.), "
            "(10., 10.), (0., 10.)]]]) AS r"
        ).rows[0][0]
        assert got == 100.0
        # Polygon (double-nested) still served
        got2 = eng.execute(
            "SELECT polygonAreaCartesian([[(0., 0.), (10., 0.), "
            "(10., 10.), (0., 10.)]]) AS r"
        ).rows[0][0]
        assert got2 == 100.0
        # hole subtracts
        got3 = eng.execute(
            "SELECT polygonAreaCartesian([[[(0.,0.),(10.,0.),"
            "(10.,10.),(0.,10.)], [(2.,2.),(4.,2.),(4.,4.),"
            "(2.,4.)]]]) AS r"
        ).rows[0][0]
        assert got3 == 96.0
        got4 = eng.execute(
            "SELECT polygonPerimeterCartesian([[[(0., 0.), (0., 5.),"
            " (5., 5.), (5., 0.)]]]) AS r"
        ).rows[0][0]
        assert got4 == 20.0

    def test_map_populate_series(self, eng):
        got = eng.execute(
            "SELECT mapPopulateSeries(map(1, 10, 3, 30)) AS r"
        ).rows[0][0]
        assert got == {1: 10, 2: 0, 3: 30}
        got2 = eng.execute(
            "SELECT mapPopulateSeries(map(1, 10, 3, 30), 5) AS r"
        ).rows[0][0]
        assert got2 == {1: 10, 2: 0, 3: 30, 4: 0, 5: 0}
        got3 = eng.execute(
            "SELECT mapPopulateSeries([1, 3], [10, 30]) AS r"
        ).rows[0][0]
        assert list(got3) == [[1, 2, 3], [10, 0, 30]]

    def test_try_base58_decode(self, eng):
        # the CH docs pair: valid input decodes, junk yields ''
        assert eng.execute(
            "SELECT tryBase58Decode('3dc8KtHrwM') AS r"
        ).rows == [["Encoded"]]
        assert eng.execute(
            "SELECT tryBase58Decode('invalid!!') AS r"
        ).rows == [[""]]

    def test_farm_fingerprint_is_capability_twin(self, eng):
        r = eng.execute(
            "SELECT farmFingerprint64('x') AS a, farmHash64('x') AS b"
        ).rows[0]
        assert r[0] is not None and r[1] is not None


class TestUnknownParametricGuard:
    """Any name(params)(args) left standing after the parametric
    rewrites is a CH aggregate this engine doesn't serve; it must
    raise the guided error, not Spark's bare PARSE_SYNTAX_ERROR."""

    def test_unknown_parametric_guided(self):
        from bighouse_spark.dialect.transpile import transpile

        for q in [
            # (sequenceMatchEvents now has its own version-guidance
            # refusal — TestFunnelFamilyVersionGuidance)
            "SELECT totallyUnknownAgg('(?1)(?2)')(ts, a=1, b=2) "
            "FROM t",
            "SELECT windowFunnelArray(10)(ts, a=1) FROM t",
        ]:
            with pytest.raises(ValueError, match="parametric"):
                transpile(q)

    def test_served_forms_unaffected(self):
        from bighouse_spark.dialect.transpile import transpile

        for q in [
            "SELECT quantile(0.5)(x) FROM t",
            "SELECT topK(3)(x) FROM t",
            "SELECT windowFunnel(10)(ts, a=1, b=2) FROM t GROUP BY u",
            "SELECT rank() OVER (ORDER BY x) FROM t",
            "SELECT count() FROM t WHERE (a, b) IN ((1,1),(2,2))",
            # a string literal containing ')(' must not trip the scan
            "SELECT sequenceMatch('(?1)(?2)')(ts, a=1, b=2) FROM t "
            "GROUP BY u",
        ]:
            transpile(q)


class TestRound9ReviewFindings:
    """Fixes from the round-9 self-review pass."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_strict_order_out_of_order_event_halts(self, eng):
        # CH's SECOND strict_order halt: after the chain starts, an
        # event matching a condition whose predecessor level is
        # unreached stops processing (not just no-match events)
        def wf(events, spec="3600, 'strict_order'"):
            vals = ", ".join(f"({t}, '{e}')" for t, e in events)
            q = (
                f"SELECT windowFunnel({spec})(CAST(t AS TIMESTAMP), "
                f"v='A', v='B', v='C') AS lvl "
                f"FROM (SELECT * FROM VALUES {vals} AS t(t, v))"
            )
            return eng.execute(q).rows[0][0]

        assert wf([(1, 'A'), (2, 'C'), (3, 'B'), (4, 'C')]) == 1
        # before the chain starts, out-of-order events are ignored
        assert wf([(1, 'C'), (2, 'A'), (3, 'B'), (4, 'C')]) == 3
        assert wf([(1, 'B'), (2, 'A'), (3, 'B'), (4, 'C')]) == 3
        # a repeat whose predecessor IS reached takes the advance
        # branch — no halt
        assert wf([(1, 'A'), (2, 'B'), (3, 'B'), (4, 'C')]) == 3

    def test_spark_spelled_array_heads_dispatch_in_length(self, eng):
        for q, want in [
            ("SELECT length(array_distinct([1,2,2])) AS r", 2),
            ("SELECT length(array_sort([3,1,2])) AS r", 3),
            ("SELECT length(split('a,b,c', ',')) AS r", 3),
            ("SELECT length(filter([1,2,3], x -> x > 1)) AS r", 2),
        ]:
            assert eng.execute(q).rows == [[want]], q
        # array_join returns a STRING — stays on length()
        assert eng.execute(
            "SELECT length(array_join([1,2], '-')) AS r"
        ).rows == [[3]]

    def test_parametric_guard_backslash_escape(self, eng):
        # a backslash-escaped quote inside a literal containing ')('
        # must not desync the guard's string masking
        assert eng.execute("SELECT 'a\\')(b' AS s").rows == [["a')(b"]]

    def test_map_populate_series_dispatch(self, eng):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="ambiguous"):
            transpile(
                "SELECT mapPopulateSeries(keys_col, vals_col) FROM t"
            )
        got = eng.execute(
            "SELECT mapPopulateSeries([1,3],[10,30],4) AS r"
        ).rows[0][0]
        assert list(got) == [[1, 2, 3, 4], [10, 0, 30, 0]]


class TestGenerateSeries:
    """generate_series/generateSeries(start, stop[, step]) — CH's
    postgres-flavor INCLUSIVE-stop generator table function."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_inclusive_stop_and_step(self, eng):
        r = eng.execute(
            "SELECT count() AS c, min(generate_series) AS a, "
            "max(generate_series) AS b FROM generate_series(1, 10)"
        )
        assert r.rows == [[10, 1, 10]]
        assert eng.execute(
            "SELECT count() AS c FROM generateSeries(0, 10, 2)"
        ).rows == [[6]]

    def test_bad_arity_guided(self, eng):
        with pytest.raises(ValueError, match="2-3"):
            eng.execute("SELECT * FROM generate_series(5)")


class TestRound9LateSweep:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_has_token_or_null(self, eng):
        assert eng.execute(
            "SELECT hasTokenOrNull('a b c', 'b') AS r"
        ).rows == [[True]]
        # a needle with separators is not a token: NULL, not false
        assert eng.execute(
            "SELECT hasTokenOrNull('a b c', 'b c') AS r"
        ).rows == [[None]]
        assert eng.execute(
            "SELECT hasTokenCaseInsensitiveOrNull('A B', 'b') AS r"
        ).rows == [[True]]

    def test_tuple_names(self, eng):
        assert eng.execute(
            "SELECT tupleNames((1, 'x', 3.0)) AS r"
        ).rows == [[["1", "2", "3"]]]
        with pytest.raises(ValueError, match="inline tuples"):
            eng.execute(
                "SELECT tupleNames(t) FROM (SELECT (1,2) AS t)"
            )


class TestRound9LateSweep2:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_empty_dispatches_arrays(self, eng):
        r = eng.execute(
            "SELECT empty([]) AS a, notEmpty([1]) AS b, "
            "empty('') AS c, notEmpty('x') AS d, "
            "empty(array_distinct([1,1])) AS e"
        )
        assert r.rows == [[True, True, True, True, False]]

    def test_is_zero_or_null(self, eng):
        assert eng.execute(
            "SELECT isZeroOrNull(0) AS a, isZeroOrNull(NULL) AS b, "
            "isZeroOrNull(5) AS c"
        ).rows == [[True, True, False]]

    def test_interval_quarter(self, eng):
        assert str(eng.execute(
            "SELECT toDate('2024-01-01') + INTERVAL 2 QUARTERS AS r"
        ).rows[0][0]) == "2024-07-01"

    def test_array_partial_shuffle(self, eng):
        assert eng.execute(
            "SELECT size(arrayPartialShuffle([1,2,3,4], 2)) AS r"
        ).rows == [[4]]


class TestAdviceR9Fixes:
    """ADVICE round-9 findings: parametric-guard false positives on
    keyword heads / parenthesized subqueries, mapPopulateSeries
    2-arg dispatch + empty/descending edges, seeded
    arrayPartialShuffle refusal."""

    @pytest.fixture
    def eng(self):
        from bighouse_spark import BigHouseEngine

        return BigHouseEngine()

    def test_cte_then_parenthesized_select(self, eng):
        # valid CH and Spark SQL; previously tripped the parametric
        # guard ("AS (...)(SELECT ...)")
        assert eng.execute(
            "WITH t AS (SELECT 1 AS x) (SELECT * FROM t)"
        ).rows == [[1]]

    def test_keyword_heads_not_parametric(self, eng):
        assert eng.execute(
            "SELECT 1 AS r WHERE 1 IN (1, 2) AND (2) IN (2)"
        ).rows == [[1]]

    def test_unknown_parametric_still_refused(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="parametric"):
            transpile("SELECT unknownParam(0.5)(x) FROM t")

    def test_map_populate_series_ambiguous_columns_refused(self):
        from bighouse_spark.dialect.transpile import transpile

        # column SPELLINGS that merely look array/map-ish must not
        # silently pick a form
        for q in [
            "SELECT mapPopulateSeries(mapping, max_key) FROM t",
            "SELECT mapPopulateSeries(map_keys_arr, vals) FROM t",
            "SELECT mapPopulateSeries(array_col, n) FROM t",
        ]:
            with pytest.raises(ValueError, match="ambiguous"):
                transpile(q)

    def test_map_populate_series_edges(self, eng):
        # max < min key -> nothing to fill (no descending sequence)
        assert eng.execute(
            "SELECT mapPopulateSeries(map(5, 1), 2) AS r"
        ).rows == [[{}]]
        # empty map -> empty map, not NULL
        assert eng.execute(
            "SELECT mapPopulateSeries("
            "map_filter(map(1, 1), (k, v) -> false)) AS r"
        ).rows == [[{}]]

    def test_array_partial_shuffle_seeded_refused(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="seeded"):
            transpile("SELECT arrayPartialShuffle([1,2,3], 2, 42)")

    def test_length_dispatches_array_partial_shuffle(self, eng):
        assert eng.execute(
            "SELECT length(arrayPartialShuffle([1,2,3], 2)) AS r"
        ).rows == [[3]]


class TestWindowFunnelTieCorner:
    """Equal-timestamp entries from two multi-condition rows must
    interleave by condition number, exactly as CH's sorted
    (timestamp, event) entry walk — the round-10 per-condition
    explode closed the documented row-walk deviation."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def _wf(self, eng, events, spec):
        # conditions are substring matches so one row can match
        # several conditions ('12' matches cond1 AND cond2)
        vals = ", ".join(f"({t}, '{e}')" for t, e in events)
        q = (
            f"SELECT windowFunnel({spec})(CAST(t AS TIMESTAMP), "
            f"e LIKE '%1%', e LIKE '%2%', e LIKE '%3%') AS lvl "
            f"FROM (SELECT * FROM VALUES {vals} AS t(t, e))"
        )
        return eng.execute(q).rows[0][0]

    def test_default_mode_interleave(self, eng):
        # entries (10,1)x2, (10,2), (10,3) -> level 3; the old
        # row-walk processed row '13' first (flag sort) and got 2
        assert self._wf(eng, [(10, "12"), (10, "13")], "100") == 3

    def test_dedup_mode_interleave_no_truncation(self, eng):
        # entries (10,1), (10,1), (10,2), (10,3): each level reached
        # once, completion is immune -> 3 (row-walk reached only 2)
        assert (
            self._wf(
                eng, [(10, "13"), (10, "12")],
                "100, 'strict_deduplication'",
            )
            == 3
        )

    def test_dedup_mode_tie_truncates(self, eng):
        # entries (10,1), (10,2), (10,2): the second cond2 entry is
        # a repeat of a reached level -> CH returns 2
        assert (
            self._wf(
                eng, [(10, "12"), (10, "2")],
                "100, 'strict_deduplication'",
            )
            == 2
        )

    def test_strict_increase_blocks_same_timestamp(self, eng):
        assert self._wf(eng, [(10, "12")], "100") == 2
        assert (
            self._wf(eng, [(10, "12")], "100, 'strict_increase'") == 1
        )
        # a later distinct-timestamp cond2 still advances
        assert (
            self._wf(
                eng, [(10, "12"), (11, "2")], "100, 'strict_increase'"
            )
            == 2
        )

    def test_strict_order_nomatch_sorts_ahead_at_tie(self, eng):
        # (10, X) sorts before (10, 1) like CH's event number 0:
        # before the chain starts it is ignored
        assert (
            self._wf(eng, [(10, "X"), (10, "1")], "100, 'strict_order'")
            == 1
        )
        # after the chain starts, the tie-ahead breaker halts before
        # the same-timestamp cond2 entry is seen
        assert (
            self._wf(
                eng, [(5, "1"), (10, "X"), (10, "2")],
                "100, 'strict_order'",
            )
            == 1
        )

    def test_strict_order_out_of_order_entry_pre_chain_ignored(
        self, eng
    ):
        # cond2 before any cond1: no chain yet -> ignored, not a halt
        assert (
            self._wf(eng, [(5, "2"), (10, "1")], "100, 'strict_order'")
            == 1
        )


class TestStrictOrderGroupCap:
    """strict_order's full-group buffer hazard is guarded at runtime:
    a group over max_funnel_group_events raises a guided error
    instead of silently ballooning executor state (SCALE.md)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    Q = (
        "SELECT windowFunnel(100, 'strict_order')"
        "(CAST(t AS TIMESTAMP), e='A', e='B') AS lvl "
        "FROM (SELECT * FROM VALUES (1,'A'), (2,'A'), (3,'A'), "
        "(4,'B') AS t(t, e))"
    )

    def test_group_over_cap_raises_guided(self, eng):
        with pytest.raises(Exception, match="max_funnel_group_events"):
            eng.execute(self.Q + " SETTINGS max_funnel_group_events=2")

    def test_group_under_cap_unaffected(self, eng):
        assert eng.execute(
            self.Q + " SETTINGS max_funnel_group_events=10"
        ).rows == [[2]]

    def test_default_cap_and_disable(self, eng):
        # the default 10M cap never bites a sane group; 0 disables
        assert eng.execute(self.Q).rows == [[2]]
        assert eng.execute(
            self.Q + " SETTINGS max_funnel_group_events=0"
        ).rows == [[2]]

    def test_non_strict_order_ignores_cap(self, eng):
        # other modes pre-filter the buffer to relevant events; the
        # full-group hazard (and its guard) is strict_order-only
        q = self.Q.replace(", 'strict_order'", "")
        assert eng.execute(
            q + " SETTINGS max_funnel_group_events=2"
        ).rows == [[2]]

    def test_bad_value_refused(self, eng):
        with pytest.raises(ValueError, match="max_funnel_group_events"):
            eng.execute(self.Q + " SETTINGS max_funnel_group_events=abc")


class TestSparkbarKostik:
    """Round-10 graduations of the last cheaply-expressible probe
    refusals: sparkbar (bucketed block-glyph bar aggregate) and
    kostikConsistentHash (capability twin — same consistent-hashing
    contract, documented non-bit-exact permutation)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_sparkbar_ramp(self, eng):
        r = eng.execute(
            "SELECT sparkbar(4)(x, y) AS bar FROM (SELECT * FROM "
            "VALUES (1,1),(2,1),(3,2),(4,2),(5,4),(6,4),(7,8),(8,8) "
            "AS t(x, y))"
        )
        assert r.rows == [["▁▂▄█"]]

    def test_sparkbar_empty_buckets_render_spaces(self, eng):
        r = eng.execute(
            "SELECT sparkbar(4)(x, y) AS bar FROM "
            "(SELECT * FROM VALUES (1,5),(8,5) AS t(x, y))"
        )
        assert r.rows == [["█  █"]]

    def test_sparkbar_window_ignores_out_of_range(self, eng):
        r = eng.execute(
            "SELECT sparkbar(2, 1, 4)(x, y) AS bar FROM "
            "(SELECT * FROM VALUES (1,3),(4,3),(99,100) AS t(x, y))"
        )
        assert r.rows == [["██"]]

    def test_sparkbar_empty_group(self, eng):
        r = eng.execute(
            "SELECT sparkbar(3)(x, y) AS bar FROM "
            "(SELECT * FROM VALUES (1,1) AS t(x, y)) WHERE x > 5"
        )
        assert r.rows == [[""]]

    def test_sparkbar_refusals(self):
        from bighouse_spark.dialect.transpile import transpile

        for q, hint in [
            ("SELECT sparkbar(0)(x, y) FROM t", "1, 1024"),
            ("SELECT sparkbar(2000)(x, y) FROM t", "1, 1024"),
            ("SELECT sparkbar(w)(x, y) FROM t", "literal integer"),
            ("SELECT sparkbar(3, 1)(x, y) FROM t", "min_x, max_x"),
        ]:
            with pytest.raises(ValueError, match=hint):
                transpile(q)

    def test_kostik_deterministic_in_range(self, eng):
        r = eng.execute(
            "SELECT kostikConsistentHash(12345, 8) AS a, "
            "kostikConsistentHash(12345, 8) AS b, "
            "yandexConsistentHash(12345, 8) AS y, "
            "kostikConsistentHash(-5, 8) AS neg"
        ).rows[0]
        assert r[0] == r[1] == r[2]
        assert 0 <= r[0] < 8 and 0 <= r[3] < 8

    def test_kostik_minimal_remap_and_coverage(self, eng):
        # growing n from 8 to 9 must move keys ONLY into the new
        # bucket; all 9 buckets populated over 9000 sequential keys
        r = eng.execute(
            "SELECT count(DISTINCT b9) AS nb, "
            "sum(IF(b8 = b9 OR b9 = 8, 0, 1)) AS viol "
            "FROM (SELECT kostikConsistentHash(number, 8) AS b8, "
            "kostikConsistentHash(number, 9) AS b9 "
            "FROM (SELECT number FROM system.numbers LIMIT 9000))"
        )
        assert r.rows == [[9, 0]]

    def test_kostik_differs_from_jump(self, eng):
        # a distinct permutation (the mixed key), not a rename
        r = eng.execute(
            "SELECT sum(IF(kostikConsistentHash(number, 16) = "
            "jumpConsistentHash(number, 16), 1, 0)) AS same "
            "FROM (SELECT number FROM system.numbers LIMIT 256)"
        )
        assert r.rows[0][0] < 256

    def test_kostik_bucket_cap_guided(self, eng):
        with pytest.raises(Exception, match="32768"):
            eng.execute("SELECT kostikConsistentHash(1, 40000) AS b")


class TestFunnelFamilyVersionGuidance:
    """CH funnel-family members NEWER than the reference's pinned
    CH 23.6 (ch/Dockerfile:1) refuse with version guidance (VERDICT
    r9 Next #5): strict_once (>= 24.1), sequenceMatchEvents
    (>= 23.10). maxIntersections/Position are 23.6 functions and
    graduated in round 7."""

    def test_strict_once_version_refusal(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="24.1"):
            transpile(
                "SELECT windowFunnel(10, 'strict_once')"
                "(ts, a=1, b=2) FROM t GROUP BY u"
            )

    def test_sequence_match_events_version_refusal(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="23.10"):
            transpile(
                "SELECT sequenceMatchEvents('(?1)(?2)')"
                "(ts, a=1, b=2) FROM t GROUP BY u"
            )

    def test_max_intersections_still_served(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        assert eng.execute(
            "SELECT maxIntersections(s, e) AS m FROM (SELECT * FROM "
            "VALUES (1, 5), (2, 7), (6, 9) AS t(s, e))"
        ).rows == [[2]]


class TestSeededShuffleRefusals:
    """CH's seeded arrayShuffle/arrayPartialShuffle are deterministic
    per row; Spark's seeded shuffle advances its RNG per row AND per
    partition, so a silent mapping would change results under
    repartitioning (ADVICE r9 + the matching arrayShuffle hole)."""

    def test_seeded_forms_refuse_with_guidance(self):
        from bighouse_spark.dialect.transpile import transpile

        for q in [
            "SELECT arrayShuffle([1,2,3], 42)",
            "SELECT arrayPartialShuffle([1,2,3], 2, 42)",
        ]:
            with pytest.raises(ValueError, match="repartitioning"):
                transpile(q)

    def test_unseeded_forms_serve(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        assert eng.execute(
            "SELECT sort_array(arrayShuffle([3,1,2])) AS a, "
            "size(arrayPartialShuffle([1,2,3], 2)) AS n"
        ).rows == [[[1, 2, 3], 3]]


class TestRound10ProbeTranche:
    """Round-10 sweep (~60 names): almost everything already served;
    the graduations here are the holes it found — bitmap binary
    cardinalities + subset selectors, parametric groupArrayInsertAt,
    and Spark-VALUES rows opening with a string literal no longer
    misparsed as the CH values('schema', ...) table function."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_bitmap_binary_cardinalities(self, eng):
        assert eng.execute(
            "SELECT bitmapAndCardinality(bitmapBuild([1,2]), "
            "bitmapBuild([2,3])) AS a, "
            "bitmapOrCardinality(bitmapBuild([1,2]), "
            "bitmapBuild([2,3])) AS b, "
            "bitmapXorCardinality(bitmapBuild([1,2]), "
            "bitmapBuild([2,3])) AS c, "
            "bitmapAndnotCardinality(bitmapBuild([1,2]), "
            "bitmapBuild([2,3])) AS d"
        ).rows == [[1, 3, 2, 1]]

    def test_bitmap_subset_selectors(self, eng):
        assert eng.execute(
            "SELECT bitmapToArray(bitmapSubsetInRange("
            "bitmapBuild([1,2,5]), 1, 3)) AS a, "
            "bitmapToArray(bitmapSubsetLimit("
            "bitmapBuild([1,2,5]), 2, 2)) AS b, "
            "bitmapToArray(subBitmap("
            "bitmapBuild([1,2,5]), 1, 2)) AS c"
        ).rows == [[[1, 2], [2, 5], [2, 5]]]

    def test_group_array_insert_at_parametric(self, eng):
        base = (
            " FROM (SELECT * FROM VALUES ('a', 0),('b', 2) "
            "AS t(x, i))"
        )
        # explicit default fills holes; explicit size pads/truncates
        assert eng.execute(
            "SELECT groupArrayInsertAt('d', 4)(x, i) AS r" + base
        ).rows == [[["a", "d", "b", "d"]]]
        assert eng.execute(
            "SELECT groupArrayInsertAt('-')(x, i) AS r" + base
        ).rows == [[["a", "-", "b"]]]
        # bare form keeps NULL holes (documented deviation)
        assert eng.execute(
            "SELECT groupArrayInsertAt(x, i) AS r" + base
        ).rows == [[["a", None, "b"]]]

    def test_spark_values_with_leading_string_literal(self, eng):
        # previously misparsed as CH values('schema', ...) and died
        # with "cannot parse schema item"
        assert eng.execute(
            "SELECT * FROM VALUES ('only', 'strings') AS t(x, y)"
        ).rows == [[ "only", "strings" ]]

    def test_ch_values_table_function_still_served(self, eng):
        assert eng.execute(
            "SELECT * FROM values('a UInt64, b String', (1, 'x'), "
            "(2, 'y')) ORDER BY a"
        ).rows == [[1, "x"], [2, "y"]]


class TestRound10ProbeTranche2:
    """Second round-10 sweep (~45 conversion/hash/bit/date names):
    graduations are unsigned range-checks on the OrZero/OrNull/
    accurateCast families (toUInt8OrZero('300') is 0 in CH, not
    300), accurateCastOrDefault, javaHashUTF16LE, intHash32/64 +
    URLHash capability twins, currentSchemas/connectionId."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_unsigned_parse_casts_range_check(self, eng):
        assert eng.execute(
            "SELECT toUInt8OrZero('300') AS a, toUInt8OrZero('-5') "
            "AS b, toUInt8OrZero('200') AS c, toUInt8OrZero('x') AS d"
        ).rows == [[0, 0, 200, 0]]
        assert eng.execute(
            "SELECT toUInt8OrNull('300') AS a, "
            "toUInt16OrNull('70000') AS b, toUInt32OrNull('-1') AS c,"
            " toUInt64OrNull('-1') AS d"
        ).rows == [[None, None, None, None]]
        # in-range values still pass at each width's boundary
        assert eng.execute(
            "SELECT toUInt16OrZero('65535') AS a, "
            "toUInt32OrZero('4294967295') AS b"
        ).rows == [[65535, 4294967295]]

    def test_accurate_cast_family_range_checks(self, eng):
        assert eng.execute(
            "SELECT accurateCastOrNull(300, 'UInt8') AS a, "
            "accurateCastOrNull(200, 'UInt8') AS b"
        ).rows == [[None, 200]]
        assert eng.execute(
            "SELECT accurateCastOrDefault(300, 'UInt8', 7) AS a, "
            "accurateCastOrDefault(200, 'UInt8', 7) AS b"
        ).rows == [[7, 200]]

    def test_java_hash_utf16le(self, eng):
        # CH docs example: both spellings land on Java
        # "test".hashCode() = 3556498 (convertCharset is identity)
        assert eng.execute(
            "SELECT javaHashUTF16LE('test') AS a, javaHashUTF16LE("
            "convertCharset('test', 'utf-8', 'utf-16le')) AS b"
        ).rows == [[3556498, 3556498]]

    def test_int_hash_twins(self, eng):
        r = eng.execute(
            "SELECT intHash64(42) AS a, intHash32(42) AS b, "
            "intHash32(42) >= 0 AND intHash32(42) < 4294967296 AS ok"
        ).rows[0]
        assert r[0] is not None and r[2] is True

    def test_url_hash(self, eng):
        # trailing /?# trimmed before hashing; level N hashes the
        # hierarchy prefix where level 0 is the bare scheme://host
        # (ADVICE r10)
        assert eng.execute(
            "SELECT URLHash('http://x.com/a/') = "
            "URLHash('http://x.com/a') AS a, "
            "URLHash('http://x.com/a/b', 1) = "
            "URLHash('http://x.com/a/') AS b, "
            "URLHash('http://x.com/a/b', 0) = "
            "URLHash('http://x.com') AS c, "
            "URLHash('http://x.com', 0) = "
            "URLHash('http://x.com/') AS d"
        ).rows == [[True, True, True, True]]

    def test_current_schemas_connection_id(self, eng):
        assert eng.execute(
            "SELECT currentSchemas(true) AS a, connectionId() AS b"
        ).rows == [[["default"], 0]]


class TestArrayIfCombinators:
    """Stacked -ArrayIf combinators (round-10 sweep hole): the
    condition gates the whole row's array before the -Array fold;
    countArray joins the fixed -Array spellings."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    BASE = (
        " FROM (SELECT * FROM VALUES ([1,2], 1),([3,4], 0) "
        "AS t(arr, f))"
    )

    def test_array_if_family(self, eng):
        assert eng.execute(
            "SELECT sumArrayIf(arr, f = 1) AS a, "
            "minArrayIf(arr, f = 1) AS b, "
            "maxArrayIf(arr, f = 1) AS c, "
            "avgArrayIf(arr, f = 1) AS d, "
            "uniqArrayIf(arr, f = 1) AS e, "
            "countArrayIf(arr, f = 1) AS f, "
            "countArray(arr) AS g" + self.BASE
        ).rows == [[3.0, 1, 2, 1.5, 2, 2, 4]]

    def test_array_if_empty_filter_is_null(self, eng):
        assert eng.execute(
            "SELECT sumArrayIf(arr, f = 9) AS r" + self.BASE
        ).rows == [[None]]


class TestRound10ReviewFindings:
    """Fixes from the round-10 self-review pass (8 confirmed
    findings: Nullable-wrapped range gates, ArrayIf zero-division/
    NULL-count edges, sparkbar NULL-y window + explicit-window empty
    group, groupArrayInsertAt size-0 descending sequence, 2-arg
    accurateCastOrDefault type defaults)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_nullable_wrapped_unsigned_range_gate(self, eng):
        assert eng.execute(
            "SELECT accurateCastOrNull(300, 'Nullable(UInt8)') AS a,"
            " accurateCastOrNull(200, 'Nullable(UInt8)') AS b"
        ).rows == [[None, 200]]

    def test_accurate_cast_or_default_two_arg_type_defaults(self, eng):
        assert eng.execute(
            "SELECT accurateCastOrDefault(300, 'UInt8') AS a, "
            "accurateCastOrDefault('x', 'String') AS b, "
            "accurateCastOrDefault('x', 'Int32') AS c"
        ).rows == [[0, "x", 0]]

    def test_avg_array_all_empty_is_null_not_div_zero(self, eng):
        assert eng.execute(
            "SELECT avgArrayIf(arr, f = 1) AS a FROM (SELECT * FROM "
            "VALUES (array(), 1),(array(3,4), 0) AS t(arr, f))"
        ).rows == [[None]]
        assert eng.execute(
            "SELECT avgArray(arr) AS r FROM (SELECT array() AS arr)"
        ).rows == [[None]]

    def test_count_array_empty_relation_is_zero(self, eng):
        assert eng.execute(
            "SELECT countArray(arr) AS a FROM "
            "(SELECT array(1) AS arr) WHERE 1 = 0"
        ).rows == [[0]]
        assert eng.execute(
            "SELECT countArrayIf(arr, false) AS a FROM "
            "(SELECT array(1) AS arr)"
        ).rows == [[0]]

    def test_sparkbar_null_y_rows_do_not_stretch_window(self, eng):
        # the NULL-y row at x=0 must not widen the implicit window
        assert eng.execute(
            "SELECT sparkbar(2)(x, y) AS r FROM (SELECT * FROM "
            "VALUES (0, CAST(NULL AS INT)),(8, 1),(9, 1) AS t(x, y))"
        ).rows == [["██"]]

    def test_sparkbar_explicit_window_empty_group(self, eng):
        # both window forms agree: empty group renders ''
        assert eng.execute(
            "SELECT sparkbar(3, 1, 9)(x, y) AS r FROM "
            "(SELECT * FROM VALUES (1, 1) AS t(x, y)) WHERE 1 = 0"
        ).rows == [[""]]

    def test_group_array_insert_at_size_clamps(self, eng):
        base = (
            " FROM (SELECT * FROM VALUES ('a', 0),('b', 3) "
            "AS t(x, i))"
        )
        assert eng.execute(
            "SELECT groupArrayInsertAt('d', 0)(x, i) AS r" + base
        ).rows == [[[]]]
        # size truncates positions beyond it
        assert eng.execute(
            "SELECT groupArrayInsertAt('d', 2)(x, i) AS r" + base
        ).rows == [[["a", "d"]]]


class TestAggregateMatrices:
    """corrMatrix/covarSampMatrix/covarPopMatrix graduated (round
    10): the column list is static at transpile time, so the N×N
    matrix is n² plain aggregate cells."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    BASE = (
        " FROM (SELECT * FROM VALUES (1.0, 2.0, 1.0),"
        "(2.0, 4.0, 0.0),(3.0, 6.0, 1.0) AS t(a, b, c))"
    )

    def test_corr_matrix(self, eng):
        r = eng.execute("SELECT corrMatrix(a, b) AS r" + self.BASE)
        assert r.rows == [[[[1.0, 1.0], [1.0, 1.0]]]]

    def test_covar_matrices(self, eng):
        r = eng.execute(
            "SELECT covarSampMatrix(a, b, c) AS r" + self.BASE
        ).rows[0][0]
        assert r[0][0] == 1.0 and r[0][1] == 2.0 and r[1][1] == 4.0
        r2 = eng.execute(
            "SELECT covarPopMatrix(a, b) AS r" + self.BASE
        ).rows[0][0]
        assert abs(r2[0][0] - 2.0 / 3.0) < 1e-12


class TestExclusiveQuantiles:
    """quantile(s)ExactExclusive graduated (round 10): the R-6
    estimator (Excel PERCENTILE.EXC) over one sorted collect —
    values pinned to PERCENTILE.EXC([1..10], p)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    BASE = " FROM (SELECT explode(sequence(1, 10)) AS x)"

    def test_r6_values(self, eng):
        assert eng.execute(
            "SELECT quantileExactExclusive(0.25)(x) AS a, "
            "quantileExactExclusive(0.5)(x) AS b" + self.BASE
        ).rows == [[2.75, 5.5]]
        assert eng.execute(
            "SELECT quantilesExactExclusive(0.25, 0.5, 0.9)(x) AS r"
            + self.BASE
        ).rows == [[[2.75, 5.5, 9.9]]]

    def test_rank_clamps_to_ends(self, eng):
        assert eng.execute(
            "SELECT quantileExactExclusive(0.01)(x) AS a, "
            "quantileExactExclusive(0.99)(x) AS b" + self.BASE
        ).rows == [[1.0, 10.0]]

    def test_differs_from_inclusive(self, eng):
        # R-6 vs R-7 disagree off the median: .EXC=2.75, .INC=3.25
        assert eng.execute(
            "SELECT quantileExactExclusive(0.25)(x) AS a, "
            "quantileExactInclusive(0.25)(x) AS b" + self.BASE
        ).rows == [[2.75, 3.25]]


class TestDoubleQuotedIdentifiers:
    """CH follows the SQL standard: double quotes are IDENTIFIERS.
    Spark's default reads them as string literals — silently
    returning the column NAME for every row — so the transpiler
    converts them to backticks before any other rewrite."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_identifier_not_string_literal(self, eng):
        assert eng.execute(
            'SELECT "x", sum("x") OVER () AS s FROM (SELECT 7 AS x)'
        ).rows == [[7, 7]]

    def test_literals_and_json_payloads_untouched(self, eng):
        assert eng.execute("SELECT 'say \"hi\"' AS s").rows == [
            ['say "hi"']
        ]
        assert eng.execute(
            "SELECT JSONExtractInt('{\"a\": 3}', 'a') AS r"
        ).rows == [[3]]

    def test_escaped_quote_inside_identifier(self, eng):
        assert eng.execute('SELECT 1 AS "odd""name"').rows == [[1]]

    def test_parametric_arg(self, eng):
        assert eng.execute(
            'SELECT quantile(0.5)("x") AS q FROM (SELECT 4 AS x)'
        ).rows == [[4.0]]


class TestRandDistributions:
    """randPoisson/Binomial/NegativeBinomial/ChiSquared/StudentT/
    FisherF/LogNormal (CH 22.10+, in the pinned 23.6) as bounded
    simulation folds — rand()/randn() evaluate per element inside
    higher-order lambdas. Statistical pins over 4000 draws with
    generous tolerances."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_distribution_moments(self, eng):
        r = eng.execute(
            "SELECT avg(p) AS pm, stddev_pop(p) AS ps, avg(b) AS bm,"
            " avg(c) AS cm, avg(l) AS lm, avg(nb) AS nbm, "
            "avg(t) AS tm FROM ("
            "SELECT randPoisson(5.0) AS p, randBinomial(10, 0.5) AS "
            "b, randChiSquared(4) AS c, randLogNormal(0.0, 0.5) AS "
            "l, randNegativeBinomial(3, 0.5) AS nb, "
            "randStudentT(10) AS t "
            "FROM (SELECT number FROM system.numbers LIMIT 4000))"
        ).rows[0]
        pm, ps, bm, cm, lm, nbm, tm = (float(x) for x in r)
        assert abs(pm - 5) < 0.35 and abs(ps - 5 ** 0.5) < 0.35
        assert abs(bm - 5) < 0.35
        assert abs(cm - 4) < 0.5
        assert abs(lm - 1.133) < 0.2   # e^(sigma^2/2)
        assert abs(nbm - 3) < 0.5      # r(1-p)/p
        assert abs(tm) < 0.3

    def test_fisher_f_mean(self, eng):
        r = eng.execute(
            "SELECT avg(f) AS fm FROM (SELECT randFisherF(5, 10) AS "
            "f FROM (SELECT number FROM system.numbers LIMIT 4000))"
        ).rows[0][0]
        assert abs(float(r) - 1.25) < 0.3  # d2/(d2-2)

    def test_binomial_range(self, eng):
        r = eng.execute(
            "SELECT min(b) >= 0 AND max(b) <= 10 AS ok FROM ("
            "SELECT randBinomial(10, 0.5) AS b FROM "
            "(SELECT number FROM system.numbers LIMIT 1000))"
        ).rows
        assert r == [[True]]

    def test_negative_binomial_degenerate_p_refuses(self, eng):
        # p=0 would divide by ln(1)=0, p=1 takes ln(0) — both used
        # to surface as an opaque ANSI cast overflow; CH raises a
        # clear argument error (ADVICE r10).
        for bad in ("0", "1", "0.0", "1.0", "-0.5", "2"):
            with pytest.raises(ValueError, match="open interval"):
                transpile(f"SELECT randNegativeBinomial(3, {bad})")

    def test_negative_binomial_column_p_guarded(self, eng):
        # Non-literal p gets the runtime guard: valid values draw,
        # degenerate values raise the guided message.
        r = eng.execute(
            "SELECT min(nb) >= 0 AS ok FROM (SELECT "
            "randNegativeBinomial(2, number / 10) AS nb FROM "
            "(SELECT number + 1 AS number FROM system.numbers "
            "LIMIT 8))"
        ).rows
        assert r == [[True]]
        with pytest.raises(Exception, match="open interval"):
            eng.execute(
                "SELECT randNegativeBinomial(2, number) AS nb FROM "
                "(SELECT number FROM system.numbers LIMIT 2)"
            )


class TestToStartOfWeekModes:
    """toStartOfWeek(d, mode): CH week modes 0/2 Sunday-first, 1/3
    Monday-first; the bare form keeps the Monday date_trunc."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_modes(self, eng):
        # 2024-01-18 is a Thursday; 2024-01-14 a Sunday
        assert [str(v) for v in eng.execute(
            "SELECT toStartOfWeek(toDate('2024-01-18'), 0) AS a, "
            "toStartOfWeek(toDate('2024-01-18'), 1) AS b, "
            "toStartOfWeek(toDate('2024-01-14'), 0) AS c, "
            "toStartOfWeek(toDate('2024-01-14'), 1) AS d"
        ).rows[0]] == [
            "2024-01-14", "2024-01-15", "2024-01-14", "2024-01-08"
        ]

    def test_bare_form_returns_date(self, eng):
        # CH returns Date and the default mode is 0 (Sunday-first),
        # so the bare form must agree with toStartOfWeek(d, 0)
        # (ADVICE r10): 2024-01-18 is a Thursday → Sunday 01-14.
        assert str(eng.execute(
            "SELECT toStartOfWeek(toDate('2024-01-18')) AS r"
        ).rows[0][0]) == "2024-01-14"

    def test_bare_form_equals_mode_zero(self, eng):
        row = eng.execute(
            "SELECT toStartOfWeek(toDate('2024-01-14')) AS bare, "
            "toStartOfWeek(toDate('2024-01-14'), 0) AS m0"
        ).rows[0]
        assert str(row[0]) == str(row[1]) == "2024-01-14"


class TestRound10ProbeTranche3:
    """Third round-10 sweep: best-effort parser gains the Apache-log
    spelling + 64-bit variants; toStringCutToZero;
    toModifiedJulianDayOrNull."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_best_effort_family(self, eng):
        r = eng.execute(
            "SELECT parseDateTimeBestEffort('05/Mar/2024:10:20:30') "
            "AS a, parseDateTime64BestEffort("
            "'2024-03-05 10:20:30.123') AS b, "
            "parseDateTime64BestEffortOrNull('junk') AS c"
        ).rows[0]
        assert str(r[0]) == "2024-03-05 10:20:30"
        assert str(r[1]) == "2024-03-05 10:20:30.123000"
        assert r[2] is None

    def test_string_cut_to_zero(self, eng):
        assert eng.execute(
            "SELECT toStringCutToZero(toFixedString('ab', 4)) AS r"
        ).rows == [["ab"]]

    def test_modified_julian_or_null(self, eng):
        assert eng.execute(
            "SELECT toModifiedJulianDayOrNull('bad') AS a, "
            "toModifiedJulianDayOrNull('2024-01-15') AS b"
        ).rows == [[None, 60324]]


class TestRound10ProbeTranche4:
    """Fourth round-10 sweep: dateSub/addDate/subDate alias
    spellings, toDecimal256 narrowing (the DECIMAL(38) widening
    posture, like UInt64)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_date_alias_spellings(self, eng):
        r = eng.execute(
            "SELECT dateSub(YEAR, 1, toDate('2024-01-01')) AS a, "
            "addDate(toDate('2024-01-10'), INTERVAL 3 DAY) AS b, "
            "subDate(toDate('2024-01-10'), INTERVAL 3 DAY) AS c"
        ).rows[0]
        assert [str(v) for v in r] == [
            "2023-01-01 00:00:00", "2024-01-13", "2024-01-07"
        ]

    def test_decimal256_narrows(self, eng):
        assert str(eng.execute(
            "SELECT toDecimal256('3.14', 2) AS r"
        ).rows[0][0]) == "3.14"


class TestRound10ProbeTranche5:
    """Fifth round-10 sweep: everything served except
    countMatchesCaseInsensitive — the (?i)-prefixed regexp count."""

    def test_count_matches_case_insensitive(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        assert eng.execute(
            "SELECT countMatchesCaseInsensitive('AaA', 'a') AS a, "
            "countMatches('AaA', 'a') AS b"
        ).rows == [[3, 1]]


class TestRound10ReviewFindings2:
    """Second round-10 self-review pass (8 confirmed findings on the
    newer additions): zero-parameter edges of the rand family, odd
    week modes, the 3-arg timezone forms, the bare exclusive
    quantile, and the throwing best-effort parsers."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_rand_family_zero_params(self, eng):
        assert eng.execute(
            "SELECT randPoisson(0) AS a, randBinomial(0, 0.5) AS b, "
            "randNegativeBinomial(0, 0.5) AS c, "
            "randChiSquared(0) AS d"
        ).rows == [[0, 0, 0, 0.0]]

    def test_odd_week_modes_are_monday_first(self, eng):
        # CH/MySQL week-mode table: every odd mode is Monday-first
        assert [str(v) for v in eng.execute(
            "SELECT toStartOfWeek(toDate('2024-01-18'), 5) AS a, "
            "toStartOfWeek(toDate('2024-01-18'), 7) AS b, "
            "toStartOfWeek(toDate('2024-01-18'), 6) AS c"
        ).rows[0]] == ["2024-01-15", "2024-01-15", "2024-01-14"]

    def test_week_mode_timezone(self, eng):
        # 2024-01-15 01:00 UTC is Sunday evening in New York
        assert str(eng.execute(
            "SELECT toStartOfWeek(toDateTime('2024-01-15 01:00:00'),"
            " 1, 'America/New_York') AS r"
        ).rows[0][0]) == "2024-01-08"

    def test_bare_exclusive_quantile_defaults_to_median(self, eng):
        assert eng.execute(
            "SELECT quantileExactExclusive(x) AS r FROM "
            "(SELECT explode(sequence(1, 10)) AS x)"
        ).rows == [[5.5]]
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="parametrically"):
            transpile("SELECT quantilesExactExclusive(x) FROM t")

    def test_best_effort_timezone_and_precision(self, eng):
        r = eng.execute(
            "SELECT parseDateTimeBestEffort('2024-03-05 10:20:30', "
            "'America/New_York') AS a, parseDateTime64BestEffort("
            "'2024-03-05 10:20:30.123456', 3) AS b"
        ).rows[0]
        assert str(r[0]) == "2024-03-05 15:20:30"
        assert str(r[1]) == "2024-03-05 10:20:30.123000"

    def test_best_effort_throwing_vs_ornull(self, eng):
        with pytest.raises(Exception, match="OrNull"):
            eng.execute("SELECT parseDateTimeBestEffort('junk') AS r")
        assert eng.execute(
            "SELECT parseDateTime64BestEffortOrNull('junk') AS r"
        ).rows == [[None]]


class TestRound10ReviewFindings3:
    """Third self-review pass (7 findings on the second pass's own
    fixes): Date-vs-timestamp tz semantics, offset-aware best-effort
    tz fallback, CH's extra best-effort spellings, DateTime64
    default scale 3, bare+parametric mixing in one query."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_date_with_timezone_not_shifted(self, eng):
        # a pure Date carries no instant — the tz must not move it
        # into the previous week (typeof branches at runtime)
        assert str(eng.execute(
            "SELECT toStartOfWeek(toDate('2024-01-15'), 1, "
            "'America/New_York') AS r"
        ).rows[0][0]) == "2024-01-15"

    def test_best_effort_offset_bearing_input(self, eng):
        # an explicit +02:00 is already absolute; the tz argument is
        # a fallback for offset-free strings only (CH semantics)
        assert str(eng.execute(
            "SELECT parseDateTimeBestEffort("
            "'2024-03-05 08:20:30+02:00', 'America/New_York') AS r"
        ).rows[0][0]) == "2024-03-05 06:20:30"

    def test_best_effort_unix_digits_and_compact(self, eng):
        r = eng.execute(
            "SELECT parseDateTimeBestEffort('1718291000') AS a, "
            "parseDateTimeBestEffort('20240305') AS b"
        ).rows[0]
        assert str(r[0]) == "2024-06-13 15:03:20"
        assert str(r[1]) == "2024-03-05 00:00:00"

    def test_datetime64_default_scale_is_3(self, eng):
        r = eng.execute(
            "SELECT parseDateTime64BestEffort("
            "'2024-03-05 10:20:30.123456') AS a, "
            "parseDateTime64BestEffort("
            "'2024-03-05 10:20:30.123456', 6) AS b"
        ).rows[0]
        assert str(r[0]) == "2024-03-05 10:20:30.123000"
        assert str(r[1]) == "2024-03-05 10:20:30.123456"

    def test_bare_and_parametric_in_one_query(self, eng):
        # the bare occurrence must not stop the parametric scan
        assert eng.execute(
            "SELECT quantileExactExclusive(x) AS a, "
            "quantileExactExclusive(0.9)(x) AS b "
            "FROM (SELECT explode(sequence(1, 10)) AS x)"
        ).rows == [[5.5, 9.9]]


class TestRound10ProbeTranche6:
    """Sixth round-10 sweep (crypto/base64/JSON/punycode): only two
    holes — tryDecrypt (Spark's try_aes_decrypt) and
    tryPunycodeDecode ('' on invalid, the tryBase58Decode
    contract)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_try_decrypt(self, eng):
        assert eng.execute(
            "SELECT tryDecrypt('aes-128-ecb', encrypt('aes-128-ecb',"
            " 'text', '0123456789abcdef'), '0123456789abcdef') AS a,"
            " tryDecrypt('aes-128-ecb', unhex('00'), "
            "'0123456789abcdef') AS b"
        ).rows == [["text", None]]

    def test_try_punycode_decode(self, eng):
        assert eng.execute(
            "SELECT tryPunycodeDecode('mnchen-3ya') AS a, "
            "tryPunycodeDecode('!!bad??') AS b"
        ).rows == [["münchen", ""]]


class TestRound10ProbeTranche7:
    """Seventh round-10 sweep (relative nums, multiSearch/Match,
    extract groups, WKT, UTF8): the only holes were the multiMatch
    index twins. (ngramSearch('hello','hallo') = 0 was confirmed
    CH-correct — the words share no 4-grams.)"""

    def test_multi_match_index_twins(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        assert eng.execute(
            "SELECT multiMatchAnyIndex('hello', ['xx', 'h.*o']) AS "
            "a, multiMatchAnyIndex('hello', ['xx']) AS b, "
            "multiMatchAllIndices('hello', ['h.*', 'xx', 'l+']) AS c"
        ).rows == [[2, 0, [1, 3]]]


class TestRound10ReviewFindings4:
    """Fourth self-review pass (streaming parity + NULL edges):
    multiMatch index twins and the try-decoders propagate NULL
    input as NULL (invalid non-NULL input keeps its 0/'' contract)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_multi_match_index_null_propagation(self, eng):
        assert eng.execute(
            "SELECT multiMatchAnyIndex(NULL, ['a']) AS a, "
            "multiMatchAllIndices(NULL, ['a']) AS b, "
            "multiMatchAnyIndex('x', ['y']) AS c"
        ).rows == [[None, None, 0]]

    def test_try_decoders_null_in_null_out(self, eng):
        assert eng.execute(
            "SELECT tryPunycodeDecode(NULL) AS a, "
            "tryBase58Decode(NULL) AS b, "
            "tryPunycodeDecode('!!bad??') AS c, "
            "tryBase58Decode('bad!') AS d"
        ).rows == [[None, None, "", ""]]


class TestRound11QuantileFamilySweep:
    """Round-11 sweep of the CH 23.6 aggregate index: bare
    (default-level 0.5) forms of the parametric quantile family fell
    to UNRESOLVED_ROUTINE; the weighted TDigest/BFloat16 and plural
    weighted variants hit the generic parametric guard; and the
    stochastic-regression aggregates get NAMED refusals pointing at
    Spark MLlib (VERDICT r10 Next #3)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    N = "(SELECT number FROM system.numbers LIMIT 101)"

    def test_bare_quantile_family_is_median(self, eng):
        r = eng.execute(
            "SELECT quantile(number) AS a, quantileExact(number) AS "
            "b, quantileExactLow(number) AS c, quantileExactHigh("
            "number) AS d, quantileTiming(number) AS e, "
            "quantileTDigest(number) AS f, quantileBFloat16(number) "
            f"AS g FROM {self.N}"
        ).rows[0]
        assert [float(v) for v in r] == [50.0] * 7

    def test_bare_weighted_forms(self, eng):
        r = eng.execute(
            "SELECT quantileExactWeighted(number, 2) AS a, "
            "quantileInterpolatedWeighted(number, 2) AS b, "
            "quantileTimingWeighted(number, 2) AS c, "
            "quantileTDigestWeighted(number, 2) AS d, "
            "quantileBFloat16Weighted(number, 2) AS e, "
            "medianExactWeighted(number, 2) AS f, "
            "medianTimingWeighted(number, 2) AS g, "
            "medianTDigestWeighted(number, 2) AS h, "
            "medianBFloat16Weighted(number, 2) AS i, "
            "medianInterpolatedWeighted(number, 2) AS j "
            f"FROM {self.N}"
        ).rows[0]
        assert [float(v) for v in r] == [50.0] * 10

    def test_deterministic_forms(self, eng):
        r = eng.execute(
            "SELECT quantileDeterministic(number, 42) AS a, "
            "medianDeterministic(number, 42) AS b, "
            "quantileDeterministic(0.9)(number, 42) AS c "
            f"FROM {self.N}"
        ).rows[0]
        assert [float(v) for v in r] == [50.0, 50.0, 90.0]

    def test_parametric_weighted_graduations(self, eng):
        r = eng.execute(
            "SELECT quantileTDigestWeighted(0.9)(number, 2) AS a, "
            "quantileBFloat16Weighted(0.9)(number, 2) AS b, "
            "quantilesExactWeighted(0.25, 0.75)(number, 2) AS c, "
            "quantilesTDigestWeighted(0.25, 0.75)(number, 2) AS d "
            f"FROM {self.N}"
        ).rows[0]
        assert float(r[0]) == 90.0 and float(r[1]) == 90.0
        assert [float(x) for x in r[2]] == [25.0, 75.0]
        assert [float(x) for x in r[3]] == [25.0, 75.0]

    def test_sum_map_filtered_with_overflow(self, eng):
        assert eng.execute(
            "SELECT sumMapFilteredWithOverflow([1])("
            "map(1, 10, 2, 20)) AS m FROM (SELECT 1)"
        ).rows == [[{1: 10}]]

    def test_plural_bare_forms_refuse_with_guidance(self, eng):
        for fn in ("quantiles", "quantilesExact"):
            with pytest.raises(ValueError, match="parametrically"):
                transpile(f"SELECT {fn}(x) FROM t")

    def test_stochastic_regression_named_refusals(self):
        with pytest.raises(ValueError, match="MLlib"):
            transpile(
                "SELECT stochasticLinearRegression(0.1, 0.0, 5, "
                "'SGD')(y, x) FROM t"
            )
        with pytest.raises(ValueError, match="MLlib"):
            transpile(
                "SELECT stochasticLogisticRegression(0.1, 0.0, 5, "
                "'SGD')(y, x) FROM t"
            )

    def test_quantile_if_combinator_still_flows(self, eng):
        r = eng.execute(
            "SELECT quantileIf(number, number < 51) AS q "
            f"FROM {self.N}"
        ).rows[0][0]
        assert float(r) == 25.0


class TestRound11CombinatorIntersections:
    """VERDICT r10 Next #4: the seams where round-10 families meet
    combinators — bitmap × -State/-Merge, sparkbar over Date x
    (formerly an ANSI analysis error; ledger #3), and
    quantileExactExclusive × -If/-Array."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    N = "(SELECT number FROM system.numbers LIMIT 101)"

    def test_group_bitmap_state_merge_rollup(self, eng):
        # AggregatingMergeTree-style two-level rollup: build per-key
        # states, merge to the global cardinality.
        assert eng.execute(
            "SELECT groupBitmapMerge(st) AS c FROM ("
            "SELECT groupBitmapState(number) AS st FROM "
            "(SELECT number FROM system.numbers LIMIT 10) "
            "GROUP BY number % 2)"
        ).rows == [[10]]

    def test_group_bitmap_or_and_xor_states(self, eng):
        r = eng.execute(
            "SELECT bitmapToArray(groupBitmapOrState(bm)) AS a, "
            "bitmapToArray(groupBitmapAndState(bm)) AS b, "
            "bitmapToArray(groupBitmapXorState(bm)) AS c, "
            "groupBitmapOrMerge(bm) AS d, "
            "groupBitmapAndMerge(bm) AS e, "
            "groupBitmapXorMerge(bm) AS f "
            "FROM (SELECT bitmapBuild([1, 2]) AS bm "
            "UNION ALL SELECT bitmapBuild([2, 3]))"
        ).rows[0]
        assert list(r[0]) == [1, 2, 3]
        assert list(r[1]) == [2]
        assert list(r[2]) == [1, 3]
        assert [r[3], r[4], r[5]] == [3, 1, 2]

    def test_sparkbar_date_x(self, eng):
        # Date buckets by day number (CH's unit); the explicit
        # window form accepts Date bounds too.
        r = eng.execute(
            "SELECT sparkbar(5)(d, v) AS a, "
            "sparkbar(5, toDate('2024-01-14'), toDate('2024-01-20'))"
            "(d, v) AS b FROM ("
            "SELECT toDate('2024-01-15') AS d, 10 AS v "
            "UNION ALL SELECT toDate('2024-01-18'), 5)"
        ).rows[0]
        assert r[0] == "█  ▄ " and r[1] == "█ ▄  "

    def test_sparkbar_month_granularity(self, eng):
        # toStartOfMonth composition: month starts bucket by their
        # epoch seconds; far-apart months land in distinct buckets.
        r = eng.execute(
            "SELECT sparkbar(12)(toStartOfMonth(d), v) AS sb FROM ("
            "SELECT toDate('2024-01-15') AS d, 10 AS v "
            "UNION ALL SELECT toDate('2024-02-15'), 5 "
            "UNION ALL SELECT toDate('2024-06-01'), 20)"
        ).rows[0][0]
        assert r == "▄ ▂        █"

    def test_sparkbar_numeric_x_unchanged(self, eng):
        assert eng.execute(
            f"SELECT sparkbar(4)(number, 1) AS sb FROM {self.N}"
        ).rows == [["████"]]

    def test_quantile_exact_exclusive_if(self, eng):
        r = eng.execute(
            "SELECT quantileExactExclusiveIf(0.5)(number, "
            "number < 51) AS a, "
            "quantileExactExclusiveIf(number, number < 51) AS b, "
            "quantilesExactExclusiveIf(0.25, 0.75)(number, "
            f"number < 51) AS c FROM {self.N}"
        ).rows[0]
        assert float(r[0]) == 25.0 and float(r[1]) == 25.0
        assert [float(v) for v in r[2]] == [12.0, 38.0]

    def test_quantile_exact_exclusive_array(self, eng):
        r = eng.execute(
            "SELECT quantileExactExclusiveArray(0.5)(arr) AS a, "
            "quantileExactExclusiveArray(arr) AS b, "
            "quantilesExactExclusiveArray(0.25, 0.75)(arr) AS c "
            "FROM (SELECT array(1, 2, 3) AS arr "
            "UNION ALL SELECT array(4, 5))"
        ).rows[0]
        assert float(r[0]) == 3.0 and float(r[1]) == 3.0
        assert [float(v) for v in r[2]] == [1.5, 4.5]

    def test_new_bare_members_compose_with_if(self, eng):
        r = eng.execute(
            "SELECT quantileTimingIf(number, number < 51) AS a, "
            "quantileBFloat16If(number, number < 51) AS b, "
            "quantileExactLowIf(number, number < 51) AS c, "
            f"quantileExactHighIf(number, number < 51) AS d "
            f"FROM {self.N}"
        ).rows[0]
        assert [float(v) for v in r] == [25.0, 25.0, 25.0, 25.0]


class TestRound11ReviewPassNulls:
    """First round-11 self-review: NULL propagation in the day's
    additions — URLHierarchy(NULL), NULL probability in the guarded
    rand draw, NULL elements inside exclusive-quantile arrays."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_url_hierarchy_null_and_hostonly(self, eng):
        r = eng.execute(
            "SELECT URLHierarchy(CAST(NULL AS STRING)) AS h, "
            "URLHierarchy('https://x.com') AS e FROM (SELECT 1)"
        ).rows[0]
        assert r[0] is None
        assert list(r[1]) == ["https://x.com"]

    def test_rand_negative_binomial_null_p(self, eng):
        assert eng.execute(
            "SELECT randNegativeBinomial(2, CAST(NULL AS DOUBLE)) "
            "AS a FROM (SELECT 1)"
        ).rows == [[None]]

    def test_exclusive_array_skips_null_elements(self, eng):
        # values 1,3,4,5 → R-6 median 3.5 (the NULL is skipped like
        # the row-wise path's collect_list does)
        assert float(eng.execute(
            "SELECT quantileExactExclusiveArray(arr) AS q FROM ("
            "SELECT array(1, NULL, 3) AS arr "
            "UNION ALL SELECT array(4, 5))"
        ).rows[0][0]) == 3.5


class TestRound11ProbeTranche:
    """Round-11 sweep (~310 spellings, 277 already served): the
    graduations it found — UTF-8 validity, byte-padded bin, URL
    port, arrayLastIndex/arrayReduceInRanges/mapContainsKeyLike,
    raw JSON pairs, timezone introspection, tryIdnaEncode, the IP
    OrZero/OrNull fills + cutIPv6 — and two real bug fixes:
    sumMapFiltered's two-array form died in analysis, and
    IPv6StringToNum('bad') silently parsed as ::ffff:0bad."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_is_valid_utf8(self, eng):
        assert eng.execute(
            "SELECT isValidUTF8('abc') AS a, "
            "isValidUTF8(CAST(NULL AS STRING)) AS b"
        ).rows == [[True, None]]

    def test_bin_byte_padded(self, eng):
        # CH bin(): whole-byte width for ints, per-byte bits for
        # string literals (bin(53)='00110101' per CH docs)
        assert eng.execute(
            "SELECT bin(53) AS a, bin(256) AS b, bin('a') AS c, "
            "bin('ab') AS d, unbin(bin(53)) AS e"
        ).rows == [[
            "00110101", "0000000100000000", "01100001",
            "0110000101100010", "5",
        ]]

    def test_make_date32(self, eng):
        assert str(eng.execute(
            "SELECT makeDate32(2026, 3, 1) AS r"
        ).rows[0][0]) == "2026-03-01"

    def test_timezone_introspection(self, eng):
        r = eng.execute(
            "SELECT timezone() AS a, timeZone() AS b, "
            "timezoneOffset(now()) AS c"
        ).rows[0]
        assert r[0] == r[1]
        assert "UTC" in r[0]
        assert r[2] == 0  # session zone is UTC in tests

    def test_url_port(self, eng):
        assert eng.execute(
            "SELECT port('https://a.com:8080/x') AS a, "
            "port('https://a.com/x') AS b, "
            "port('https://a.com/x', 443) AS c, "
            "port('https://u:p@a.com:8080/') AS d"
        ).rows == [[8080, 0, 443, 8080]]

    def test_array_last_index(self, eng):
        assert eng.execute(
            "SELECT arrayLastIndex(x -> x = 2, [1,2,2,3]) AS a, "
            "arrayLastIndex(x -> x = 9, [1,2]) AS b, "
            "arrayLastIndex(x -> x = 1, emptyArrayUInt8()) AS c, "
            "arrayFirstIndex(x -> x = 2, [1,2,2,3]) AS d"
        ).rows == [[3, 0, 0, 2]]

    def test_map_contains_key_like(self, eng):
        assert eng.execute(
            "SELECT mapContainsKeyLike(map('abc', 1), 'a%') AS a, "
            "mapContainsKeyLike(map('abc', 1), 'z%') AS b"
        ).rows == [[True, False]]

    def test_array_reduce_in_ranges(self, eng):
        # 1-based (offset, length) ranges like CH
        assert eng.execute(
            "SELECT arrayReduceInRanges('sum', [(1, 2), (2, 3)], "
            "[1,2,3,4,5]) AS r"
        ).rows == [[[3.0, 9.0]]]

    def test_json_extract_keys_and_values_raw(self, eng):
        # strings keep quotes, arrays/objects verbatim (CH contract)
        r = eng.execute(
            "SELECT JSONExtractKeysAndValuesRaw("
            "'{\"a\": [1,2], \"b\": \"x\"}') AS r"
        ).rows[0][0]
        assert [(e["key"], e["value"]) for e in r] == [
            ("a", "[1,2]"), ("b", '"x"'),
        ]

    def test_try_idna_encode(self, eng):
        assert eng.execute(
            "SELECT tryIdnaEncode('abc.com') AS a, "
            "tryIdnaEncode('xx--..bad') AS b, "
            "tryIdnaEncode(CAST(NULL AS STRING)) AS c"
        ).rows == [["abc.com", "", None]]

    def test_ip_or_zero_or_null_fills(self, eng):
        assert eng.execute(
            "SELECT IPv4StringToNumOrZero('bad') AS a, "
            "IPv4StringToNumOrZero('1.2.3.4') AS b, "
            "toIPv4OrZero('bad') AS c, "
            "IPv6StringToNumOrNull('bad') AS d, "
            "hex(IPv6StringToNumOrZero('bad')) AS e, "
            "toIPv6OrZero('bad') AS f"
        ).rows == [[
            0, 16909060, "0.0.0.0", None,
            "00000000000000000000000000000000", "::",
        ]]

    def test_ipv6_rejects_bare_hex_token(self, eng):
        # 'bad' must NOT parse via the ::ffff: concat (it is a legal
        # hex group there); dotted quads still map (CH behavior)
        assert eng.execute(
            "SELECT IPv6StringToNumOrNull('bad') AS a, "
            "IPv6NumToString(IPv6StringToNum('192.168.5.9')) AS b, "
            "toIPv6('127.0.0.1') AS c"
        ).rows == [[None, "::ffff:192.168.5.9", "::ffff:127.0.0.1"]]

    def test_cut_ipv6(self, eng):
        assert eng.execute(
            "SELECT cutIPv6(IPv6StringToNum("
            "'2001:db8::8a2e:370:7334'), 2, 0) AS a, "
            "cutIPv6(IPv6StringToNum('192.168.5.9'), 0, 2) AS b, "
            "cutIPv6(IPv6StringToNum('::1'), 0, 0) AS c, "
            "cutIPv6(IPv6StringToNum('::1'), 16, 0) AS d"
        ).rows == [[
            "2001:db8::8a2e:370:0", "::ffff:192.168.0.0", "::1", "::",
        ]]

    def test_sum_map_filtered_both_forms(self, eng):
        r = eng.execute(
            "SELECT sumMapFiltered([1, 3])([1, 2, 3], [10, 20, 30]) "
            "AS a, sumMapFiltered([1])(map(1, 10, 2, 20)) AS b, "
            "sumMapFilteredWithOverflow([1])([1, 2], [10, 20]) AS c "
            "FROM numbers(2)"
        ).rows[0]
        assert (list(r[0]["keys"]), list(r[0]["values"])) == (
            [1, 3], [20, 60],
        )
        assert r[1] == {1: 20}
        assert (list(r[2]["keys"]), list(r[2]["values"])) == ([1], [20])


class TestRound11ProbeTranche2:
    """Second round-11 sweep (~95 combinator/window/interval/literal
    spellings, 82 already served): graduations are -MergeState
    combinators, keyed arraySort/arrayReverseSort, column-valued
    INTERVAL quantities, bare nan/inf literals, and parenthesized
    single-param lambdas. Fixes: the -OrNull combinator returned 0
    (uniq family) or [] (collect family) over empty groups where CH
    yields NULL; topK/topKWeighted threw NULL_MAP_KEY on empty
    groups (the map(first(col), 0) seed)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_merge_state_combinators(self, eng):
        assert eng.execute(
            "SELECT sumMerge(s2) AS r FROM (SELECT sumMergeState(s) "
            "AS s2 FROM (SELECT sumState(number) AS s FROM numbers(4) "
            "GROUP BY number % 2))"
        ).rows == [[6]]
        assert eng.execute(
            "SELECT avgMerge(s2) AS r FROM (SELECT avgMergeState(s) "
            "AS s2 FROM (SELECT avgState(number) AS s FROM numbers(4) "
            "GROUP BY number % 2))"
        ).rows == [[1.5]]
        assert eng.execute(
            "SELECT uniqMerge(s2) AS r FROM (SELECT uniqMergeState(s) "
            "AS s2 FROM (SELECT uniqState(number % 5) AS s FROM "
            "numbers(40) GROUP BY number % 2))"
        ).rows == [[5]]

    def test_or_null_empty_groups_yield_null(self, eng):
        assert eng.execute(
            "SELECT uniqOrNull(number) AS a, uniqExactOrNull(number) "
            "AS b, groupArrayOrNull(number) AS c, "
            "topKOrNull(2)(number) AS d, countOrNull(number) AS e "
            "FROM numbers(10) WHERE number < 0"
        ).rows == [[None, None, None, None, None]]
        # non-empty groups keep their values
        assert eng.execute(
            "SELECT uniqOrNull(number % 3) AS a, "
            "groupArrayOrNull(number) AS b FROM numbers(4)"
        ).rows == [[3, [0, 1, 2, 3]]]

    def test_topk_empty_group(self, eng):
        assert eng.execute(
            "SELECT topK(2)(number) AS a, "
            "topKWeighted(2)(number, number) AS b "
            "FROM numbers(10) WHERE number < 0"
        ).rows == [[[], []]]

    def test_keyed_array_sort(self, eng):
        assert eng.execute(
            "SELECT arraySort((x) -> -x, [1,3,2]) AS a, "
            "arraySort(x -> x % 10, [25, 11, 33]) AS b, "
            "arraySort((x, y) -> y, ['hello','world','x'], "
            "[2, 1, 3]) AS c, "
            "arrayReverseSort((x) -> x, [1,3,2]) AS d, "
            "arraySort((x) -> x, emptyArrayUInt8()) AS e"
        ).rows == [[
            [3, 2, 1], [11, 33, 25], ["world", "hello", "x"],
            [3, 2, 1], [],
        ]]

    def test_interval_expression_quantity(self, eng):
        r = eng.execute(
            "SELECT toDate('2026-01-01') + INTERVAL number DAY AS a, "
            "toDate('2026-01-01') + INTERVAL number MONTH AS b, "
            "toDateTime('2026-01-01 00:00:00') + "
            "INTERVAL (number * 2) MINUTE AS c "
            "FROM numbers(2) ORDER BY a"
        ).rows
        assert [str(x[1]) for x in r] == ["2026-01-01", "2026-02-01"]
        assert str(r[1][0]).startswith("2026-01-02")
        assert str(r[1][2]) == "2026-01-01 00:02:00"

    def test_nan_inf_literals(self, eng):
        assert eng.execute(
            "SELECT isNaN(nan) AS a, isInfinite(inf) AS b, "
            "isFinite(-inf) AS c, 1.0 != inf AS d, "
            "ifNotFinite(inf, 7.0) AS e"
        ).rows == [[True, True, False, True, 7.0]]
        # quoted spans and AS aliases stay untouched
        assert eng.execute(
            "SELECT 'nan and inf stay' AS s, 1 AS inf"
        ).rows == [["nan and inf stay", 1]]

    def test_paren_single_param_lambda(self, eng):
        assert eng.execute(
            "SELECT arrayMap((x) -> x * 2, [1,2]) AS r"
        ).rows == [[[2, 4]]]

    def test_round11_review_guards(self, eng):
        # review pass: timezone(x) silently dropped its argument;
        # makeDate32's CH (year, day_of_year) form produced an
        # opaque Spark arity error
        with pytest.raises(ValueError, match="no arguments"):
            transpile("SELECT timezone(now())")
        with pytest.raises(ValueError, match="day_of_year"):
            transpile("SELECT makeDate32(2026, 42)")
        assert str(eng.execute(
            "SELECT toDate('2026-01-01') + INTERVAL number QUARTER "
            "AS r FROM numbers(2) ORDER BY r DESC LIMIT 1"
        ).rows[0][0]) == "2026-04-01"


class TestRound11ProbeTranche3:
    """Third round-11 sweep (~28 post-23.6 / straggler names): the
    version-guard posture holds — 18 already served (incl. post-23.6
    jaroSimilarity, arrayShingles, byteHammingDistance,
    seriesPeriodDetectFFT), 7 guided refusals confirmed; the 3 names
    still falling to UNRESOLVED_ROUTINE get named refusals here."""

    def test_variant_family_version_refusal(self):
        with pytest.raises(ValueError, match="24.1"):
            transpile("SELECT variantType(x) FROM t")
        with pytest.raises(ValueError, match="24.1"):
            transpile("SELECT variantElement(x, 'String') FROM t")

    def test_connection_scoped_refusal(self):
        with pytest.raises(ValueError, match="connection-scoped"):
            transpile("SELECT getClientHTTPHeader('traceparent')")

    def test_schema_generator_refusals(self):
        with pytest.raises(ValueError, match="FORMAT surface"):
            transpile("SELECT structureToCapnProtoSchema('a UInt64')")
        with pytest.raises(ValueError, match="FORMAT surface"):
            transpile("SELECT structureToProtobufSchema('a UInt64')")


class TestRound11ProbeTranche4:
    """Fourth round-11 sweep (~30 statement-shape spellings):
    GROUP/ORDER BY ALL, WITH TOTALS, set-op variants, null-safe
    comparisons, GLOBAL IN, generateRandom, format() already served.
    Graduations: ANSI OFFSET ... ROWS / FETCH ... {ONLY|WITH TIES},
    dotted names in EXISTS TABLE (system.one), a PASTE JOIN version
    refusal. Fix: the LIMIT BY rewriter matched an ORDER BY inside a
    FROM subquery (with its trailing paren) and emitted unbalanced
    SQL — it now requires a same-level ORDER BY."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_offset_fetch(self, eng):
        assert eng.execute(
            "SELECT number FROM numbers(10) ORDER BY number "
            "OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY"
        ).rows == [[2], [3], [4]]
        assert eng.execute(
            "SELECT number FROM numbers(10) ORDER BY number "
            "FETCH FIRST 2 ROWS ONLY"
        ).rows == [[0], [1]]
        assert eng.execute(
            "SELECT number FROM numbers(10) ORDER BY number "
            "OFFSET 7 ROWS"
        ).rows == [[7], [8], [9]]

    def test_fetch_with_ties(self, eng):
        # 0,0,0,0,1,1,1,2,2,2 — 4th value is 0, its ties end at 4
        assert eng.execute(
            "SELECT number % 3 AS k FROM numbers(10) ORDER BY k "
            "FETCH FIRST 4 ROWS WITH TIES"
        ).rows == [[0], [0], [0], [0]]
        # 5 rows: the 5th value (1) pulls in all its ties
        assert eng.execute(
            "SELECT number % 3 AS k FROM numbers(10) ORDER BY k "
            "FETCH FIRST 5 ROWS WITH TIES"
        ).rows == [[0], [0], [0], [0], [1], [1], [1]]
        with pytest.raises(ValueError, match="rank"):
            transpile(
                "SELECT 1 ORDER BY 1 OFFSET 1 ROWS "
                "FETCH FIRST 2 ROWS WITH TIES"
            )

    def test_exists_dotted_system_table(self, eng):
        assert eng.execute("EXISTS TABLE system.one").rows == [[1]]
        assert eng.execute(
            "EXISTS TABLE system.query_log"
        ).rows == [[1]]
        assert eng.execute("EXISTS no_such_table_xyz").rows == [[0]]

    def test_paste_join_version_refusal(self):
        with pytest.raises(ValueError, match="24.2"):
            transpile(
                "SELECT * FROM t1 PASTE JOIN t2"
            )

    def test_limit_by_rejects_subquery_only_order(self, eng):
        # previously matched the INNER order by (with its trailing
        # paren) and died in the Spark parser
        with pytest.raises(ValueError, match="same query level"):
            transpile(
                "SELECT k, v FROM (SELECT 1 AS k, 2 AS v "
                "ORDER BY v) LIMIT 1 BY k"
            )
        # same-level ORDER BY over a subquery FROM works
        assert eng.execute(
            "SELECT DISTINCT ON (k) k, number FROM "
            "(SELECT number % 2 AS k, number FROM numbers(4)) "
            "ORDER BY number"
        ).rows == [[0, 0], [1, 1]]

    def test_statement_shapes_still_served(self, eng):
        assert eng.execute(
            "SELECT number % 2 AS k, count() AS c FROM numbers(4) "
            "GROUP BY ALL ORDER BY k"
        ).rows == [[0, 2], [1, 2]]
        assert eng.execute(
            "SELECT number % 2 AS k, count() AS c FROM numbers(4) "
            "GROUP BY k WITH TOTALS ORDER BY k"
        ).rows == [[None, 4], [0, 2], [1, 2]]
        assert eng.execute(
            "SELECT count() AS c FROM numbers(5) "
            "WHERE number GLOBAL IN (SELECT number FROM numbers(3))"
        ).rows == [[3]]


class TestRound11PasteJoinQuoteSafety:
    def test_paste_in_string_literal_untouched(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        assert eng.execute(
            "SELECT 'copy PASTE JOIN text' AS s"
        ).rows == [["copy PASTE JOIN text"]]


class TestRound11ProbeTranche5:
    """Fifth round-11 sweep (~26 type spellings): the CH type surface
    — LowCardinality/Nullable/Map/Tuple (incl. named)/Enum8/
    DateTime64(p, tz)/FixedString/UUID/IPv4/Date32/JSON/Object/
    Nested/SimpleAggregateFunction in CAST and CREATE TABLE — was
    already served. Graduation: the Decimal32/64/128(S) width
    shorthands (fixed precisions 9/18/38) in every type position."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_decimal_width_shorthands(self, eng):
        r = eng.execute(
            "SELECT CAST('1.5' AS Decimal64(3)) AS a, "
            "CAST('1.5' AS Decimal32(2)) AS b, "
            "CAST('1.5', 'Decimal128(10)') AS c, "
            "accurateCastOrNull('x', 'Decimal64(3)') AS d"
        ).rows[0]
        assert [str(x) for x in r[:3]] == [
            "1.500", "1.50", "1.5000000000",
        ]
        assert r[3] is None

    def test_decimal_shorthand_in_ddl(self, eng, tmp_path):
        eng.execute(
            "CREATE TABLE __t11r5_d (id UInt32, v Decimal64(4)) "
            "ENGINE = MergeTree ORDER BY id"
        )
        types = {r[0]: r[1] for r in eng.execute(
            "DESCRIBE TABLE __t11r5_d"
        ).rows}
        assert types["v"] == "decimal(18,4)"
        eng.execute("DROP TABLE __t11r5_d")

    def test_decimal_shorthand_scale_guard(self):
        from bighouse_spark.dialect.schema import ch_type_to_spark

        with pytest.raises(ValueError, match="9-digit"):
            ch_type_to_spark("Decimal32(12)")

    def test_enum_and_named_tuple_casts(self, eng):
        r = eng.execute(
            "SELECT CAST('b' AS Enum8('a' = 1, 'b' = 2)) AS e, "
            "CAST((1, 'a') AS Tuple(id Int32, name String)) AS t"
        ).rows[0]
        assert r[0] == "b"
        assert (r[1]["id"], r[1]["name"]) == (1, "a")


class TestRound11ProbeTranche6Fns:
    """Window/aggregate stragglers from the sixth function probe:
    exponentialTimeDecayed* windows, RESPECT/IGNORE NULLS, named
    WINDOW clauses, the -If/-Array intersections all served;
    nonNegativeDerivative's guided refusal names the lag() spelling.
    Graduation: groupArrayArray / groupUniqArrayArray (the -Array
    combinator over the collect bases)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_group_array_array(self, eng):
        assert eng.execute(
            "SELECT array_sort(groupArrayArray(a)) AS r, "
            "array_sort(groupUniqArrayArray(a)) AS u FROM "
            "(SELECT [1,2] AS a UNION ALL SELECT [2,3])"
        ).rows == [[[1, 2, 2, 3], [1, 2, 3]]]

    def test_window_straggler_spellings(self, eng):
        assert eng.execute(
            "SELECT sum(number) OVER w AS r FROM numbers(3) "
            "WINDOW w AS (ORDER BY number)"
        ).rows == [[0], [1], [3]]
        r = eng.execute(
            "SELECT last_value(x) IGNORE NULLS OVER (ORDER BY i "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
            "FOLLOWING) AS r FROM (SELECT 1 AS i, 5 AS x "
            "UNION ALL SELECT 2, CAST(NULL AS INT))"
        ).rows
        assert r == [[5], [5]]


class TestRound11ProbeTranche9:
    """Mini-sweep of Or*-family and date stragglers (char/chr/age/
    toYearWeek/subtractTupleOfIntervals already served): graduations
    are toDayOfWeek's MySQL week modes and the IP OrDefault fills."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_to_day_of_week_modes(self, eng):
        # 2026-03-05 is a Thursday, 2026-03-08 a Sunday
        assert eng.execute(
            "SELECT toDayOfWeek(toDate('2026-03-05')) AS a, "
            "toDayOfWeek(toDate('2026-03-05'), 0) AS b, "
            "toDayOfWeek(toDate('2026-03-05'), 1) AS c, "
            "toDayOfWeek(toDate('2026-03-08'), 2) AS d, "
            "toDayOfWeek(toDate('2026-03-08'), 3) AS e"
        ).rows == [[4, 4, 3, 1, 0]]
        with pytest.raises(ValueError, match="mode 0-3"):
            transpile("SELECT toDayOfWeek(d, 0, 'UTC') FROM t")

    def test_ip_or_default_fills(self, eng):
        assert eng.execute(
            "SELECT toIPv4OrDefault('bad') AS a, "
            "toIPv4OrDefault('bad', '9.9.9.9') AS b, "
            "toIPv6OrDefault('bad') AS c, "
            "toIPv6OrDefault('1.2.3.4') AS d, "
            "hex(IPv6StringToNumOrDefault('bad')) AS e"
        ).rows == [[
            "0.0.0.0", "9.9.9.9", "::", "::ffff:1.2.3.4",
            "00000000000000000000000000000000",
        ]]


class TestRound11SeamSweep:
    """Round-11 tranche 10: combinator x builder seams (the
    round-10 lesson that dispatch gaps hide at exactly these
    intersections). Graduations: countIf(x, cond) 2-arg form,
    -If/-State/-Merge over the map aggregates, the bare
    groupBitmapXor (its State/Merge forms existed), -ForEachIf,
    avgWeightedIf; medianArray gets a named refusal."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_count_if_two_arg(self, eng):
        assert eng.execute(
            "SELECT countIf(number > 2) AS a, "
            "countIf(number, number > 2) AS b, "
            "countIf(IF(number = 3, NULL, number), number > 2) AS c "
            "FROM numbers(5)"
        ).rows == [[2, 2, 1]]

    def test_map_agg_if_and_state_merge(self, eng):
        r = eng.execute(
            "SELECT minMapIf(map(1, number), number < 3) AS a, "
            "maxMapIf(map(1, number), number < 3) AS b, "
            "sumMapIf([1, 2], [number, number], number < 3) AS c "
            "FROM numbers(5)"
        ).rows[0]
        assert r[0] == {1: 0} and r[1] == {1: 2}
        assert (list(r[2]["keys"]), list(r[2]["values"])) == (
            [1, 2], [3, 3],
        )
        assert eng.execute(
            "SELECT sumMapMerge(s) AS r FROM (SELECT "
            "sumMapState(map(1, number)) AS s FROM numbers(3) "
            "GROUP BY number % 2)"
        ).rows == [[{1: 3}]]

    def test_group_bitmap_xor_bare(self, eng):
        assert eng.execute(
            "SELECT groupBitmapXor(b) AS r FROM "
            "(SELECT bitmapBuild([1,2]) AS b "
            "UNION ALL SELECT bitmapBuild([2,3]))"
        ).rows == [[2]]

    def test_foreach_if_and_avg_weighted_if(self, eng):
        assert eng.execute(
            "SELECT sumForEachIf(a, size(a) = 2) AS s, "
            "avgForEachIf(a, size(a) = 2) AS m FROM "
            "(SELECT [1, 4] AS a UNION ALL SELECT [3, 8] "
            "UNION ALL SELECT [9])"
        ).rows == [[[4, 12], [2.0, 6.0]]]
        assert eng.execute(
            "SELECT round(avgWeightedIf(number, number, "
            "number > 0), 4) AS r FROM numbers(4)"
        ).rows == [[2.3333]]

    def test_median_array_named_refusal(self):
        with pytest.raises(ValueError, match="flatten"):
            transpile("SELECT medianArray(a) FROM t")


class TestRound11SeamSweep2:
    """Round-11 tranche 11: -If x -State stackings and the
    exact/collect State-Merge family — the AggregatingMergeTree MV
    vocabulary (sumIfState in a materialized view is the canonical
    CH rollup pattern). Under the partial-is-the-value convention
    every stacking order maps to the filtered aggregate; the
    collect-backed parametrics carry the raw multiset as an EXACT
    state and -Merge folds flattened states."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_if_state_stackings(self, eng):
        assert eng.execute(
            "SELECT sumMerge(s) AS r FROM (SELECT "
            "sumIfState(number, number % 2 = 0) AS s FROM numbers(6) "
            "GROUP BY number % 3)"
        ).rows == [[6]]
        assert eng.execute(
            "SELECT sumMerge(s) AS r FROM (SELECT "
            "sumStateIf(number, number % 2 = 0) AS s FROM numbers(6) "
            "GROUP BY number % 3)"
        ).rows == [[6]]
        assert eng.execute(
            "SELECT avgMerge(s) AS r FROM (SELECT "
            "avgIfState(number, number < 4) AS s FROM numbers(6) "
            "GROUP BY number % 2)"
        ).rows == [[1.5]]
        assert eng.execute(
            "SELECT uniqMerge(s) AS r FROM (SELECT "
            "uniqIfState(number % 4, number < 8) AS s FROM "
            "numbers(12) GROUP BY number % 3)"
        ).rows == [[4]]
        assert eng.execute(
            "SELECT countMerge(c) AS r FROM (SELECT "
            "countIfState(number > 2) AS c FROM numbers(6) "
            "GROUP BY number % 2)"
        ).rows == [[3]]
        assert eng.execute(
            "SELECT min(s) AS r FROM (SELECT "
            "minSimpleStateIf(number, number > 1) AS s FROM "
            "numbers(5) GROUP BY number % 2)"
        ).rows == [[2]]

    def test_exact_collect_state_merge(self, eng):
        assert eng.execute(
            "SELECT uniqExactMerge(s) AS r FROM (SELECT "
            "uniqExactState(number % 4) AS s FROM numbers(12) "
            "GROUP BY number % 3)"
        ).rows == [[4]]
        assert eng.execute(
            "SELECT array_sort(groupArrayMerge(s)) AS a, "
            "array_sort(groupUniqArrayMerge(u)) AS b FROM (SELECT "
            "groupArrayState(number) AS s, "
            "groupUniqArrayState(number % 3) AS u FROM numbers(4) "
            "GROUP BY number % 2)"
        ).rows == [[[0, 1, 2, 3], [0, 1, 2]]]

    def test_quantile_topk_state_merge(self, eng):
        # median of 0..10 across two state groups = 5.0 (R-7 exact)
        assert eng.execute(
            "SELECT quantileMerge(0.5)(s) AS r FROM (SELECT "
            "quantileState(0.5)(number) AS s FROM numbers(11) "
            "GROUP BY number % 2)"
        ).rows == [[5.0]]
        # bare-state spelling (the level lives in -Merge)
        assert eng.execute(
            "SELECT medianMerge(s) AS r FROM (SELECT "
            "medianState(number) AS s FROM numbers(11) "
            "GROUP BY number % 2)"
        ).rows == [[5.0]]
        assert eng.execute(
            "SELECT topKMerge(2)(s) AS r FROM (SELECT "
            "topKState(2)(number % 3) AS s FROM numbers(9) "
            "GROUP BY number % 2)"
        ).rows == [[[0, 1]]]


class TestRound11StateManipulation:
    """Round-11 tranche 12: CH's state-manipulation functions.
    initializeAggregation('xState', v) builds per-row states by
    literal dispatch (the MV insert-transform idiom);
    finalizeAggregation refuses with the typed-finalizer guidance
    (the aggregate is not recoverable from a partial-is-the-value
    state); the RESPECT NULLS window aliases pass through."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_initialize_aggregation_dispatch(self, eng):
        assert eng.execute(
            "SELECT sumMerge(s) AS a FROM (SELECT "
            "initializeAggregation('sumState', number) AS s "
            "FROM numbers(4))"
        ).rows == [[6]]
        assert eng.execute(
            "SELECT avgMerge(s) AS a FROM (SELECT "
            "initializeAggregation('avgState', number) AS s "
            "FROM numbers(4))"
        ).rows == [[1.5]]
        assert eng.execute(
            "SELECT uniqExactMerge(s) AS a FROM (SELECT "
            "initializeAggregation('uniqExactState', number % 3) "
            "AS s FROM numbers(9))"
        ).rows == [[3]]
        assert eng.execute(
            "SELECT quantileMerge(0.5)(s) AS a FROM (SELECT "
            "initializeAggregation('quantileState', number) AS s "
            "FROM numbers(11))"
        ).rows == [[5.0]]

    def test_state_manipulation_refusals(self):
        with pytest.raises(ValueError, match="typed finalizer"):
            transpile("SELECT finalizeAggregation(s) FROM t")
        with pytest.raises(ValueError, match="HLL"):
            transpile("SELECT initializeAggregation('uniqState', 1)")

    def test_respect_nulls_window_aliases(self, eng):
        assert eng.execute(
            "SELECT first_value_respect_nulls(number) OVER "
            "(ORDER BY number) AS r FROM numbers(2)"
        ).rows == [[0], [0]]


class TestRound11StateMergeEquivalence:
    """The State→Merge two-phase fold must equal the direct
    aggregate over the same fixture rows — the property that makes
    the AggregatingMergeTree vocabulary trustworthy, pinned on real
    data (events at the smoke SF) rather than literals."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        from tests.conftest import SF_SMOKE
        from bighouse_spark.sources.catalog import load_table

        load_table(spark, SF_SMOKE, "events").createOrReplaceTempView(
            "__sme_ev"
        )
        return BigHouseEngine(spark)

    def test_two_phase_equals_direct(self, eng):
        direct = eng.execute(
            "SELECT CAST(sum(user_id) AS Int64) AS s, "
            "uniqExact(event_type) AS u, "
            "quantileExactInclusive(0.5)(value) AS q, "
            "avg(value) AS a FROM __sme_ev"
        ).rows[0]
        merged = eng.execute(
            "SELECT CAST(sumMerge(ss) AS Int64) AS s, "
            "uniqExactMerge(us) AS u, "
            "quantileMerge(0.5)(qs) AS q, "
            "avgMerge(avs) AS a FROM ("
            "SELECT sumState(user_id) AS ss, "
            "uniqExactState(event_type) AS us, "
            "quantileState(value) AS qs, "
            "avgState(value) AS avs "
            "FROM __sme_ev GROUP BY user_id % 7)"
        ).rows[0]
        assert direct[0] == merged[0]
        assert direct[1] == merged[1]
        assert abs(float(direct[2]) - float(merged[2])) < 1e-9
        assert abs(float(direct[3]) - float(merged[3])) < 1e-9

    def test_if_state_two_phase_equals_filtered_direct(self, eng):
        direct = eng.execute(
            "SELECT CAST(sumIf(user_id, value > 0.5) AS Int64) AS s "
            "FROM __sme_ev"
        ).rows[0][0]
        merged = eng.execute(
            "SELECT CAST(sumMerge(ss) AS Int64) AS s FROM ("
            "SELECT sumIfState(user_id, value > 0.5) AS ss "
            "FROM __sme_ev GROUP BY event_type)"
        ).rows[0][0]
        assert direct == merged


class TestRound11RfcAndUtf8Aliases:
    """Final round-11 probe: the RFC 3986 URL-variant twins (strict
    parsing differs only on malformed input; parse_url is already
    RFC-shaped) and the WithWWW cuts (this parser never www-strips,
    which IS the WithWWW contract), plus the character-based
    left/rightUTF8 takes."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_rfc_and_www_aliases(self, eng):
        assert eng.execute(
            "SELECT domainRFC('https://a.com/x') AS a, "
            "firstSignificantSubdomainRFC("
            "'https://news.site.com/p') AS b, "
            "cutToFirstSignificantSubdomainWithWWW("
            "'https://www.news.site.com/p') AS c, "
            "portRFC('https://a.com:9000/') AS d"
        ).rows == [["a.com", "site", "site.com", 9000]]

    def test_utf8_takes(self, eng):
        assert eng.execute(
            "SELECT leftUTF8('héllo', 2) AS a, "
            "rightUTF8('héllo', 2) AS b"
        ).rows == [["hé", "lo"]]


class TestRound12AdviceFixes:
    """Round-11 ADVICE findings, pinned: quoted-span safety for the
    ANSI OFFSET/FETCH and INTERVAL-expression rewrites, the nan/inf
    alias-collision refusal, CH negative-length left/right semantics,
    and the EXISTS TABLE dotted-name scope."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_offset_fetch_inside_string_literal_untouched(self, eng):
        assert eng.execute(
            "SELECT 'use OFFSET 5 ROWS FETCH NEXT 3 ROWS ONLY here' "
            "AS s"
        ).rows == [["use OFFSET 5 ROWS FETCH NEXT 3 ROWS ONLY here"]]

    def test_offset_fetch_outside_string_still_rewrites(self, eng):
        assert eng.execute(
            "SELECT number FROM numbers(10) ORDER BY number "
            "OFFSET 5 ROWS FETCH NEXT 3 ROWS ONLY"
        ).rows == [[5], [6], [7]]

    def test_interval_expr_inside_string_literal_untouched(self, eng):
        assert eng.execute(
            "SELECT 'wait INTERVAL x DAY' AS s"
        ).rows == [["wait INTERVAL x DAY"]]

    def test_interval_expr_with_quoted_arg_still_rewrites(self, eng):
        # The match CONTAINS a quoted span but starts outside one.
        assert str(
            eng.execute(
                "SELECT toDate('2024-01-10') + "
                "INTERVAL toUInt8('3') DAY AS d"
            ).rows[0][0]
        ).startswith("2024-01-13")

    def test_nan_inf_alias_plus_bare_use_refused(self, eng):
        for q in (
            "SELECT number AS inf FROM numbers(3) ORDER BY inf",
            "SELECT 1 AS nan, nan + 1 AS y",
        ):
            with pytest.raises(Exception, match="alias"):
                eng.execute(q)

    def test_nan_inf_alias_alone_still_served(self, eng):
        assert eng.execute("SELECT 1 AS inf, 2 AS nan").rows == [[1, 2]]
        # ... and bare inf without an alias stays the literal.
        assert eng.execute("SELECT 1.0 < inf AS ok").rows == [[True]]

    def test_left_right_negative_lengths_match_ch(self, eng):
        # CH: left(s, -n) = all but last n; right(s, -n) = all but
        # first n. Column-valued n exercises the IF branch.
        assert eng.execute(
            "SELECT left('hello', -2) AS a, right('hello', -2) AS b, "
            "leftUTF8('héllo', -2) AS c, rightUTF8('héllo', -2) AS d"
        ).rows == [["hel", "llo", "hél", "llo"]]
        assert eng.execute(
            "SELECT left('hello', CAST(number AS INT) - 2) AS a "
            "FROM numbers(1)"
        ).rows == [["hel"]]

    def test_left_right_nonnegative_unchanged(self, eng):
        assert eng.execute(
            "SELECT left('hello', 2) AS a, right('hello', 0) AS b, "
            "left('hi', 99) AS c"
        ).rows == [["he", "", "hi"]]

    def test_exists_table_dotted_no_underscore_false_positive(
        self, eng
    ):
        eng.execute("CREATE TABLE a_b (x Int64) ENGINE = Memory")
        try:
            assert eng.execute("EXISTS TABLE a.b").rows == [[0]]
            assert eng.execute("EXISTS TABLE a_b").rows == [[1]]
            # system.* keeps the dotted→underscore view twin.
            assert eng.execute("EXISTS TABLE system.one").rows == [[1]]
        finally:
            eng.execute("DROP TABLE IF EXISTS a_b")


class TestRound12Ch236Tranche:
    """Round-12 CH 23.6 sweep graduations, value-pinned: the names
    that previously fell through to UNRESOLVED_ROUTINE
    (tests/test_ch236_sweep.py is the set-difference gate)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_quarter_arithmetic(self, eng):
        assert eng.execute(
            "SELECT addQuarters(toDate('2024-01-15'), 2) AS a, "
            "subtractQuarters(toDate('2024-01-15'), 1) AS b, "
            "toDate('2024-01-01') + toIntervalQuarter(1) AS c"
        ).rows == [[__import__("datetime").date(2024, 7, 15),
                    __import__("datetime").date(2023, 10, 15),
                    __import__("datetime").date(2024, 4, 1)]]

    def test_start_of_iso_year(self, eng):
        import datetime as dt

        # 2021-01-01 is ISO year 2020 (week 53), starting Mon Dec 30.
        assert eng.execute(
            "SELECT toStartOfISOYear(toDate('2021-01-01')) AS a, "
            "toStartOfISOYear(toDate('2024-06-01')) AS b"
        ).rows == [[dt.date(2019, 12, 30), dt.date(2024, 1, 1)]]

    def test_parse_or_zero_family(self, eng):
        import datetime as dt

        epoch = dt.datetime(1970, 1, 1)
        rows = eng.execute(
            "SELECT parseDateTimeOrZero('garbage', '%Y-%m-%d') AS a, "
            "parseDateTimeBestEffortOrZero('garbage') AS b, "
            "parseDateTimeBestEffortOrZero('2024-03-01 10:00:00') AS c"
        ).rows
        assert rows == [[epoch, epoch, dt.datetime(2024, 3, 1, 10)]]

    def test_parse_best_effort_us_month_first(self, eng):
        import datetime as dt

        assert eng.execute(
            "SELECT parseDateTimeBestEffortUS('06/07/2024') AS d"
        ).rows == [[dt.datetime(2024, 6, 7)]]

    def test_tumble_family(self, eng):
        import datetime as dt

        assert eng.execute(
            "SELECT tumbleStart(toDateTime('2024-01-01 10:17:00'), "
            "INTERVAL 10 MINUTE) AS s, "
            "tumbleEnd(toDateTime('2024-01-01 10:17:00'), "
            "INTERVAL 10 MINUTE) AS e"
        ).rows == [[dt.datetime(2024, 1, 1, 10, 10),
                    dt.datetime(2024, 1, 1, 10, 20)]]
        with pytest.raises(Exception, match="toStartOfMonth"):
            eng.execute(
                "SELECT tumbleStart(now(), INTERVAL 1 MONTH)"
            )
        with pytest.raises(Exception, match="OVERLAPPING"):
            eng.execute(
                "SELECT hopStart(now(), INTERVAL 5 MINUTE, "
                "INTERVAL 10 MINUTE)"
            )

    def test_string_alias_twins(self, eng):
        assert eng.execute(
            "SELECT countSubstringsCaseInsensitiveUTF8('aAaA', 'a') "
            "AS c, hasSubsequenceCaseInsensitive('Hello World', 'HW') "
            "AS h, mismatches('abc', 'abd') AS m, "
            "notLike('hello', 'he%') AS n"
        ).rows == [[4, True, 1, False]]

    def test_extract_all_group_dispatch(self, eng):
        assert eng.execute(
            "SELECT extractAll('a1b22c333', '\\\\d+') AS e1, "
            "extractAll('key=1;key=2', 'key=(\\\\d)') AS e2"
        ).rows == [[["1", "22", "333"], ["1", "2"]]]
        with pytest.raises(Exception, match="regexp_extract_all"):
            eng.execute("SELECT extractAll('x', concat('a', 'b'))")

    def test_json_uint_twins(self, eng):
        rows = eng.execute(
            'SELECT visitParamExtractUInt(\'{"a": 42}\', \'a\') AS v, '
            'JSONExtractUInt(\'{"a": 42}\', \'a\') AS j, '
            'simpleJSONExtractUInt(\'{"a": 9}\', \'a\') AS s'
        ).rows
        assert [int(x) for x in rows[0]] == [42, 42, 9]

    def test_ip_mac_twins(self, eng):
        assert eng.execute(
            "SELECT IPv4NumToStringClassC(3232235777) AS c, "
            "MACStringToNumOrNull('01:02:03:04:05:06') AS m, "
            "MACStringToNumOrNull('nope') AS bad, "
            "MACStringToNumOrDefault('nope') AS d"
        ).rows == [["192.168.1.xxx", 1108152157446, None, 0]]

    def test_uuid_julian_or_variants(self, eng):
        import datetime as dt

        assert eng.execute(
            "SELECT toUUIDOrDefault('nope', 'fb') AS u, "
            "fromModifiedJulianDayOrNull(60000) AS ok, "
            "fromModifiedJulianDayOrNull(99999999) AS bad"
        ).rows == [["fb", dt.date(2023, 2, 25), None]]

    def test_reinterpret_numeric_identity(self, eng):
        """CH keeps the in-memory bytes: for integers the low N
        bytes ARE the value (identity mod 2^bits) — the byte-swap
        the hex path would produce is wrong for numbers."""
        import datetime as dt

        assert eng.execute(
            "SELECT reinterpretAsUInt16(17000) AS a, "
            "reinterpretAsUInt8(-1) AS b, "
            "reinterpretAsInt8(255) AS c, "
            "reinterpretAsDate(17000) AS d"
        ).rows == [[17000, 255, -1, dt.date(2016, 7, 18)]]
        # runtime numeric (column) takes the same identity path
        assert eng.execute(
            "SELECT reinterpretAsUInt16(number + 70000) AS a "
            "FROM numbers(1)"
        ).rows == [[70000 - 65536]]

    def test_reinterpret_string_bytes_unchanged(self, eng):
        assert eng.execute(
            "SELECT reinterpretAsUInt16('ab') AS b, "
            "reinterpret('a', 'UInt8') AS r"
        ).rows == [[25185, 97]]

    def test_bitmap_transform(self, eng):
        assert eng.execute(
            "SELECT bitmapToArray(bitmapTransform("
            "bitmapBuild([1,2,3]), [2], [20])) AS b"
        ).rows == [[[1, 3, 20]]]

    def test_throw_if(self, eng):
        assert eng.execute(
            "SELECT throwIf(1 = 2, 'nope') AS t"
        ).rows == [[0]]
        with pytest.raises(Exception, match="boom"):
            eng.execute("SELECT throwIf(1 = 1, 'boom') AS t")

    def test_zero_arg_introspection(self, eng):
        rows = eng.execute(
            "SELECT hostname() AS h, FQDN() AS f, buildId() AS b, "
            "serverTimeZone() AS tz, emptyArrayDateTime() AS e"
        ).rows
        assert rows[0][0] == "bighouse-spark"
        assert rows[0][1] == "bighouse-spark"
        assert rows[0][4] == []

    def test_hash_twins_consistent(self, eng):
        # xxh3 joins the signed-decimal 64-bit twin convention;
        # sipHash128Reference matches sipHash128's hex twin.
        rows = eng.execute(
            "SELECT xxh3('x') AS a, sipHash64('x') AS b, "
            "sipHash128Reference('x') = sipHash128('x') AS eq"
        ).rows
        assert rows[0][0] == rows[0][1]
        assert rows[0][2] is True

    def test_guided_refusals_name_alternatives(self, eng):
        for q, pat in (
            ("SELECT sipHash64Keyed((1, 2), 'x')", "sipHash64"),
            ("SELECT MD4('x')", "MD5"),
            ("SELECT BLAKE3('x')", "SHA256"),
            ("SELECT h3IsValid(1)", "geohash"),
            ("SELECT regionToCity(1)", "dimension table"),
            ("SELECT evalMLMethod(x)", "MLlib"),
            ("SELECT detectTokenLanguage('x')", "detectLanguage"),
            ("SELECT multiFuzzyMatchAnyIndex('x', 1, ['a'])",
             "editDistance"),
            ("SELECT reinterpretAsFloat32('x')", "reinterpretAs"),
            ("SELECT replicate(1, [1,2])", "array_repeat"),
        ):
            with pytest.raises(Exception, match=pat):
                eng.execute(q)

    def test_random_generators_shape(self, eng):
        assert eng.execute(
            "SELECT length(randomFixedString(5)) AS l, "
            "length(randomStringUTF8(4)) AS u, "
            "randomStringUTF8(0) AS z"
        ).rows == [[5, 4, ""]]


class TestRound12SeamProbes:
    """VERDICT r11 Next #3: initializeAggregation x NULL x every
    served state, folded through the matching -Merge. The probe
    found anyMerge/anyLastMerge (and the any*State aggregate forms)
    leaking UNRESOLVED_ROUTINE — fixed in _WRAP_FUNCS."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    SRC = (
        "(SELECT element_at([NULL, 5.0, 7.0], "
        "CAST(number + 1 AS INT)) AS x FROM numbers(3))"
    )
    SRCI = (
        "(SELECT element_at([NULL, 5, 5, 7], "
        "CAST(number + 1 AS INT)) AS x FROM numbers(4))"
    )

    @pytest.mark.parametrize(
        "state,merge,want",
        [
            ("avgState", "avgMerge(s)", 6.0),
            ("sumState", "sumMerge(s)", 12.0),
            ("countState", "countMerge(s)", 2),
            ("minState", "minMerge(s)", 5.0),
            ("maxState", "maxMerge(s)", 7.0),
            ("quantileState", "quantileMerge(0.5)(s)", 6.0),
            ("anyState", "anyMerge(s)", (5.0, 7.0)),
            ("anyLastState", "anyLastMerge(s)", (5.0, 7.0)),
        ],
    )
    def test_initialize_aggregation_null_then_merge(
        self, eng, state, merge, want
    ):
        # any/anyLast are "some non-NULL value" — order-free like
        # CH's over unordered blocks; the rest are exact.
        got = eng.execute(
            f"SELECT {merge} AS r FROM (SELECT "
            f"initializeAggregation('{state}', x) AS s FROM "
            f"{self.SRC})"
        ).rows[0][0]
        assert got is not None
        allowed = want if isinstance(want, tuple) else (want,)
        assert any(abs(float(got) - w) < 1e-9 for w in allowed)

    def test_initialize_aggregation_null_array_states(self, eng):
        assert eng.execute(
            "SELECT uniqExactMerge(s) AS r FROM (SELECT "
            "initializeAggregation('uniqExactState', x) AS s FROM "
            f"{self.SRCI})"
        ).rows == [[2]]
        assert eng.execute(
            "SELECT arraySort(groupArrayMerge(s)) AS r FROM (SELECT "
            "initializeAggregation('groupArrayState', x) AS s FROM "
            f"{self.SRC})"
        ).rows[0][0] == [5.0, 7.0]

    def test_any_state_merge_as_aggregates(self, eng):
        # The aggregate spellings themselves (not just the
        # initializeAggregation literals) — the round-12 leak.
        assert eng.execute(
            f"SELECT anyState(x) AS a, anyLastState(x) AS b "
            f"FROM {self.SRC}"
        ).rows[0] == [5.0, 5.0]
        assert eng.execute(
            "SELECT anyMerge(s) AS r FROM (SELECT anyState(x) AS s "
            f"FROM {self.SRC} GROUP BY x IS NULL)"
        ).rows == [[5.0]]


class TestRound12ReviewPass:
    """Adversarial pass over the round's own additions (VERDICT r11
    Next #6). Real finding: the month-family date arithmetic
    truncated DateTime to Date through add_months — now ym-interval
    addition keeps each input type (CH-exact)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_month_family_keeps_datetime(self, eng):
        import datetime as dt

        assert eng.execute(
            "SELECT addQuarters(toDateTime('2024-01-31 10:00:00'), 1) "
            "AS a, addYears(toDateTime('2024-02-29 05:00:00'), 1) AS b, "
            "addMonths(toDateTime('2024-01-31 23:59:59'), 1) AS c"
        ).rows == [[dt.datetime(2024, 4, 30, 10, 0),
                    dt.datetime(2025, 2, 28, 5, 0),
                    dt.datetime(2024, 2, 29, 23, 59, 59)]]

    def test_month_family_keeps_date(self, eng):
        import datetime as dt

        assert eng.execute(
            "SELECT addMonths(toDate('2024-01-31'), 1) AS a, "
            "subtractMonths(toDate('2024-03-31'), 1) AS b, "
            "subtractYears(toDate('2024-02-29'), 1) AS c"
        ).rows == [[dt.date(2024, 2, 29), dt.date(2024, 2, 29),
                    dt.date(2023, 2, 28)]]

    def test_extract_all_group_detection_corners(self, eng):
        # escaped parens are literals, (?:...) is not a capture group
        assert eng.execute(
            "SELECT extractAll('a(1)b(2)', '\\\\((\\\\d)\\\\)') AS a, "
            "extractAll('x(1)', '\\\\(1\\\\)') AS b, "
            "extractAll('ab12cd34', '(?:[a-z])(\\\\d)') AS c"
        ).rows == [[["1", "2"], ["(1)"], ["1", "3"]]]

    def test_tumble_plural_and_group_by(self, eng):
        import datetime as dt

        assert eng.execute(
            "SELECT tumbleStart(ts, INTERVAL 1 DAY) AS d, count() AS n "
            "FROM (SELECT toDateTime('2024-01-02 05:00:00') AS ts) "
            "GROUP BY d"
        ).rows == [[dt.datetime(2024, 1, 2), 1]]

    def test_null_propagation_round12(self, eng):
        assert eng.execute(
            "SELECT notLike(NULL, 'a%') AS a, left('abc', NULL) AS b, "
            "parseDateTimeBestEffortUS(NULL) AS c, "
            "MACStringToNumOrNull(NULL) AS d"
        ).rows == [[None, None, None, None]]


class TestRound12Ch236Tranche2:
    """Second sweep pass: typed-conversion OrX fills, window-function
    spellings, tuple-vector aliases, introspection literals, the
    bare-parametric-call guard (30 heads previously leaked
    UNRESOLVED_ROUTINE on the invalid single-call form), and the
    quantilesBFloat16 plural graduation."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_conversion_orx_fills(self, eng):
        import datetime as dt

        rows = eng.execute(
            "SELECT toDate32OrDefault('bad', toDate('2000-01-01')) "
            "AS a, toDateTime64OrZero('bad') AS b, "
            "toDateTime64OrNull('bad') AS bn, "
            "toInt256OrNull('123456789012345678901234') AS c, "
            "toUInt256OrZero('-5') AS d, toInt256OrZero('junk') AS e"
        ).rows
        assert rows[0][0] == dt.date(2000, 1, 1)
        assert rows[0][1] == dt.datetime(1970, 1, 1)
        assert rows[0][2] is None
        assert int(rows[0][3]) == 123456789012345678901234
        assert int(rows[0][4]) == 0 and int(rows[0][5]) == 0

    def test_window_and_vector_spellings(self, eng):
        assert eng.execute(
            "SELECT percentRank() OVER (ORDER BY number) AS p "
            "FROM numbers(3) ORDER BY p"
        ).rows == [[0.0], [0.5], [1.0]]
        v = eng.execute(
            "SELECT vectorSum((1, 2), (3, 4)) AS v, "
            "vectorDifference((5, 3), (1, 1)) AS d"
        ).rows[0]
        assert list(v[0]) == [4, 6] and list(v[1]) == [4, 2]

    def test_enum_dense_ranked_and_is_zero_or_null(self, eng):
        assert eng.execute(
            "SELECT arrayEnumerateDenseRanked([10, 20, 10]) AS e, "
            "isZeroOrNull(0) AS z, isZeroOrNull(NULL) AS zn, "
            "isZeroOrNull(3) AS nz"
        ).rows == [[[1, 2, 1], True, True, False]]

    def test_shard_and_port_literals(self, eng):
        assert eng.execute(
            "SELECT shardNum() AS s, shardCount() AS c, "
            "tcpPort() AS p, getServerPort('http_port') AS h"
        ).rows == [[1, 1, 9000, 8123]]
        with pytest.raises(Exception, match="unknown port"):
            eng.execute("SELECT getServerPort('grpc_port')")

    def test_quantiles_bfloat16_plural_served(self, eng):
        rows = eng.execute(
            "SELECT quantilesBFloat16(0.25, 0.75)(number) AS q "
            "FROM numbers(101)"
        ).rows
        lo, hi = rows[0][0]
        assert 20 <= lo <= 30 and 70 <= hi <= 80

    @pytest.mark.parametrize(
        "head", ["quantilesTiming", "windowFunnel", "histogram",
                 "quantileMerge", "sumMapFiltered",
                 "exponentialMovingAverage", "sparkbar"]
    )
    def test_bare_parametric_call_guided(self, eng, head):
        with pytest.raises(Exception, match="parametric"):
            eng.execute(f"SELECT {head}(x) FROM numbers(1)")

    def test_bare_parametric_guard_ignores_literals(self, eng):
        assert eng.execute(
            "SELECT 'call histogram(x) here' AS s"
        ).rows == [["call histogram(x) here"]]

    def test_round12_tranche2_refusals(self, eng):
        for q, pat in (
            ("SELECT joinGet('t', 'v', 1)", "LEFT JOIN"),
            ("SELECT lowCardinalityKeys(x)", "storage encoding"),
            ("SELECT partitionId(1)", "partition"),
            ("SELECT svg(x)", "geometry"),
            ("SELECT mapPartialReverseSort(m)", "map_entries"),
        ):
            with pytest.raises(Exception, match=pat):
                eng.execute(q)


class TestRound12StatementSweep:
    """Statement-level sweep findings: the canonical un-aliased
    `ARRAY JOIN arr` now shadows the source column like CH (Spark
    reported AMBIGUOUS_REFERENCE before), `GROUP BY ()` maps to the
    empty grouping set, bare integer predicates coerce, and the
    trust-model SHOW listings answer."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_array_join_unaliased_shadows_source(self, eng):
        assert eng.execute(
            "SELECT number, arr FROM (SELECT number, [1,2] AS arr "
            "FROM numbers(2)) ARRAY JOIN arr ORDER BY number, arr"
        ).rows == [[0, 1], [0, 2], [1, 1], [1, 2]]
        # aggregate over the exploded element
        assert eng.execute(
            "SELECT sum(arr) AS s FROM (SELECT [1,2,3] AS arr "
            "FROM numbers(2)) ARRAY JOIN arr"
        ).rows == [[12]]
        # GROUP BY the element
        assert eng.execute(
            "SELECT arr, count() AS n FROM (SELECT number, "
            "[number, number+1] AS arr FROM numbers(3)) "
            "ARRAY JOIN arr GROUP BY arr ORDER BY arr"
        ).rows == [[0, 1], [1, 2], [2, 2], [3, 1]]

    def test_array_join_left_and_subquery_scope(self, eng):
        assert eng.execute(
            "SELECT number, arr FROM (SELECT number, "
            "CAST([] AS Array(Int64)) AS arr FROM numbers(2)) "
            "LEFT ARRAY JOIN arr"
        ).rows == [[0, None], [1, None]]
        # a scalar subquery in the select list keeps its own scope
        assert eng.execute(
            "SELECT arr, (SELECT max(x) FROM (SELECT 99 AS x)) AS m "
            "FROM (SELECT [1,2] AS arr FROM numbers(1)) "
            "ARRAY JOIN arr ORDER BY arr"
        ).rows == [[1, 99], [2, 99]]

    def test_group_by_empty_tuple(self, eng):
        assert eng.execute(
            "SELECT count() AS c FROM numbers(3) GROUP BY ()"
        ).rows == [[3]]
        # CH returns ZERO rows for an empty input under GROUP BY ()
        assert eng.execute(
            "SELECT count() AS c FROM numbers(3) WHERE number > 99 "
            "GROUP BY ()"
        ).rows == []

    def test_bare_integer_predicates(self, eng):
        assert eng.execute(
            "SELECT count() AS c FROM numbers(3) WHERE 1"
        ).rows == [[3]]
        assert eng.execute(
            "SELECT count() AS c FROM numbers(3) WHERE 0"
        ).rows == [[0]]

    def test_trust_model_show_listings(self, eng):
        assert eng.execute("SHOW QUOTAS").rows == [["default"]]
        assert eng.execute("SHOW ROLES").rows == [["default"]]
        assert eng.execute("SHOW CLUSTERS").rows == [["bighouse"]]


class TestRound12ReviewPass2:
    """Adversarial pass over the round-12 second sweep (ad56fac):
    bare topK/topKWeighted are VALID ClickHouse (N defaults to 10),
    and the ARRAY JOIN shadow qualifier must not rewrite an alias
    TARGET (`... AS arr` would become `AS __aj.arr`, a syntax
    error)."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_bare_topk_serves_default_10(self, eng):
        # 1 appears 3x, 2 appears 2x, 3 once — all fit in N=10.
        assert eng.execute(
            "SELECT topK(x) AS top FROM (SELECT "
            "arrayJoin([1,1,1,2,2,3]) AS x)"
        ).rows == [[[1, 2, 3]]]

    def test_bare_topk_weighted_serves_default_10(self, eng):
        # weights: 2 folds 2+2=4, 1 folds 1+1+1=3, 3 folds 3.
        assert eng.execute(
            "SELECT topKWeighted(x, x) AS top FROM (SELECT "
            "arrayJoin([1,1,1,2,2,3]) AS x)"
        ).rows == [[[2, 1, 3]]]

    def test_array_join_alias_target_not_qualified(self, eng):
        # `AS arr` defines a new name — the shadow qualifier must
        # leave the alias target alone while still qualifying the
        # function argument to the exploded element.
        assert eng.execute(
            "SELECT toString(arr) AS arr FROM (SELECT [1,2] AS arr "
            "FROM numbers(1)) ARRAY JOIN arr ORDER BY arr"
        ).rows == [["1"], ["2"]]

    def test_bare_parametric_guard_message_is_generic(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match=r"histogram\(parameters\)"):
            transpile("SELECT histogram(x) FROM t")
        # no quantile-level example leaks into non-quantile heads
        with pytest.raises(ValueError) as ei:
            transpile("SELECT sparkbar(x, y) FROM t")
        assert "quantile levels" not in str(ei.value)

    def test_string_literal_date_arithmetic(self, eng):
        import datetime

        # CH accepts string dates in add*/subtract*; add_months
        # coerced implicitly but `+ INTERVAL` needs the literal typed
        # (round-12 review finding: BINARY_OP_DIFF_TYPES before).
        assert eng.execute(
            "SELECT addMonths('2024-01-31', 1) AS d"
        ).rows == [[datetime.date(2024, 2, 29)]]
        assert eng.execute(
            "SELECT addHours('2024-01-31 10:00:00', 5) AS d"
        ).rows == [[datetime.datetime(2024, 1, 31, 15, 0)]]
        assert eng.execute(
            "SELECT subtractQuarters('2024-06-15', 2) AS d"
        ).rows == [[datetime.date(2023, 12, 15)]]

    def test_ipv4_dual_representation_dispatch(self, eng):
        # IPv4 values here are dotted strings (toIPv4 output); CH
        # users also pass the raw UInt32 — both must format.
        assert eng.execute(
            "SELECT IPv4NumToString(toIPv4('1.2.3.4')) AS r"
        ).rows == [["1.2.3.4"]]
        assert eng.execute(
            "SELECT IPv4NumToString(16909060) AS r"
        ).rows == [["1.2.3.4"]]
        assert eng.execute(
            "SELECT IPv4NumToStringClassC(toIPv4('192.168.5.44')) AS r"
        ).rows == [["192.168.5.xxx"]]
        assert eng.execute(
            "SELECT IPv4NumToStringClassC(3232236844) AS r"
        ).rows == [["192.168.5.xxx"]]
        # the chained v4→v6 mapping accepts both representations too
        assert eng.execute(
            "SELECT IPv6NumToString(IPv4ToIPv6(toIPv4('1.2.3.4'))) AS r"
        ).rows == [["::ffff:1.2.3.4"]]
        assert eng.execute(
            "SELECT IPv6NumToString(IPv4ToIPv6(16909060)) AS r"
        ).rows == [["::ffff:1.2.3.4"]]

    def test_throwif_numeric_condition(self, eng):
        import pytest as _pytest

        assert eng.execute("SELECT throwIf(0) AS r").rows == [[0]]
        assert eng.execute(
            "SELECT throwIf(1 > 2, 'no') AS r"
        ).rows == [[0]]
        with _pytest.raises(Exception, match="boom"):
            eng.execute("SELECT throwIf(1, 'boom') AS r")


class TestRound12JoinSpellings:
    """CH's canonical strictness-first join order (SEMI LEFT JOIN /
    ANTI LEFT JOIN) and the unparenthesized USING list — both valid
    CH 23.6 that died with raw parse errors."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        eng = BigHouseEngine(spark)
        eng.execute("CREATE TABLE IF NOT EXISTS __js_l "
                    "(k Int64, v String) ENGINE = Memory")
        eng.execute("TRUNCATE TABLE __js_l")
        eng.execute("INSERT INTO __js_l VALUES (1,'a'),(2,'b'),(3,'c')")
        eng.execute("CREATE TABLE IF NOT EXISTS __js_r "
                    "(k Int64, w String) ENGINE = Memory")
        eng.execute("TRUNCATE TABLE __js_r")
        eng.execute("INSERT INTO __js_r VALUES (1,'x'),(1,'y'),(2,'z')")
        return eng

    def test_semi_anti_strictness_first(self, eng):
        assert eng.execute(
            "SELECT __js_l.k FROM __js_l SEMI LEFT JOIN __js_r "
            "ON __js_l.k = __js_r.k ORDER BY __js_l.k"
        ).rows == [[1], [2]]
        assert eng.execute(
            "SELECT __js_l.k FROM __js_l ANTI LEFT JOIN __js_r "
            "ON __js_l.k = __js_r.k ORDER BY __js_l.k"
        ).rows == [[3]]

    def test_semi_right_refuses_with_swap_hint(self, eng):
        with pytest.raises(ValueError, match="swap the tables"):
            eng.execute(
                "SELECT 1 FROM __js_l SEMI RIGHT JOIN __js_r "
                "ON __js_l.k = __js_r.k"
            )

    def test_using_without_parens(self, eng):
        assert eng.execute(
            "SELECT k, v, w FROM __js_l JOIN __js_r USING k "
            "ORDER BY k, w"
        ).rows == [[1, "a", "x"], [1, "a", "y"], [2, "b", "z"]]
        assert eng.execute(
            "SELECT k FROM __js_l SEMI LEFT JOIN __js_r USING k "
            "ORDER BY k"
        ).rows == [[1], [2]]


class TestRound12ArrayJoinHoisting:
    """arrayJoin beyond the bare select item: Spark's explode is a
    one-per-query generator, so expression-nested / repeated /
    GROUP-BY'd calls hoist into LATERAL VIEWs. CH semantics pinned:
    identical arguments expand in LOCKSTEP, distinct arguments
    produce the cartesian."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_cartesian_of_distinct_args(self, eng):
        assert eng.execute(
            "SELECT arrayJoin([1,2]) + arrayJoin([10,20]) AS s "
            "ORDER BY s"
        ).rows == [[11], [12], [21], [22]]

    def test_lockstep_of_identical_args(self, eng):
        assert eng.execute(
            "SELECT arrayJoin([1,2]) + arrayJoin([1,2]) AS s "
            "ORDER BY s"
        ).rows == [[2], [4]]

    def test_group_by_over_arrayjoin(self, eng):
        assert eng.execute(
            "SELECT arrayJoin([1,2,2,3]) AS v, count() AS c "
            "FROM numbers(1) GROUP BY v ORDER BY v"
        ).rows == [[1, 1], [2, 2], [3, 1]]

    def test_inside_aggregate(self, eng):
        assert eng.execute(
            "SELECT sum(arrayJoin([1,2,3])) AS s"
        ).rows == [[6]]

    def test_nested_in_scalar_function(self, eng):
        assert eng.execute(
            "SELECT length(arrayJoin(['ab','c'])) AS l ORDER BY l"
        ).rows == [[1], [2]]

    def test_two_aliased_generators(self, eng):
        assert eng.execute(
            "SELECT arrayJoin([1,2]) AS a, arrayJoin([5,6]) AS b "
            "ORDER BY a, b"
        ).rows == [[1, 5], [1, 6], [2, 5], [2, 6]]

    def test_bare_single_call_keeps_explode_path(self):
        from bighouse_spark.dialect.transpile import transpile

        sql = transpile("SELECT arrayJoin([3,1,2]) AS x ORDER BY x").sql
        assert "LATERAL VIEW" not in sql and "explode" in sql

    def test_subquery_calls_left_to_their_scope(self, eng):
        assert eng.execute(
            "SELECT count() AS c FROM (SELECT arrayJoin([1,2,3]) AS v)"
        ).rows == [[3]]

    def test_set_operation_refuses_with_guidance(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="set operation"):
            transpile(
                "SELECT arrayJoin([1,2]) + 1 AS x UNION ALL "
                "SELECT arrayJoin([3]) + 1 AS x"
            )


class TestRound12HigherOrderMultiArray:
    """CH higher-order functions over MULTIPLE arrays (positional
    zip) and the optional leading lambda of arraySum/Min/Max/Avg —
    the arrayMap two-array form silently bound the second lambda
    parameter to Spark transform's ELEMENT INDEX before round 12
    (wrong values, no error). Plus `.N` tuple element access."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_two_array_map_zips(self, eng):
        assert eng.execute(
            "SELECT arrayMap((x, y) -> x + y, [1,2], [10,20]) AS a"
        ).rows == [[[11, 22]]]

    def test_two_array_predicates(self, eng):
        assert eng.execute(
            "SELECT arrayFilter((x, y) -> y > 0, [1,2,3], [0,1,1]) AS a"
        ).rows == [[[2, 3]]]
        assert eng.execute(
            "SELECT arrayExists((x, y) -> x = y, [1,2], [2,2]) AS e"
        ).rows == [[True]]
        assert eng.execute(
            "SELECT arrayAll((x, y) -> x <= y, [1,2], [2,2]) AS e"
        ).rows == [[True]]
        assert eng.execute(
            "SELECT arrayCount((x, y) -> x = y, [1,2,3], [1,0,3]) AS c"
        ).rows == [[2]]
        assert eng.execute(
            "SELECT arrayFirst((x, y) -> y = 1, [7,8,9], [0,1,1]) AS f"
        ).rows == [[8]]
        assert eng.execute(
            "SELECT arrayLast((x, y) -> y = 1, [7,8,9], [0,1,1]) AS f"
        ).rows == [[9]]
        assert eng.execute(
            "SELECT arrayFirstIndex((x, y) -> y = 1, [7,8,9], "
            "[0,1,1]) AS i"
        ).rows == [[2]]

    def test_three_plus_arrays_refuse_with_guidance(self):
        from bighouse_spark.dialect.transpile import transpile

        with pytest.raises(ValueError, match="arrays_zip"):
            transpile(
                "SELECT arrayMap((x,y,z) -> x, [1], [2], [3]) FROM t"
            )

    def test_leading_lambda_fold_family(self, eng):
        assert eng.execute(
            "SELECT arraySum(x -> x * 2, [1,2,3]) AS s"
        ).rows == [[12.0]]
        assert eng.execute(
            "SELECT arrayAvg(x -> x * 2, [1,2,3]) AS m"
        ).rows == [[4.0]]
        assert eng.execute(
            "SELECT arrayMin(x -> -x, [1,2,3]) AS m"
        ).rows == [[-3]]
        assert eng.execute(
            "SELECT arrayMax(x -> x % 3, [3,5,7]) AS m"
        ).rows == [[2]]

    def test_tuple_dot_n_access(self, eng):
        assert eng.execute("SELECT tuple(1, 'a').1 AS t").rows == [[1]]
        assert eng.execute("SELECT (1, 'a').2 AS t").rows == [["a"]]
        assert eng.execute(
            "SELECT t.2 AS s FROM (SELECT (7, 'x') AS t)"
        ).rows == [["x"]]
        # numeric literals stay literals
        assert eng.execute("SELECT 2.5e2 AS f").rows == [[250.0]]

    def test_arrayzip_tuple_access_composition(self, eng):
        assert eng.execute(
            "SELECT arrayZip([1,2],['a','b'])[2].2 AS z"
        ).rows == [["b"]]
        assert eng.execute(
            "SELECT arrayMap(t -> t.2, arrayZip([1,2],['a','b'])) AS s"
        ).rows == [[["a", "b"]]]

    def test_nested_tuple_dot_access(self, eng):
        assert eng.execute(
            "SELECT ((1, 2), 'z').1.2 AS t"
        ).rows == [[2]]
        assert eng.execute(
            "SELECT tuple(tuple(5)).1.1 AS t"
        ).rows == [[5]]


class TestEmptySetAggregates:
    """Deviations-ledger entry 19: aggregates over an empty (or
    fully filtered) set return NULL here where CH returns type
    defaults for non-Nullable inputs; count-family agrees at 0, and
    the OrDefault spellings give CH's defaults on request."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_null_posture_and_count_agreement(self, eng):
        r = eng.execute(
            "SELECT sumIf(x, x > 5) AS s, avgIf(x, x > 5) AS a, "
            "minIf(x, x > 5) AS m, countIf(x > 5) AS c, "
            "uniqIf(x, x > 5) AS u "
            "FROM (SELECT arrayJoin([1,2]) AS x)"
        ).rows
        assert r == [[None, None, None, 0, 0]]

    def test_or_default_gives_ch_defaults(self, eng):
        assert eng.execute(
            "SELECT sumIfOrDefault(x, x > 5) AS s "
            "FROM (SELECT arrayJoin([1,2]) AS x)"
        ).rows == [[0]]
        assert eng.execute(
            "SELECT coalesce(sumIf(x, x > 5), 0) AS s "
            "FROM (SELECT arrayJoin([1,2]) AS x)"
        ).rows == [[0]]


class TestRound12LexicalForms:
    """CH lexical forms Spark's parser lacks: hex/binary integer
    literals and dollar-quoted (heredoc) strings."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_hex_and_binary_literals(self, eng):
        assert eng.execute(
            "SELECT 0x1F AS h, 0X1f AS h2, 0b101 AS b, -0x10 AS n"
        ).rows == [[31, 31, 5, -16]]
        # quoted spellings keep their text; invalid binary digits
        # are left for the parser (not silently misread)
        assert eng.execute("SELECT '0x1F' AS s").rows == [["0x1F"]]

    def test_dollar_quoted_strings(self, eng):
        assert eng.execute(
            "SELECT $$heredoc string$$ AS s"
        ).rows == [["heredoc string"]]
        assert eng.execute(
            "SELECT $tag$nested 'quote'$tag$ AS s"
        ).rows == [["nested 'quote'"]]
        # inside a single-quoted literal: NOT a heredoc
        assert eng.execute(
            "SELECT '$$not a heredoc$$' AS s"
        ).rows == [["$$not a heredoc$$"]]
        assert eng.execute(
            "SELECT length($$it's$$) AS l"
        ).rows == [[4]]

    def test_cast_tuple_positional_access(self, eng):
        # CAST Tuple fields are col1/col2 (matching struct()/tuple())
        # so positional access composes on cast tuples too.
        assert eng.execute(
            "SELECT CAST((1, 'x') AS Tuple(Int64, String)).2 AS n"
        ).rows == [["x"]]
        assert eng.execute(
            "SELECT CAST('2024-01-01 10:00:00' AS DateTime('UTC')) AS d"
        ).rows[0][0].year == 2024

    def test_unparenthesized_star_except(self, eng):
        assert eng.execute(
            "SELECT * EXCEPT number FROM "
            "(SELECT number, number*2 AS d FROM numbers(1))"
        ).rows == [[0]]
        # set operator untouched
        assert eng.execute("SELECT 1 AS x EXCEPT SELECT 2").rows == [[1]]

    def test_interval_values_render_as_numbers(self, eng):
        # CH renders intervals as the unit count: Date-Date in days,
        # DateTime-DateTime in seconds, INTERVAL literals as-is.
        assert eng.execute(
            "SELECT toDate('2024-01-10') - toDate('2024-01-01') AS d"
        ).rows == [[9]]
        assert eng.execute(
            "SELECT toDateTime('2024-01-01 00:01:40') - "
            "toDateTime('2024-01-01 00:00:00') AS s"
        ).rows == [[100]]
        assert eng.execute(
            "SELECT INTERVAL 3 HOUR AS h, INTERVAL 4 MONTH AS m"
        ).rows == [[3, 4]]


class TestRound13QuoteShields:
    """Round-12 shipped three textual rewrites over the RAW statement
    (SEMI/ANTI strictness swap, unparenthesized USING, heredoc scan
    stop) — the exact bug class _sub_unquoted exists for. Round 13
    shields them; these pin that string literals keep their spelling
    and that genuine forms still rewrite."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_join_keywords_inside_literals_survive(self, eng):
        assert eng.execute(
            "SELECT 'join USING id' AS s"
        ).rows == [["join USING id"]]
        assert eng.execute(
            "SELECT 'SEMI RIGHT JOIN' AS s"
        ).rows == [["SEMI RIGHT JOIN"]]
        assert eng.execute(
            "SELECT 'SEMI LEFT JOIN' AS s, 'ALL JOIN x' AS t"
        ).rows == [["SEMI LEFT JOIN", "ALL JOIN x"]]
        assert eng.execute(
            "SELECT 'ANY JOIN t USING (k)' AS s"
        ).rows == [["ANY JOIN t USING (k)"]]

    def test_real_using_still_parenthesizes_next_to_literal(self, eng):
        # a literal earlier in the statement must not unshield the
        # genuine unparenthesized USING later in it
        assert eng.execute(
            "SELECT 'USING k' AS lit, a.k FROM "
            "(SELECT number AS k FROM numbers(3)) AS a JOIN "
            "(SELECT number AS k FROM numbers(2)) AS b USING k "
            "ORDER BY a.k"
        ).rows == [["USING k", 0], ["USING k", 1]]

    def test_heredoc_after_quoted_dollar_still_converts(self, eng):
        # the r12 scan BROKE on the first in-quote match, leaving
        # later genuine heredocs for Spark's parser to kill
        assert eng.execute(
            "SELECT '$$' AS a, $$he'llo$$ AS b"
        ).rows == [["$$", "he'llo"]]
        assert eng.execute(
            "SELECT length('$t$') AS a, $t$x$t$ AS b"
        ).rows == [[3, "x"]]


class TestRound13SizesOfArraysGuard:
    """CH raises SIZES_OF_ARRAYS_DONT_MATCH when multi-array lambda
    inputs differ in length; Spark's zip_with silently null-pads.
    The transpiled forms carry a length guard: equal lengths and
    NULL inputs behave as before, ragged pairs raise CH's error."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_equal_lengths_unchanged(self, eng):
        assert eng.execute(
            "SELECT arrayMap((x, y) -> x + y, [1,2,3], [10,20,30]) "
            "AS z"
        ).rows == [[[11, 22, 33]]]
        assert eng.execute(
            "SELECT arrayFilter((x, y) -> y > 1, ['a','b','c'], "
            "[1,2,3]) AS z"
        ).rows == [[["b", "c"]]]
        assert eng.execute(
            "SELECT arraySort((x, y) -> y, ['hello','world'], [2,1]) "
            "AS z"
        ).rows == [[["world", "hello"]]]

    @pytest.mark.parametrize(
        "expr",
        [
            "arrayMap((x, y) -> x + y, [1,2,3], [10,20])",
            "arrayZip([1,2,3], ['a','b'])",
            "arrayFilter((x, y) -> y > 1, ['a','b','c'], [1,2])",
            "arrayExists((x, y) -> y > 1, [1,2,3], [1,2])",
            "arrayAll((x, y) -> y > 1, [1,2,3], [1,2])",
            "arrayCount((x, y) -> y > 1, [1,2,3], [1,2])",
            "arrayFirst((x, y) -> y > 1, [1,2,3], [1,2])",
            "arrayFirstIndex((x, y) -> y > 1, [1,2,3], [1,2])",
            "arraySort((x, y) -> y, ['a','b'], [2])",
            "arraySplit((x, y) -> y, [1,2,3], [0,1])",
            "arrayFill((x, y) -> y, [1,2,3], [1,0])",
        ],
    )
    def test_ragged_pairs_raise_ch_error(self, eng, expr):
        with pytest.raises(Exception,
                           match="SIZES_OF_ARRAYS_DONT_MATCH"):
            eng.execute(f"SELECT {expr} AS z")

    def test_null_arrays_stay_null(self, eng):
        assert eng.execute(
            "SELECT arrayMap((x, y) -> x + y, [1,2], "
            "CAST(NULL AS Array(Int64))) AS z"
        ).rows == [[None]]
        assert eng.execute(
            "SELECT arrayZip(CAST(NULL AS Array(Int64)), [1,2]) AS z"
        ).rows == [[None]]


class TestRound13SeamProbes:
    """Round-12 features × each other and × older features (VERDICT
    r12 Next #4): the arrayJoin LATERAL VIEW hoist composing with
    ARRAY JOIN / LIMIT BY / WITH FILL, alias-in-WHERE composing with
    PREWHERE, hex/heredoc literals through the INSERT path, and
    partial-column INSERT refreshing a dependent MV."""

    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_arrayjoin_call_and_array_join_clause_compose(self, eng):
        # both generator forms in ONE statement: the clause multiplies
        # first, the hoisted call multiplies each row again (cartesian)
        assert eng.execute(
            "SELECT x, arrayJoin([10,20]) AS y FROM (SELECT 1 AS n) "
            "ARRAY JOIN [1,2] AS x ORDER BY x, y"
        ).rows == [[1, 10], [1, 20], [2, 10], [2, 20]]

    def test_arrayjoin_with_limit_by(self, eng):
        assert eng.execute(
            "SELECT arrayJoin([1,1,2,2,3]) AS v ORDER BY v LIMIT 1 BY v"
        ).rows == [[1], [2], [3]]

    def test_arrayjoin_with_fill(self, eng):
        assert eng.execute(
            "SELECT arrayJoin([1,3]) AS v ORDER BY v "
            "WITH FILL FROM 1 TO 4"
        ).rows == [[1], [2], [3]]

    def test_hex_and_heredoc_through_insert_values(self, eng):
        eng.execute(
            "CREATE TABLE IF NOT EXISTS __r13_lit (k Int64, s String) "
            "ENGINE = Memory"
        )
        eng.execute("TRUNCATE TABLE __r13_lit")
        eng.execute("INSERT INTO __r13_lit VALUES (0x1F, $$do'llar$$)")
        assert eng.execute(
            "SELECT k, s FROM __r13_lit"
        ).rows == [[31, "do'llar"]]

    def test_partial_insert_refreshes_mv(self, eng):
        # default-filled INSERT (r12 B5) must flow through MV
        # triggers like a full-column INSERT
        eng.execute(
            "CREATE TABLE IF NOT EXISTS __r13_src "
            "(k Int64, v Int64, s String) ENGINE = Memory"
        )
        eng.execute("TRUNCATE TABLE __r13_src")
        eng.execute(
            "CREATE MATERIALIZED VIEW IF NOT EXISTS __r13_mv "
            "ENGINE = Memory AS "
            "SELECT k, sum(v) AS sv FROM __r13_src GROUP BY k"
        )
        eng.execute("INSERT INTO __r13_src (k, v) VALUES (1,10),(1,5)")
        assert eng.execute(
            "SELECT k, sv FROM __r13_mv ORDER BY k"
        ).rows == [[1, 15]]
        # the omitted non-Nullable String filled CH's type default
        assert eng.execute(
            "SELECT s FROM __r13_src LIMIT 1"
        ).rows == [[""]]


def test_split_top_level_keeps_quoted_spans_whole():
    # one splitter for every top-level comma split: backticked names,
    # escaped and doubled quotes, and bracket nesting stay one part
    from bighouse_spark.dialect.schema import split_top_level

    assert split_top_level("`a,b`, 1") == ["`a,b`", "1"]
    assert split_top_level(r"'it\'s, x', 'it''s, y'") == [
        r"'it\'s, x'", "'it''s, y'",
    ]
    assert split_top_level("f(1, 2), [3, 4], ") == ["f(1, 2)", "[3, 4]", ""]
    assert split_top_level("") == []


class _StubUdfs:
    def __init__(self):
        self.names: list[str] = []

    def register(self, name, fn):
        self.names.append(name)


class _StubSession:
    def __init__(self, tz: str = "UTC"):
        self.udf = _StubUdfs()
        self.conf = {"spark.sql.session.timeZone": tz}


def test_udf_memo_is_keyed_on_the_session_not_its_id():
    # A session collected after registering can leave its id() to a new
    # session; the memo must still register on the new one.
    from bighouse_spark.dialect.transpile import _ensure_udfs

    a = _StubSession()
    _ensure_udfs(a, "porter")
    assert a.udf.names
    dead = id(a)
    del a
    # Misses stay alive, so each try takes the next free block; bare
    # __new__, so no allocation inside __init__ takes the freed one.
    held = []
    for _ in range(10_000):
        b = _StubSession.__new__(_StubSession)
        if id(b) == dead:
            break
        held.append(b)
    else:
        pytest.fail("no stub session reused the collected id")
    b.__init__()
    _ensure_udfs(b, "porter")
    assert b.udf.names
    _ensure_udfs(b, "porter")  # and registers once per session
    assert len(b.udf.names) == len(set(b.udf.names))


def test_cityhash_udf_memo_tracks_the_timezone():
    from bighouse_spark.dialect.transpile import _ensure_cityhash_udfs

    s = _StubSession()
    _ensure_cityhash_udfs(s)
    _ensure_cityhash_udfs(s)
    assert s.udf.names == ["bh_cityhash64_row"]
    s.conf["spark.sql.session.timeZone"] = "Europe/Berlin"
    _ensure_cityhash_udfs(s)
    assert s.udf.names == ["bh_cityhash64_row"] * 2


class TestLexer:
    """``dialect.lexer``: ClickHouse's one quote rule for every span."""

    def test_spans_follow_the_ch_quote_rule(self):
        from bighouse_spark.dialect.lexer import spans

        sql = (
            "SELECT 'it\\'s', 'a''b', `x\\`y`, \"q\"\"r\" -- don't\n"
            "FROM /* it's */ t 'open"
        )
        assert [sql[a:b] for a, b in spans(sql)] == [
            "'it\\'s'", "'a''b'", "`x\\`y`", '"q""r"', "-- don't",
            "/* it's */", "'open",
        ]
        assert [sql[a:b] for a, b in spans(sql, "`\"")] == [
            "`x\\`y`", '"q""r"',
        ]

    def test_mask_flavours_keep_offsets(self):
        from bighouse_spark.dialect.lexer import mask

        sql = "SELECT 'a(b' AS `c)d`, 1 /* e */ -- f\nFROM t"
        assert mask(sql) == (
            "SELECT " + " " * 5 + " AS " + " " * 5 + ", 1 " + " " * 7
            + " " + " " * 4 + "\nFROM t"
        )
        assert mask(sql, strings_only=True) == (
            "SELECT '   ' AS `c)d`, 1 /* e */ -- f\nFROM t"
        )
        assert mask("x 'open", strings_only=True) == "x '    "

    def test_close_paren_and_in_span(self):
        from bighouse_spark.dialect.lexer import close_paren, in_span

        sql = "f(')', `(`, (1) -- )\n) + 1"
        assert close_paren(sql, 1) == sql.rindex(")")
        assert close_paren("f((1)", 1) is None
        assert in_span(sql, 3) and not in_span(sql, 1)

    def test_split_top_level_on_any_separator(self):
        from bighouse_spark.dialect.lexer import split_top_level

        assert split_top_level(r"SELECT 'a\';b'; SELECT (1;2);", ";") == [
            r"SELECT 'a\';b'", "SELECT (1;2)",
        ]


def test_transpile_golden_corpus_replays():
    """Every distinct no-session ``transpile`` input the suite makes,
    captured with its output (``tests/data/transpile_golden.jsonl``):
    a dialect refactor must replay it byte-identically. Inputs that
    register table-function sources need a session and are not in
    the corpus."""
    import json
    from pathlib import Path

    path = Path(__file__).parent / "data" / "transpile_golden.jsonl"
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert len(rows) > 5000
    changed = []
    for row in rows:
        try:
            r = transpile(row["in"])
            got = {
                "sql": r.sql, "settings": r.settings,
                "dropped_settings": r.dropped_settings,
            }
        except Exception as e:
            got = {"error": type(e).__name__, "message": str(e)}
        if got != row["out"]:
            changed.append((row["in"][:200], row["out"], got))
    assert not changed, f"{len(changed)} outputs changed: {changed[:3]}"
