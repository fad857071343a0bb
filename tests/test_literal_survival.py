"""Literal-survival fuzz (round 13).

The transpiler is a pipeline of textual rewrites; three rounds in a
row shipped at least one pass that rewrote content INSIDE string
literals (r12: OFFSET/FETCH, backtick spans; r12-judge: the engine's
alias-in-WHERE retry). Round 13 swept the whole pipeline with this
fuzz and found 15 more sites (function renames like ``toDate`` via
the shared call scanner, PREWHERE / ARRAY JOIN / WITH TOTALS /
SAMPLE / GLOBAL / LIMIT o,n / DISTINCT ON / QUALIFY / WITH TIES /
LIMIT BY / WITH FILL locators) — all now quote-shielded.

The invariant: transpiling a statement whose string literals contain
SQL-shaped text leaves every literal byte-identical in the output,
and never raises because of literal CONTENT. Payloads cover every
rewrite family in the pipeline; the composition test pins that a
REAL clause still rewrites while its literal twin survives.
"""

from __future__ import annotations

import pytest

from bighouse_spark.dialect.transpile import transpile

# One payload per rewrite family (keyword clauses, function renames,
# parametrics, combinators, lexical forms, generators, hints).
PAYLOADS = [
    "SEMI RIGHT JOIN",
    "ANTI LEFT JOIN",
    "join USING id",
    "ANY JOIN t USING (k)",
    "ALL JOIN",
    "PASTE JOIN",
    "FORMAT JSON",
    "SETTINGS x=1",
    "LIMIT 5 BY k",
    "LIMIT 1, 2",
    "LIMIT 3 WITH TIES",
    "PREWHERE x",
    "ARRAY JOIN arr",
    "LEFT ARRAY JOIN a",
    "GROUP BY x WITH TOTALS",
    "GROUP BY ROLLUP(a)",
    "WITH CUBE",
    "SAMPLE 0.5",
    "INTO OUTFILE '/x'",
    "WITH FILL FROM 1",
    "INTERPOLATE (x)",
    "OFFSET 5 ROWS",
    "FETCH FIRST 3 ROWS ONLY",
    "INTERVAL 3 DAY",
    "QUALIFY rn = 1",
    "DISTINCT ON (k)",
    "* EXCEPT col",
    "GLOBAL IN",
    "x GLOBAL NOT IN y",
    "FINAL",
    "nan",
    "inf",
    "0x1F",
    "0b101",
    "$$here$$",
    "$tag$x$tag$",
    "(x) -> x + 1",
    "arrayJoin([1,2])",
    "toDate('2024-01-01')",
    "today()",
    "hostName()",
    "now()",
    "now64(3)",
    "count() OVER ()",
    "uniq(x)",
    "anyLast(x)",
    "sumIf(a, b)",
    "countIf(x)",
    "topK(3)(x)",
    "quantiles(0.5)(x)",
    "windowFunnel(10)(t, c)",
    "sequenceMatch('(?1)')(t, c)",
    "retention(a, b)",
    "arrayMap((x, y) -> x, a, b)",
    "CAST((1,2) AS Tuple(Int64, Int64)).1",
    "a :: Int64",
    "tuple(1,2).1",
    "length([1,2])",
    "x[1]",
    "arr[1].2",
    "WITH t AS (SELECT 1)",
    "EXCHANGE TABLES",
    "WHERE w LIKE 'x'",
    "it's toDate(x)",
    "a'::Int32",
    "x'] PREWHERE y",
]

# ClickHouse's two spellings of a quote inside '…': doubled and
# backslash-escaped. Every payload must survive in both.
SPELLINGS = ("''", "\\'")


def _lit(p: str, quote: str = "''") -> str:
    return p.replace("'", quote)


@pytest.mark.parametrize("payload", PAYLOADS)
def test_literal_content_survives_transpile(payload):
    for quote in SPELLINGS:
        lit = _lit(payload, quote)
        sql = (
            f"SELECT '{lit}' AS s, number FROM numbers(3) "
            f"WHERE number = 1"
        )
        out = transpile(sql).sql
        assert f"'{lit}'" in out, (
            f"literal {lit!r} was rewritten by the transpiler:\n{out}"
        )


@pytest.mark.parametrize("payload", PAYLOADS)
def test_two_literals_and_a_filter_survive(payload):
    # the payload twice (projection + comparison) plus a real WHERE:
    # position-sensitivity (before/after the clause) covered
    for quote in SPELLINGS:
        lit = _lit(payload, quote)
        sql = (
            f"SELECT '{lit}' AS a, number FROM numbers(3) "
            f"WHERE number = 1 AND 'x{lit}' != 'never'"
        )
        out = transpile(sql).sql
        assert f"'{lit}'" in out and f"'x{lit}'" in out, out


class TestOneQuoteRule:
    """Each ``\\'`` spelling reads like its ``''`` twin, and a quote
    character inside a comment opens nothing (ClickHouse's lexer:
    one rule for every quoted span)."""

    def test_backslash_quote_keeps_a_call_shaped_literal(self):
        out = transpile(r"SELECT 'it\'s toDate(x)' AS s").sql
        assert out == r"SELECT 'it\'s toDate(x)' AS s"

    def test_backslash_quote_keeps_a_cast_shaped_literal(self):
        out = transpile(r"SELECT CAST('a\'::Int32' AS String)").sql
        assert r"'a\'::Int32'" in out

    def test_backslash_quote_in_an_array_literal(self):
        out = transpile(r"SELECT ['a\']', 'b'] AS arr").sql
        assert out == r"SELECT array('a\']', 'b') AS arr"

    def test_backslash_quote_in_a_prewhere_predicate(self):
        out = transpile(
            r"SELECT s FROM t PREWHERE s = 'it\'s' WHERE 1"
        ).sql
        assert out == r"SELECT s FROM t WHERE (s = 'it\'s') AND (1)"

    def test_backslash_quote_in_the_select_alias_map(self):
        from bighouse_spark.engine import BigHouseEngine

        assert BigHouseEngine._select_alias_map(
            r"SELECT 'a\', FROM' AS x, y FROM t"
        ) == {"x": r"'a\', FROM'"}

    def test_comment_apostrophe_leaves_the_router_mask_open(self):
        from bighouse_spark.dialect.lexer import mask

        masked = mask("SELECT 1 -- don't\nFROM t", strings_only=True)
        assert masked == "SELECT 1 -- don't\nFROM t"

    def test_comment_apostrophe_leaves_the_splitter_open(self):
        from bighouse_spark.dialect.schema import split_top_level

        assert split_top_level("f(1 -- don't\n, 2), g(3)") == [
            "f(1 -- don't\n, 2)", "g(3)",
        ]

    def test_call_after_a_comment_apostrophe_still_rewrites(self):
        out = transpile("SELECT 1 AS a -- don't\n, toString(1) AS b").sql
        assert out == "SELECT 1 AS a -- don't\n, CAST(1 AS STRING) AS b"


class TestRealClauseNextToLiteralTwin:
    """The genuine clause must still rewrite while its in-literal
    twin survives — shields must not over-mask."""

    def test_prewhere(self):
        out = transpile(
            "SELECT 'PREWHERE x' AS s, number FROM numbers(5) "
            "PREWHERE number > 2"
        ).sql
        assert "'PREWHERE x'" in out
        assert "WHERE (number > 2)" in out or "WHERE number > 2" in out
        assert "PREWHERE" not in out.replace("'PREWHERE x'", "")

    def test_sample(self):
        out = transpile(
            "SELECT 'SAMPLE 0.5' AS s FROM numbers(10) SAMPLE 0.5"
        ).sql
        assert "'SAMPLE 0.5'" in out
        assert "TABLESAMPLE (50 PERCENT)" in out

    def test_totals(self):
        out = transpile(
            "SELECT 'WITH TOTALS' AS s, number % 2 AS p, count() AS c "
            "FROM numbers(4) GROUP BY p WITH TOTALS"
        ).sql
        assert "'WITH TOTALS'" in out
        assert "GROUPING SETS ((p), ())" in out

    def test_global(self):
        out = transpile(
            "SELECT 'GLOBAL IN' AS s, number FROM numbers(3) "
            "WHERE number GLOBAL IN (SELECT 1)"
        ).sql
        assert "'GLOBAL IN'" in out
        # the real hint keyword is erased, the literal twin is not
        assert "GLOBAL" not in out.replace("'GLOBAL IN'", "")

    def test_limit_offset_form(self):
        out = transpile(
            "SELECT 'LIMIT 1, 2' AS s, number FROM numbers(9) "
            "ORDER BY number LIMIT 1, 2"
        ).sql
        assert "'LIMIT 1, 2'" in out
        assert "LIMIT 2 OFFSET 1" in out

    def test_function_rename(self):
        out = transpile(
            "SELECT 'toDate(''2024-01-01'')' AS s, "
            "toDate('2024-01-02') AS d"
        ).sql
        assert "'toDate(''2024-01-01'')'" in out
        assert "to_date('2024-01-02')" in out

    def test_zero_arg_rename(self):
        out = transpile("SELECT 'today()' AS s, today() AS d").sql
        assert "'today()'" in out
        assert "current_date()" in out

    def test_limit_by(self):
        out = transpile(
            "SELECT 'LIMIT 5 BY k' AS s, number % 3 AS k, number AS v "
            "FROM numbers(9) ORDER BY k, v LIMIT 1 BY k"
        ).sql
        assert "'LIMIT 5 BY k'" in out
        assert "row_number() OVER" in out

    def test_qualify(self):
        out = transpile(
            "SELECT 'QUALIFY rn = 1' AS s, number AS n, row_number() "
            "OVER (ORDER BY number) AS rn FROM numbers(5) "
            "QUALIFY rn <= 2"
        ).sql
        assert "'QUALIFY rn = 1'" in out
        assert "WHERE rn <= 2" in out

    def test_with_ties(self):
        out = transpile(
            "SELECT 'LIMIT 3 WITH TIES' AS s, number FROM numbers(9) "
            "ORDER BY number LIMIT 3 WITH TIES"
        ).sql
        assert "'LIMIT 3 WITH TIES'" in out
        assert "rank() OVER" in out

    def test_array_join_clause(self):
        out = transpile(
            "SELECT 'ARRAY JOIN arr' AS s, x FROM (SELECT 1 AS n) "
            "ARRAY JOIN [1,2] AS x"
        ).sql
        assert "'ARRAY JOIN arr'" in out
        assert "LATERAL VIEW explode" in out


# Statement-shaped payloads for the ENGINE router: eng.execute
# dispatches DDL/INSERT/SET/... by statement shape; a literal
# containing one of those shapes inside a SELECT must stay data.
STATEMENT_PAYLOADS = [
    "INSERT INTO t VALUES (1)",
    "DROP TABLE x",
    "TRUNCATE TABLE x",
    "CREATE TABLE t (k Int64)",
    "ALTER TABLE t DELETE WHERE 1",
    "ATTACH TABLE x",
    "SET max_threads=1",
    "KILL QUERY WHERE 1",
    "OPTIMIZE TABLE t FINAL",
    "CREATE MATERIALIZED VIEW v",
    "RENAME TABLE a TO b",
    "EXCHANGE TABLES a AND b",
    "SHOW TABLES",
    "EXPLAIN SELECT 1",
    "GRANT SELECT ON t TO u",
    "CREATE FUNCTION f AS x -> x",
    "SYSTEM FLUSH LOGS",
    "DETACH TABLE x",
    "CHECK TABLE t",
    "EXISTS TABLE t",
]


class TestEngineRouterLiteralSurvival:
    @pytest.fixture
    def eng(self, spark):
        from bighouse_spark.engine import BigHouseEngine

        return BigHouseEngine(spark)

    def test_statement_shapes_inside_literals_stay_data(self, eng):
        for p in STATEMENT_PAYLOADS:
            lit = p.replace("'", "''")
            r = eng.execute(f"SELECT '{lit}' AS s, 1 AS n")
            assert r.rows == [[p, 1]], p


class TestLiteralCompositions:
    """Three payloads composed into one statement — interaction
    coverage the single-payload sweep can't give (a literal between
    two other literals, keyword payloads adjacent to each other)."""

    def test_pairwise_compositions(self):
        # deterministic pairing: payload i with payload (i + 7) mod n
        n = len(PAYLOADS)
        for i in range(n):
            a, b = PAYLOADS[i], PAYLOADS[(i + 7) % n]
            la, lb = _lit(a), _lit(b)
            sql = (
                f"SELECT '{la}' AS a, number, '{lb}' AS b "
                f"FROM numbers(3) WHERE number = 1 OR '{la}' = '{lb}'"
            )
            out = transpile(sql).sql
            assert f"'{la}'" in out and f"'{lb}'" in out, (a, b, out)


# Backtick-quoted IDENTIFIERS shaped like clauses/functions: CH and
# Spark both allow arbitrary identifier text inside backticks; every
# masked locator must skip them like string literals (round 13:
# the rewrite mask (now dialect.lexer.mask) gained backtick spans — 6 of these corrupted,
# 2 raised, before the fix; `x[1]`-as-identifier corrupted via the
# subscript pass and `a :: Int64` via the postfix-cast scan).
BACKTICK_PAYLOADS = [
    "GROUP BY x WITH TOTALS",
    "PREWHERE x",
    "ARRAY JOIN arr",
    "LIMIT 5 BY k",
    "SAMPLE 0.5",
    "QUALIFY rn = 1",
    "DISTINCT ON (k)",
    "WITH FILL FROM 1",
    "LIMIT 3 WITH TIES",
    "GLOBAL IN",
    "toDate(x)",
    "arrayJoin([1,2])",
    "x[1]",
    "a[1].2",
    "a :: Int64",
    "nan",
    "inf",
    "0x1F",
    "$$h$$",
    "(x) -> x",
]


@pytest.mark.parametrize("payload", BACKTICK_PAYLOADS)
def test_backtick_identifier_survives_transpile(payload):
    sql = f"SELECT 1 AS `{payload}`"
    out = transpile(sql).sql
    assert f"`{payload}`" in out, (
        f"backtick identifier {payload!r} was rewritten:\n{out}"
    )


class TestBacktickSubscripts:
    """`x`[1] IS a subscript (1-based try_element_at); `x[1]` is an
    identifier. Before round 13 the former silently became an array
    literal (`x`array(1)) and the latter a rewritten identifier."""

    def test_subscript_after_backtick_base(self):
        out = transpile(
            "SELECT `x`[1] AS v FROM (SELECT array(9, 8) AS x)"
        ).sql
        assert "try_element_at(`x`, 1)" in out

    def test_qualified_backtick_base(self):
        out = transpile("SELECT a.`x`[1] AS v").sql
        assert "try_element_at(a.`x`, 1)" in out

    def test_subscript_runtime_one_based(self, spark):
        row = spark.sql(
            transpile(
                "SELECT `x`[1] AS v FROM (SELECT array(9, 8) AS x)"
            ).sql
        ).collect()
        assert row[0].v == 9


class TestTranspileRobustness:
    """Seeded mutation fuzz: malformed statements must die with a
    guided ValueError or a parser-level error — never an internal
    IndexError/KeyError/etc. from a rewrite scanner walking off a
    mutated statement (the scanners do a lot of manual index math).
    Deterministic (fixed seed), ~1200 mutants, pure text level."""

    INTERNAL = (
        IndexError, AttributeError, TypeError, RecursionError,
        UnboundLocalError, KeyError, ZeroDivisionError, OverflowError,
    )

    def test_mutated_statements_never_crash_internally(self):
        import random

        random.seed(13)
        bases = [
            "SELECT toDate('2024-01-01') AS d, count() FROM t "
            "GROUP BY d WITH TOTALS",
            "SELECT arrayMap((x, y) -> x + y, [1,2], a) AS z FROM t "
            "PREWHERE k = 'v'",
            "SELECT `q`[1] AS v, '$$h$$' AS s FROM t "
            "ARRAY JOIN arr AS e LIMIT 1 BY v",
            "WITH c AS (SELECT 1 AS n) SELECT topK(3)(x) FROM t "
            "QUALIFY rn = 1",
        ]
        chars = "'`\"()[]$:,.->*<>=% abcdef01"
        for base in bases:
            for _ in range(300):
                s = list(base)
                for _ in range(random.randint(1, 3)):
                    op = random.random()
                    i = random.randrange(len(s))
                    if op < 0.4:
                        s[i] = random.choice(chars)
                    elif op < 0.7:
                        s.insert(i, random.choice(chars))
                    else:
                        del s[i]
                frag = "".join(s)
                try:
                    transpile(frag)
                except self.INTERNAL as e:
                    raise AssertionError(
                        f"internal {type(e).__name__} on {frag!r}"
                    ) from e
                except Exception:
                    pass  # guided ValueError / parse error: fine


class TestSchemaStringQuotedNames:
    """CH schema strings allow quoted column names with arbitrary
    text; the comma splitter must not split inside a backtick-quoted
    name (round 13: `a, b` Int64 parsed as two broken items)."""

    def test_comma_inside_backtick_name(self):
        from bighouse_spark.dialect.schema import parse_schema_string

        st = parse_schema_string("`a, b` Int64, c Int64")
        assert [f.name for f in st.fields] == ["a, b", "c"]

    def test_keyword_shaped_quoted_names(self):
        from bighouse_spark.dialect.schema import parse_schema_string

        st = parse_schema_string(
            '`GROUP BY` Int64, "PREWHERE x" String, `x[1]` Date'
        )
        assert [f.name for f in st.fields] == [
            "GROUP BY", "PREWHERE x", "x[1]"
        ]


class TestHypothesisComposedPayloads:
    """Property form of the sweep: random compositions of every
    rewrite family's keyword vocabulary inside a literal must survive
    byte-identical and never raise. Derandomized (fixed example
    stream) so CI is deterministic; 300 examples per run."""

    WORDS = [
        "SELECT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "LIMIT",
        "OFFSET", "JOIN", "USING", "SEMI", "ANTI", "LEFT", "RIGHT",
        "ANY", "ALL", "GLOBAL", "ARRAY", "SAMPLE", "FINAL",
        "PREWHERE", "QUALIFY", "TOTALS", "TIES", "FILL",
        "INTERPOLATE", "INTERVAL", "DAY", "FORMAT", "SETTINGS",
        "INTO", "OUTFILE", "toDate", "arrayJoin", "count", "uniq",
        "topK", "quantiles", "CAST", "Tuple", "nan", "inf", "0x1F",
        "0b101", "$$", "$tag$", "->", "::", "(x)", "[1]", "(", ")",
        "[", "]", ",", ".", "*", "..", "{a..b}", "WITH", "AS", "ON",
        "IN", "NOT", "EXCEPT", "REPLACE", "APPLY", "COLUMNS",
        "DISTINCT",
    ]

    def test_composed_keyword_literals_survive(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        words = self.WORDS

        @settings(max_examples=300, deadline=None, derandomize=True)
        @given(st.lists(st.sampled_from(words), min_size=1,
                        max_size=8).map(" ".join))
        def check(p):
            lit = p.replace("'", "''")
            sql = (
                f"SELECT '{lit}' AS s, number FROM numbers(3) "
                f"WHERE number = 1"
            )
            out = transpile(sql).sql
            assert f"'{lit}'" in out, (p, out)

        check()
