"""Unit tests for the shared SET/SETTINGS helpers and the session
store — the round-6 self-review regressions (quote-awareness, sweep
races, temp-name rewrite scope)."""

from __future__ import annotations

import time

import pytest

from bighouse_spark.dialect.transpile import transpile
from bighouse_spark.session_settings import (
    parse_set_statement,
    set_statement,
    split_settings,
)


class TestSetStatementParsing:
    def test_to_spelling_and_multi_pairs(self):
        assert parse_set_statement("SET a TO 1, b = 'x,y'") == {
            "a": "1", "b": "x,y",
        }
        assert parse_set_statement("SELECT 1") is None

    @pytest.mark.parametrize(
        "value", [",", "it's", "a\\b", "lz4", "5", "-1.5", ""],
    )
    def test_set_statement_round_trips(self, value):
        # Raw values (URL settings, native packet settings) render as
        # literals the one parser decodes back to the same string.
        pairs = {"k": value, "max_threads": "2"}
        assert parse_set_statement(set_statement(pairs)) == pairs

    def test_set_time_zone_is_a_pair(self):
        # Spark's SET TIME ZONE '<zone>' is its conf key; the other
        # forms are not pairs and persist nowhere.
        pairs = parse_set_statement("SET TIME ZONE 'America/New_York'")
        assert pairs == {"spark.sql.session.timeZone": "America/New_York"}
        assert parse_set_statement(set_statement(pairs)) == pairs
        assert parse_set_statement("SET TIME ZONE LOCAL") == {}

    def test_values_decode_once(self):
        assert parse_set_statement(
            "SET a = 'it''s', b = 'it\\'s', c = '', d = 'a\\\\b'"
        ) == {"a": "it's", "b": "it's", "c": "", "d": "a\\b"}

    def test_split_decides_what_a_name_means(self):
        assert split_settings({
            "max_threads": "3", "spark.sql.ansi.enabled": "false",
            "max_result_rows": "5",
        }) == (
            {"spark.sql.shuffle.partitions": "3",
             "spark.sql.ansi.enabled": "false"},
            {"max_result_rows": "5"},
        )


class TestSettingsClause:
    """The query's SETTINGS clause, parsed by the SET parser and
    layered over the statement's other settings in ``transpile``."""

    def test_clause_values_split_quote_aware(self):
        r = transpile(
            "SELECT 1 SETTINGS format_csv_delimiter = ',', max_threads = 2"
        )
        assert r.sql == "SELECT 1"
        assert r.dropped_settings == {"format_csv_delimiter": ","}
        assert r.settings == {"spark.sql.shuffle.partitions": "2"}

    def test_settings_inside_string_literal_is_no_clause(self):
        sql = "SELECT * FROM t WHERE msg = 'see SETTINGS docs'"
        r = transpile(sql, None, {"max_execution_time": "5"})
        assert r.sql == sql
        assert r.dropped_settings == {"max_execution_time": "5"}

    def test_settings_named_column_is_no_clause(self):
        for sql in ("SELECT settings FROM t", "SELECT t.settings, a FROM t"):
            r = transpile(sql, None, {"x": "1"})
            assert r.sql == sql
            assert r.dropped_settings == {"x": "1"}

    def test_query_clause_wins_over_scope(self):
        r = transpile(
            "SELECT 1 SETTINGS x = 9, max_threads = 4", None,
            {"x": "1", "z": "3", "max_parallel_replicas": "7"},
        )
        assert r.dropped_settings == {"x": "9", "z": "3"}
        assert r.settings == {"spark.sql.shuffle.partitions": "4"}


class TestSessionStoreLifecycle:
    def test_fresh_session_is_born_alive(self, spark):
        from bighouse_spark.engine import BigHouseEngine
        from bighouse_spark.server import SessionStore

        eng = BigHouseEngine(spark)
        store = SessionStore()
        s = store.get_or_create("alive", create=True)
        assert s.expires_at > time.monotonic()
        store.sweep(eng)  # must NOT reap the fresh session
        assert store.get_or_create("alive", create=False) is s

    def test_sweep_never_reaps_a_locked_session(self, spark):
        from bighouse_spark.engine import BigHouseEngine
        from bighouse_spark.server import SessionStore

        eng = BigHouseEngine(spark)
        store = SessionStore()
        s = store.get_or_create("busy", create=True)
        s.expires_at = 0.0  # expired on paper...
        assert s.lock.acquire(blocking=False)  # ...but mid-request
        try:
            store.sweep(eng)
            assert store.get_or_create("busy", create=False) is s
        finally:
            s.lock.release()
        store.sweep(eng)  # released + expired → reaped
        assert store.get_or_create("busy", create=False) is None


class TestTempNameRewriteScope:
    def test_only_table_positions_rewrite(self):
        from bighouse_spark.server import _rewrite_names_outside_strings

        names = {"status": "bh_tmp_x_status"}
        assert (
            _rewrite_names_outside_strings(
                "SELECT status FROM events", names
            )
            == "SELECT status FROM events"  # column untouched
        )
        assert (
            _rewrite_names_outside_strings(
                "SELECT * FROM status JOIN status", names
            )
            == "SELECT * FROM bh_tmp_x_status JOIN bh_tmp_x_status"
        )
        assert (
            _rewrite_names_outside_strings(
                "INSERT INTO status VALUES (1)", names
            )
            == "INSERT INTO bh_tmp_x_status VALUES (1)"
        )
        assert (
            _rewrite_names_outside_strings(
                "SELECT 'from status' AS s", names
            )
            == "SELECT 'from status' AS s"  # literal untouched
        )


class TestTempNameRewriteScope2:
    def test_comma_from_list_and_case_sensitivity(self):
        from bighouse_spark.server import _rewrite_names_outside_strings

        names = {"status": "bh_tmp_x_status"}
        # CH cross-join comma spelling rewrites...
        assert (
            _rewrite_names_outside_strings(
                "SELECT * FROM events, status WHERE x = 1", names
            )
            == "SELECT * FROM events, bh_tmp_x_status WHERE x = 1"
        )
        # ...but select-list commas do not.
        assert (
            _rewrite_names_outside_strings(
                "SELECT a, status FROM events", names
            )
            == "SELECT a, status FROM events"
        )
        # CH identifiers are case-sensitive: STATUS is another table.
        assert (
            _rewrite_names_outside_strings(
                "SELECT * FROM STATUS", names
            )
            == "SELECT * FROM STATUS"
        )
        assert (
            _rewrite_names_outside_strings(
                "TRUNCATE TABLE status", names
            )
            == "TRUNCATE TABLE bh_tmp_x_status"
        )
