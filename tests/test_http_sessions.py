"""CH HTTP ``session_id`` session state (VERDICT r5 "Next #2").

ClickHouse's HTTP interface (the port the reference's nodes expose,
``ch/config.xml:133``) scopes state to ``?session_id=...``: SET
persists across requests, CREATE TEMPORARY TABLE lives until the
session expires (sliding ``session_timeout`` TTL), ``session_check=1``
errors on a missing session (code 372), and concurrent use of one
session errors (code 373)."""

from __future__ import annotations

import time
import urllib.error
import urllib.parse
import urllib.request

import pytest

from bighouse_spark.engine import BigHouseEngine
from bighouse_spark.server import start_in_background


@pytest.fixture(scope="module")
def server(spark):
    srv, _ = start_in_background(BigHouseEngine(spark))
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def base(server):
    return f"http://127.0.0.1:{server.server_port}"


def _q(base: str, sql: str, **params) -> str:
    qs = urllib.parse.urlencode({"query": sql, **params})
    with urllib.request.urlopen(f"{base}/?{qs}") as resp:
        return resp.read().decode()


def _q_err(base: str, sql: str, **params):
    qs = urllib.parse.urlencode({"query": sql, **params})
    try:
        urllib.request.urlopen(f"{base}/?{qs}")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode(), dict(e.headers)
    raise AssertionError("expected HTTP error")


def test_set_persists_in_session_only(base):
    # exact_cityhash flips cityHash64 to the bit-exact path — an
    # observable whose value proves which settings were in effect.
    _q(base, "SET exact_cityhash = 1", session_id="s_set")
    in_sess = _q(base, "SELECT cityHash64('') AS h", session_id="s_set")
    assert in_sess.strip() == "11160318154034397263"  # K2 == exact path
    other = _q(base, "SELECT cityHash64('') AS h", session_id="s_other")
    assert other.strip() != "11160318154034397263"
    sessionless = _q(base, "SELECT cityHash64('') AS h")
    assert sessionless.strip() != "11160318154034397263"
    # The query's own SETTINGS clause wins over the session value.
    override = _q(
        base,
        "SELECT cityHash64('') AS h SETTINGS exact_cityhash=0",
        session_id="s_set",
    )
    assert override.strip() != "11160318154034397263"


def test_session_knob_does_not_leak_into_other_sessions(base, spark):
    # Session A's SET max_threads re-enters its queries as SETTINGS,
    # mapped onto shuffle.partitions; the shared session conf must be
    # restored after each query, so session B reads the original.
    original = spark.conf.get("spark.sql.shuffle.partitions")
    knob = int(original) + 5  # differs from the original by construction
    _q(base, f"SET max_threads = {knob}", session_id="s_knob_a")
    _q(base, "SELECT count() AS c FROM numbers(10)", session_id="s_knob_a")
    out = _q(base, "SET spark.sql.shuffle.partitions", session_id="s_knob_b")
    assert out.split() == ["spark.sql.shuffle.partitions", original]



def test_session_set_reaches_insert_select(base, spark, monkeypatch):
    # A session's SET goes with every later statement of the session,
    # not only its SELECTs: max_threads reaches the Dataset an
    # INSERT ... SELECT writes, and the base conf keeps its value.
    from pyspark.sql.classic.dataframe import DataFrame

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.getAll
    seen, write = [], DataFrame.write

    def spy(df):
        seen.append(df._jdf.sparkSession().conf().get(key))
        return write.fget(df)

    _q(base, "CREATE TABLE sess_ins (a Int64) ENGINE = MergeTree ORDER BY a")
    try:
        _q(base, "SET max_threads = 3", session_id="s_ins")
        monkeypatch.setattr(DataFrame, "write", property(spy))
        _q(base, "INSERT INTO sess_ins SELECT number FROM numbers(3)",
           session_id="s_ins")
        monkeypatch.undo()
        assert _q(base, "SELECT count() FROM sess_ins").strip() == "3"
    finally:
        monkeypatch.undo()
        _q(base, "DROP TABLE sess_ins")
    assert seen and set(seen) == {"3"}
    assert spark.conf.getAll == before


def test_plain_set_is_invisible_to_the_next_request(base, spark):
    # Without a session a SET has no scope to keep it: it answers and
    # changes nothing, neither the next request nor the base conf.
    before = spark.conf.getAll
    assert _q(base, "SET max_result_rows = 5").split() == [
        "max_result_rows", "5",
    ]
    assert len(_q(base, "SELECT number FROM numbers(100)").split()) == 100
    assert spark.conf.getAll == before


def test_url_setting_means_what_the_clause_means(base):
    # ?max_result_rows=5 reaches the engine as an init SET.
    code, body, _ = _q_err(
        base, "SELECT number FROM numbers(100)", max_result_rows="5"
    )
    assert code == 400 and "TOO_MANY_ROWS" in body

def test_temp_table_is_session_scoped(base):
    _q(
        base,
        "CREATE TEMPORARY TABLE ttsess ENGINE = Memory AS SELECT 7 AS v",
        session_id="s_tt",
    )
    assert _q(base, "SELECT v FROM ttsess", session_id="s_tt").strip() == "7"
    # INSERT through the same session resolves the mangled name too.
    _q(base, "INSERT INTO ttsess VALUES (8)", session_id="s_tt")
    assert (
        _q(
            base,
            "SELECT count() AS c FROM ttsess",
            session_id="s_tt",
        ).strip()
        == "2"
    )
    # A different session and no session both fail to resolve it.
    code, body, _ = _q_err(
        base, "SELECT v FROM ttsess", session_id="s_tt_other"
    )
    assert code == 400
    code, body, _ = _q_err(base, "SELECT v FROM ttsess")
    assert code == 400
    # Temp names inside string literals are NOT rewritten.
    assert (
        _q(base, "SELECT 'ttsess' AS s", session_id="s_tt").strip()
        == "ttsess"
    )
    # DROP removes it from the session.
    _q(base, "DROP TABLE ttsess", session_id="s_tt")
    code, _, _ = _q_err(base, "SELECT v FROM ttsess", session_id="s_tt")
    assert code == 400


def test_session_check_unknown_session_is_372(base):
    code, body, headers = _q_err(
        base, "SELECT 1", session_id="nope_never_seen", session_check="1"
    )
    assert code == 404
    assert "Session" in body and "not found" in body
    assert headers.get("X-ClickHouse-Exception-Code") == "372"
    # Without session_check the session is created implicitly.
    assert _q(
        base, "SELECT 1 AS x", session_id="nope_never_seen2"
    ).strip() == "1"


def test_session_expiry_drops_temp_tables(base, spark):
    _q(
        base,
        "CREATE TEMPORARY TABLE ttexp ENGINE = Memory AS SELECT 1 AS v",
        session_id="s_exp",
        session_timeout="1",
    )
    assert _q(
        base, "SELECT v FROM ttexp", session_id="s_exp",
        session_timeout="1",
    ).strip() == "1"
    time.sleep(1.3)
    # Same session_id after expiry: fresh session, temp table gone
    # (the sweep also dropped the engine-side table).
    code, _, _ = _q_err(base, "SELECT v FROM ttexp", session_id="s_exp")
    assert code == 400
    # ...and the mangled backing table no longer resolves either.
    import hashlib

    mangled = f"bh_tmp_{hashlib.md5(b's_exp').hexdigest()[:8]}_ttexp"
    with pytest.raises(Exception):
        spark.sql(f"SELECT * FROM {mangled}").collect()


def test_concurrent_session_use_is_locked_373(server, base):
    store = server.RequestHandlerClass.sessions
    _q(base, "SELECT 1 AS x", session_id="s_lock")
    sess = store.get_or_create("s_lock", create=False)
    assert sess is not None
    assert sess.lock.acquire(blocking=False)
    try:
        code, body, headers = _q_err(
            base, "SELECT 1", session_id="s_lock"
        )
        assert code == 403
        assert "locked" in body
        assert headers.get("X-ClickHouse-Exception-Code") == "373"
    finally:
        sess.lock.release()
    # Released → usable again.
    assert _q(base, "SELECT 2 AS x", session_id="s_lock").strip() == "2"


def test_drop_temporary_table_spelling(base):
    _q(
        base,
        "CREATE TEMPORARY TABLE IF NOT EXISTS ttds ENGINE = Memory "
        "AS SELECT 3 AS v",
        session_id="s_dts",
    )
    assert _q(base, "SELECT v FROM ttds", session_id="s_dts").strip() == "3"
    _q(base, "DROP TEMPORARY TABLE ttds", session_id="s_dts")
    code, _, _ = _q_err(base, "SELECT v FROM ttds", session_id="s_dts")
    assert code == 400
