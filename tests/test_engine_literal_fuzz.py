"""Engine-statement literal-survival fuzz (round 14).

Round 13 swept the TRANSPILER with a fuzz that pushed every rewrite
family's keyword spelling through a string literal (found 15
corruption sites). This is the same sweep for the ENGINE's statement
routers: every router keyword, spelled INSIDE a string literal,
must come back byte-identical through CREATE (as a DEFAULT
expression), INSERT VALUES, ALTER UPDATE assignments, CTAS SELECTs,
and plain SELECT echo. Round 14 masked the whole router table
(engine.py `mask(..., strings_only=True)` + `_raw_groups`); this fuzz keeps
the class extinct.
"""

from __future__ import annotations

import pytest

from bighouse_spark.engine import BigHouseEngine

# Every statement-router keyword family, as literal payloads
# (single-quote-free so they embed directly).
PAYLOADS = [
    "a WHERE b",
    "abc IN PARTITION 5 WHERE 1",
    "x FORMAT CSV y",
    "q INTO OUTFILE /tmp/nope",
    "ENGINE = Null",
    "see system.parts docs",
    "use system.numbers here",
    "t AS SELECT 1",
    "VALUES (1, 2)",
    "expr TYPE bloom_filter",
    "col DEFAULT 7",
    "PARTITION BY k ORDER BY v",
    "MODIFY TTL ts + INTERVAL 1 DAY",
    "FROM input(k Int32)",
    "RENAME COLUMN a TO b",
    "DROP PARTITION 9",
    "OPTIMIZE TABLE t FINAL DEDUPLICATE",
    "SETTINGS use_query_cache = 1",
    "ATTACH TABLE x FROM /shared",
    "EXCHANGE TABLES a AND b",
    "KILL MUTATION WHERE 1",
    "LIMIT 1 BY k",
    "DEFAULT keyword cell",
]


@pytest.fixture(scope="module")
def eng(spark):
    return BigHouseEngine(spark)


def test_select_echo_survives(eng):
    for p in PAYLOADS:
        assert eng.execute(f"SELECT '{p}' AS s").rows == [[p]], p


def test_insert_values_survive(eng):
    eng.execute("DROP TABLE IF EXISTS __fz14")
    eng.execute(
        "CREATE TABLE __fz14 (k Int64, v String) ENGINE = MergeTree "
        "ORDER BY k"
    )
    values = ", ".join(
        f"({i}, '{p}')" for i, p in enumerate(PAYLOADS)
    )
    eng.execute(f"INSERT INTO __fz14 VALUES {values}")
    got = eng.execute("SELECT v FROM __fz14 ORDER BY k").rows
    assert [r[0] for r in got] == PAYLOADS
    eng.execute("DROP TABLE IF EXISTS __fz14")


def test_update_assignments_survive(eng):
    # the keyword-heaviest subset, each through a full mutation
    subset = PAYLOADS[:6]
    eng.execute("DROP TABLE IF EXISTS __fzu14")
    eng.execute(
        "CREATE TABLE __fzu14 (k Int64, v String) ENGINE = MergeTree "
        "ORDER BY k"
    )
    eng.execute(
        "INSERT INTO __fzu14 VALUES "
        + ", ".join(f"({i}, 'init')" for i in range(len(subset)))
    )
    for i, p in enumerate(subset):
        eng.execute(
            f"ALTER TABLE __fzu14 UPDATE v = '{p}' WHERE k = {i}"
        )
    got = eng.execute("SELECT v FROM __fzu14 ORDER BY k").rows
    assert [r[0] for r in got] == subset
    eng.execute("DROP TABLE IF EXISTS __fzu14")


def test_create_default_expressions_survive(eng):
    # each payload as a column DEFAULT, filled via a partial INSERT
    subset = PAYLOADS[:8]
    for i, p in enumerate(subset):
        eng.execute(f"DROP TABLE IF EXISTS __fzd14_{i}")
        eng.execute(
            f"CREATE TABLE __fzd14_{i} (k Int64, v String "
            f"DEFAULT '{p}') ENGINE = MergeTree ORDER BY k"
        )
        eng.execute(f"INSERT INTO __fzd14_{i} (k) VALUES (1)")
        assert eng.execute(
            f"SELECT v FROM __fzd14_{i}"
        ).rows == [[p]], p
        eng.execute(f"DROP TABLE IF EXISTS __fzd14_{i}")


def test_ctas_select_literals_survive(eng):
    subset = PAYLOADS[:8]
    eng.execute("DROP TABLE IF EXISTS __fzc14")
    sel = " UNION ALL ".join(
        f"SELECT {i} AS k, '{p}' AS v" for i, p in enumerate(subset)
    )
    eng.execute(f"CREATE TABLE __fzc14 ORDER BY tuple() AS {sel}")
    got = eng.execute("SELECT v FROM __fzc14 ORDER BY k").rows
    assert [r[0] for r in got] == subset
    eng.execute("DROP TABLE IF EXISTS __fzc14")


def test_delete_conditions_survive(eng):
    # a DELETE whose condition literal matches nothing must not
    # corrupt or delete anything
    eng.execute("DROP TABLE IF EXISTS __fzx14")
    eng.execute(
        "CREATE TABLE __fzx14 (k Int64, v String) ENGINE = MergeTree "
        "ORDER BY k"
    )
    eng.execute("INSERT INTO __fzx14 VALUES (1, 'keep')")
    for p in PAYLOADS[:6]:
        eng.execute(f"ALTER TABLE __fzx14 DELETE WHERE v = '{p}'")
    assert eng.execute(
        "SELECT count(*) AS c FROM __fzx14"
    ).rows == [[1]]
    eng.execute("DROP TABLE IF EXISTS __fzx14")
