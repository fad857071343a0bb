"""Settings: the one parser, the one renderer and the one split.

A setting means the same thing however it arrives: a URL or native
packet setting, a ``SET`` kept by an HTTP session, a wire connection
or a CLI run, or the query's own ``SETTINGS`` clause. Every scope hands
its pairs to the engine as one init ``SET`` (:func:`set_statement`),
the reference's channel (``temporal/workflow_query_executor.go:302-310``);
the statement holds them, later pairs winning (:func:`merge`), and
:func:`split_settings` alone decides what a name means. No channel
writes the base session's conf.
"""

from __future__ import annotations

import re

from bighouse_spark.dialect.lexer import literal, split_top_level, unquote

# ``SET`` statements, and ``SETTINGS`` clauses cut out of a query.
SET_STMT_RE = re.compile(
    r"^\s*SET(?:TINGS)?\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_SET_PAIR_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_.]*)\s*(?:=|\s+TO\s+)\s*(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# Spark's ``SET TIME ZONE '<zone>'``: its conf key as a pair. The
# other forms (``LOCAL``, an interval) are not pairs.
_TIME_ZONE_RE = re.compile(
    r"^\s*TIME\s+ZONE\s+('(?:[^'\\]|\\.|'')*')\s*$", re.I | re.S
)

# CH settings → Spark conf (SURVEY.md §2 B18); ``spark.*`` names pass
# through. Every other name is a setting the engine reads, or a tuning
# hint it drops.
_SETTINGS_MAP = {
    "max_parallel_replicas": "spark.sql.shuffle.partitions",
    "max_threads": "spark.sql.shuffle.partitions",
    "max_download_threads": "spark.hadoop.fs.s3a.threads.max",
}


def parse_set_statement(sql: str) -> dict[str, str] | None:
    """``SET a = 1, b = 'x'`` (also PG's ``SET a TO 1``, Spark's ``SET
    TIME ZONE 'zone'``, and a ``SETTINGS …`` clause) → pair dict with
    each quoted value decoded once; None when the text is neither."""
    m = SET_STMT_RE.match(sql)
    if not m:
        return None
    out: dict[str, str] = {}
    for part in split_top_level(m.group(1)):
        if pm := _SET_PAIR_RE.match(part):
            out[pm.group(1)] = unquote(pm.group(2))
        elif tz := _TIME_ZONE_RE.match(part):
            out["spark.sql.session.timeZone"] = unquote(tz.group(1))
    return out


def set_statement(pairs: dict[str, str]) -> str:
    """The ``SET`` statement :func:`parse_set_statement` reads back as
    ``pairs``: numbers bare, every other value a quoted literal."""
    return "SET " + ", ".join(
        f"{k} = {literal(v)}" for k, v in pairs.items()
    )


def init_queries(pairs: dict[str, str]) -> list[str]:
    """A scope's pairs as a request's init queries: one ``SET``, or
    none when the scope has set nothing."""
    return [set_statement(pairs)] if pairs else []


def merge(base: dict[str, str], top: dict[str, str]) -> dict[str, str]:
    """``top`` layered over ``base``. A name set again moves to the
    end, so where two names map to one conf key the later one wins."""
    out = {k: v for k, v in base.items() if k not in top}
    out.update(top)
    return out


def split_settings(
    pairs: dict[str, str],
) -> tuple[dict[str, str], dict[str, str]]:
    """``(spark_conf, engine_settings)``: the one place that decides
    what a setting name means."""
    conf: dict[str, str] = {}
    engine: dict[str, str] = {}
    for k, v in pairs.items():
        if k in _SETTINGS_MAP:
            conf[_SETTINGS_MAP[k]] = v
        elif k.startswith("spark."):
            conf[k] = v
        else:
            engine[k] = v
    return conf, engine
