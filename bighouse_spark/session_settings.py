"""Shared SET-statement parsing and SETTINGS-clause merging.

Used by the HTTP ``session_id`` layer (server.py) and the
per-connection state of the PG / MySQL wire endpoints: a ``SET k = v``
persists to the scope (HTTP session / wire connection) and is
re-injected into later SELECTs as a trailing ``SETTINGS`` clause —
the engine's per-query settings channel, covering both conf-mapped
and engine-enforced names. The query's own SETTINGS win on conflict.
"""

from __future__ import annotations

import re

from bighouse_spark.dialect.lexer import mask, split_top_level

SET_STMT_RE = re.compile(
    r"^\s*SET\s+(.+?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_SET_PAIR_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_.]*)\s*(?:=|\s+TO\s+)\s*(.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SETTINGS_WORD = re.compile(r"(?<!\w)SETTINGS(?!\w)", re.IGNORECASE)
SELECTISH_RE = re.compile(r"^\s*(\(|SELECT\b|WITH\b)", re.IGNORECASE)


def _find_trailing_settings(sql: str) -> int | None:
    """Index of the LAST word-bounded ``SETTINGS`` keyword that sits
    OUTSIDE quoted spans and comments, or None —
    ``WHERE msg = 'see SETTINGS docs'`` has no clause."""
    found = list(_SETTINGS_WORD.finditer(mask(sql)))
    return found[-1].start() if found else None


def parse_set_statement(sql: str) -> dict[str, str] | None:
    """``SET a = 1, b = 'x'`` (also PG's ``SET a TO 1``) → pair dict;
    None when the statement is not a SET."""
    m = SET_STMT_RE.match(sql)
    if not m:
        return None
    out: dict[str, str] = {}
    for part in split_top_level(m.group(1)):
        pm = _SET_PAIR_RE.match(part)
        if pm:
            out[pm.group(1)] = pm.group(2)
    return out


def normalize_set_statement(sql: str) -> str | None:
    """Rewrite a SET statement to the ``SET k = v`` spelling the
    engine accepts (PG clients send ``SET k TO v``); None when the
    statement is not a SET or has no parseable pairs."""
    pairs = parse_set_statement(sql)
    if not pairs:
        return None
    return "SET " + ", ".join(f"{k} = {v}" for k, v in pairs.items())


def merge_settings_clause(sql: str, settings: dict[str, str]) -> str:
    """Inject persisted settings as a trailing SETTINGS clause on a
    SELECT-ish statement; the query's own SETTINGS win on conflict.
    Appending at the very END is deliberate: the engine's transpile
    strips SETTINGS first and FORMAT second, so its supported clause
    order is ``... [FORMAT x] SETTINGS ...`` — a wire statement with
    a trailing FORMAT keeps working. Non-SELECT statements pass
    through unchanged."""
    if not settings or not SELECTISH_RE.match(sql):
        return sql
    merged = dict(settings)
    base = sql
    idx = _find_trailing_settings(sql)
    if idx is not None:
        existing = parse_set_statement("SET " + sql[idx + 8:])
        if existing:
            base = sql[:idx].rstrip()
            merged.update(existing)
    clause = ", ".join(f"{k} = {v}" for k, v in merged.items())
    return f"{base} SETTINGS {clause}"
