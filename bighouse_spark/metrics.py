"""In-process metrics, rendered in the Prometheus text exposition
format (version 0.0.4) — no client library needed.

The reference exposes Prometheus metrics (plus pprof) on an internal
HTTP port (reference ``observability/internal_http.go:17-29``, wired
in ``main.go``); this module is the analog for the Spark engine:
query counters are read at scrape time from the engine's running
``query_totals`` / result-cache bookkeeping and the file-source
relation memo's own hit/miss counts (no double accounting), and the
four wire servers increment live connection counters here.

Cardinality discipline (see SCALE.md): every label value in this
module is a member of a fixed enum (``protocol`` ∈ {http,
postgresql, mysql, clickhouse}). Nothing derived from user input —
query text, table names, session ids, client addresses — may ever
become a label value: Prometheus keeps one time series per
(name, labels) pair, so an unbounded label value is a slow memory
leak in every scraper that ever pointed at this server.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import TYPE_CHECKING, Iterator

from bighouse_spark.sources.readers import schema_memo_counts

if TYPE_CHECKING:  # pragma: no cover - typing only
    from bighouse_spark.engine import BigHouseEngine

WIRE_PROTOCOLS = ("http", "postgresql", "mysql", "clickhouse")

_lock = threading.Lock()
_conn_total: dict[str, int] = {p: 0 for p in WIRE_PROTOCOLS}
_conn_active: dict[str, int] = {p: 0 for p in WIRE_PROTOCOLS}


def connection_opened(protocol: str) -> None:
    if protocol not in _conn_total:  # enum-gate: never grow the dict
        return
    with _lock:
        _conn_total[protocol] += 1
        _conn_active[protocol] += 1


def connection_closed(protocol: str) -> None:
    if protocol not in _conn_active:
        return
    with _lock:
        _conn_active[protocol] = max(0, _conn_active[protocol] - 1)


@contextmanager
def track_connection(protocol: str) -> Iterator[None]:
    """Wrap a wire server's per-connection handler."""
    connection_opened(protocol)
    try:
        yield
    finally:
        connection_closed(protocol)


def reset() -> None:
    """Test hook: zero the live counters."""
    with _lock:
        for p in WIRE_PROTOCOLS:
            _conn_total[p] = 0
            _conn_active[p] = 0


def _esc(v: str) -> str:
    return v.replace("\\", "\\\\").replace('"', '\\"')


class _Writer:
    def __init__(self) -> None:
        self._out: list[str] = []

    def metric(
        self,
        name: str,
        mtype: str,
        help_: str,
        samples: list[tuple[dict[str, str], float]],
    ) -> None:
        self._out.append(f"# HELP {name} {help_}")
        self._out.append(f"# TYPE {name} {mtype}")
        for labels, value in samples:
            lab = (
                "{"
                + ",".join(
                    f'{k}="{_esc(v)}"' for k, v in sorted(labels.items())
                )
                + "}"
                if labels
                else ""
            )
            # Prometheus wants floats without Python's repr noise for
            # integral values.
            val = int(value) if float(value).is_integer() else value
            self._out.append(f"{name}{lab} {val}")

    def render(self) -> str:
        return "\n".join(self._out) + "\n"


def render(
    engine: "BigHouseEngine",
    active_sessions: int | None = None,
) -> str:
    """Scrape-time snapshot. Query counters read the engine's
    ``query_totals``, kept in the same write as its bounded
    ``query_log``, so they never drift from the log and a scrape costs
    the same however long the history."""
    w = _Writer()

    t = engine.query_totals
    w.metric(
        "bighouse_queries_total", "counter",
        "Queries executed (including failed ones).",
        [({}, t.queries)],
    )
    w.metric(
        "bighouse_query_errors_total", "counter",
        "Queries that ended in an error.",
        [({}, t.errors)],
    )
    w.metric(
        "bighouse_query_result_rows_total", "counter",
        "Rows returned by completed queries.",
        [({}, t.result_rows)],
    )
    w.metric(
        "bighouse_query_cache_hits_total", "counter",
        "Queries answered from the result cache.",
        [({}, t.cache_hits)],
    )
    w.metric(
        "bighouse_query_seconds_total", "counter",
        "Total wall-clock seconds spent executing queries.",
        [({}, t.seconds)],
    )
    w.metric(
        "bighouse_queries_killed_total", "counter",
        "Queries cancelled via KILL QUERY or the execution-time "
        "watchdog.",
        [({}, getattr(engine, "kill_count", 0))],
    )
    w.metric(
        "bighouse_small_plan_statements_total", "counter",
        "Queries planned small: run with AQE off and one shuffle "
        "partition, their input under one file split.",
        [({}, getattr(engine, "small_plan_count", 0))],
    )

    hits, misses = schema_memo_counts()
    w.metric(
        "bighouse_source_schema_memo_hits_total", "counter",
        "File-source reads served a resolved relation (schema and "
        "listing) from the memo.",
        [({}, hits)],
    )
    w.metric(
        "bighouse_source_schema_memo_misses_total", "counter",
        "Memo-eligible file-source reads that resolved their "
        "relation and ran schema inference.",
        [({}, misses)],
    )

    with engine._cache_lock:
        cache_entries = len(engine._result_cache)
        cache_rows = engine._cache_rows
    w.metric(
        "bighouse_result_cache_entries", "gauge",
        "Entries currently held in the result cache.",
        [({}, cache_entries)],
    )
    w.metric(
        "bighouse_result_cache_rows", "gauge",
        "Rows currently held across all result-cache entries.",
        [({}, cache_rows)],
    )
    w.metric(
        "bighouse_queries_inflight", "gauge",
        "Queries executing right now.",
        [({}, len(engine.processes()))],
    )

    with _lock:
        total = dict(_conn_total)
        active = dict(_conn_active)
    w.metric(
        "bighouse_connections_total", "counter",
        "Connections accepted, by wire protocol.",
        [({"protocol": p}, total[p]) for p in WIRE_PROTOCOLS],
    )
    w.metric(
        "bighouse_connections_active", "gauge",
        "Connections open right now, by wire protocol.",
        [({"protocol": p}, active[p]) for p in WIRE_PROTOCOLS],
    )
    if active_sessions is not None:
        w.metric(
            "bighouse_http_sessions_active", "gauge",
            "Live CH-HTTP session_id entries.",
            [({}, active_sessions)],
        )
    return w.render()
