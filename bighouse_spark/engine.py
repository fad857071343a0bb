"""Query lifecycle — the ``QueryExecutor`` analog.

The reference's whole product is: take ``QueryExecutorInput{Query,
InitQueries, NumNodes, Cores, MemoryMB, ...}``, provision, run init
statements, run the one query, return ``QueryExecutorOutput{Cols
[]string, Rows []any}``, tear down (reference
``temporal/workflow_query_executor.go:30-100``). Its HTTP server never
wired a query route (``http_server/http_server.go:50`` registers only
``/hc``), so this module supplies the endpoint shape the reference
implies, minus the web framework (kept framework-free so it can be
mounted behind anything).

Execution path: dialect-transpile → ``spark.sql`` → Catalyst
(parse/analyze/optimize/codegen — everything ClickHouse did for the
reference) → ``collect``. Also keeps a ``query_log`` (the
``system.query_log`` analog, reference ``ch/config.xml:932``).
"""

from __future__ import annotations

import re
import threading
import time
import uuid
from collections import OrderedDict, deque
from dataclasses import dataclass, field, replace
from functools import cached_property
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from bighouse_spark.dialect.transpile import (
    _UDF_SESSIONS,
    TranspileResult,
    _strip_settings,
    _sub_outside_quotes,
    release_spool_pins,
    set_current_query_id,
    transpile,
)
from bighouse_spark.dialect.lexer import close_paren, mask, split_top_level
from bighouse_spark.operators.caching import release_tracked
from bighouse_spark.session import StatementSession, create_view, get_spark
from bighouse_spark.session_settings import (
    merge,
    parse_set_statement,
    split_settings,
)

# Select-list scan of ``_select_alias_map``, run on a masked copy.
_SELECT_LIST_SCAN = re.compile(r"[()\[\],]|(?<![\w])FROM\b", re.IGNORECASE)

# Per-thread statement state for the lifecycle (BigHouseEngine._run):
# ``depth`` counts nested statements (engine statements re-enter
# execute for init queries and DDL; resource release fires only when
# the OUTERMOST one unwinds), ``settings`` the running statement's
# setting pairs (cluster shape, then init ``SET``s, then the Spark conf
# of its ``SETTINGS``; its session holds their Spark conf half,
# ``_statement_conf``), ``session`` the outermost statement's session
# (``BigHouseEngine._stmt_session``), ``logged_error`` the failure
# already written to the log, ``qid``/``watch`` the outermost
# statement's query id and watchdog.
_REQ_LOCAL = threading.local()


def _statement_conf() -> dict[str, str]:
    """The Spark conf half of the running statement's settings."""
    return split_settings(getattr(_REQ_LOCAL, "settings", {}))[0]


@dataclass
class QueryRequest:
    """Mirror of ``QueryExecutorInput``
    (``temporal/workflow_query_executor.go:30-35``). ``num_nodes`` /
    ``cores`` map to shuffle partitions / local threads — cluster
    shape, not semantics."""

    query: str
    init_queries: list[str] = field(default_factory=list)
    num_nodes: int | None = None
    cores: int | None = None
    # Client-supplied query id (CH HTTP ?query_id= semantics): names
    # this query's Spark job group so the client can KILL QUERY it.
    query_id: str | None = None
    # True when the request arrived over a network endpoint (HTTP /
    # PG wire / MySQL wire). Gates server-side-file features: INTO
    # OUTFILE is a client-side feature in ClickHouse, and honoring it
    # from a network client would be an arbitrary-file-write hole.
    remote: bool = False
    # CH query parameters: {name:Type} placeholders in the query bind
    # to these values (HTTP param_<name>, CLI --param). Substitution
    # is typed and injection-safe (dialect.transpile
    # substitute_parameters).
    params: dict[str, str] = field(default_factory=dict)


@dataclass
class QueryResult:
    """Mirror of ``QueryExecutorOutput{Cols, Rows}``
    (``temporal/workflow_query_executor.go:36-39``)."""

    cols: list[str]
    rows: list[list[Any]]
    elapsed_sec: float = 0.0
    # ClickHouse-spelled result column types derived from the Spark
    # schema (``formats.ch_type_names``); None on non-SELECT paths
    # (DDL, INSERT acks). Consumed by the HTTP FORMAT renderers and
    # the PG/MySQL wire protocols for honest result metadata.
    types: list[str] | None = None

    def to_dict(self) -> dict[str, Any]:
        return {"cols": self.cols, "rows": self.rows, "elapsed_sec": self.elapsed_sec}


@dataclass
class QueryLogEntry:
    query: str
    transpiled: str
    elapsed_sec: float
    row_count: int
    error: str | None = None
    cached: bool = False
    # ClickHouse's statement kind (Select, Insert, Create, Alter, ...):
    # the dispatch key of the router (``BigHouseEngine._ROUTES``).
    query_kind: str = "Select"


@dataclass
class QueryTotals:
    """Running totals over every statement ever logged, updated in the
    same write as the bounded ``query_log`` so ``/metrics`` and
    ``system_profile`` never re-scan its history."""

    queries: int = 0
    errors: int = 0
    cache_hits: int = 0
    result_rows: int = 0
    seconds: float = 0.0

    def add(self, e: QueryLogEntry) -> None:
        self.queries += 1
        self.errors += bool(e.error)
        self.cache_hits += e.cached
        self.result_rows += max(e.row_count, 0)
        self.seconds += e.elapsed_sec


class _Logged(NamedTuple):
    """A handler's result plus its ``query_log`` entry: ``label`` fills
    the ``transpiled`` column (the SQL that ran, or a ``<kind>`` tag)
    and ``rows`` the row count (-1 for writes). A handler that returns
    a bare result is not logged on success."""

    result: Any
    label: str
    rows: int = 0
    cached: bool = False


@dataclass
class _Statement:
    """One statement as the lifecycle tracks it. Routing rewrites
    replace ``request``, so the log records the text that ran;
    ``label`` is what a failure logs as ``transpiled``; ``kind`` is
    the logged ``query_kind``. Its temp views live on its session and
    end with it (``BigHouseEngine._run``)."""

    request: QueryRequest
    label: str = ""
    kind: str = "Select"


def _killed_error(qid: str) -> RuntimeError:
    return RuntimeError(
        f"query {qid} was cancelled (KILL QUERY / QUERY_WAS_CANCELLED)"
    )


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) in a parquet file/dir —
    read from the footer via pyarrow (exact, no data touched)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    p = path[len("file://"):] if path.startswith("file://") else path
    if _os.path.isdir(p):
        candidates = _glob.glob(_os.path.join(p, "*.parquet"))
        if not candidates:
            return []
        p = candidates[0]
    try:
        schema = _pq.read_schema(p)
    except Exception:
        return []
    import pyarrow as _pa

    return [
        f.name
        for f in schema
        if _pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


class BigHouseEngine:
    """One engine ≈ one warm "cluster". The reference pays 3-5 s of
    machine spin-up per query (``README.md:141-144``); a shared
    SparkSession amortizes that to zero, which its own benchmarks
    argue for on fast queries (``README.md:58,104``)."""

    # Result-cache bounds: a long-lived server must not leak memory
    # one cached query at a time (CH bounds its query cache the same
    # way: max_entries / max_size, ch/config.xml:1348).
    CACHE_MAX_ENTRIES = 128
    CACHE_MAX_ROWS = 1_000_000  # total rows across all entries
    # query_log is a ring of the most recent statements; the running
    # totals (query_totals) keep counting past it.
    QUERY_LOG_MAX = 10_000

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.query_log: deque[QueryLogEntry] = deque(
            maxlen=self.QUERY_LOG_MAX
        )
        self.query_totals = QueryTotals()
        self._log_lock = threading.Lock()
        # Result cache (the CH query-cache analog, ch/config.xml:1348;
        # SURVEY.md §2.C "Query result cache"). Opt-in per query via
        # ``use_query_cache=1``; keyed by the raw SQL text and the
        # statement's scope settings.
        # LRU with entry + row bounds; no source-version invalidation
        # — callers clear_cache() after writes, same contract as CH's
        # TTL-less cache default.
        self._result_cache: OrderedDict[tuple, QueryResult] = OrderedDict()
        self._cache_rows = 0
        self._cache_lock = threading.Lock()
        # name → (path, fmt, schema) for attach_table targets, so
        # INSERT INTO <name> can append to the backing storage.
        self._attached: dict[str, tuple[str, str, str | None]] = {}
        # Engine-owned partition layout: table -> PARTITION BY columns
        # (CH MergeTree partitioning, the reference's main pruning
        # lever). Every write path (INSERT, mutations, OPTIMIZE)
        # re-applies it so partition dirs survive rewrites.
        self._partitioned: dict[str, list[str]] = {}
        # Engine-owned in-file sort order: table -> ORDER BY columns
        # (CH MergeTree's primary sort — the min/max-pruning lever).
        # Plain-column keys are honored on every write via
        # sortWithinPartitions; expression keys are accepted and
        # dropped (sorting is a performance property, not semantics).
        self._ordered: dict[str, list[str]] = {}
        # Data-skipping indices (ALTER TABLE ... ADD INDEX):
        # table -> {index_name: (expr, index_type)}. bloom_filter /
        # tokenbf_v1 / ngrambf_v1 over a plain column turn on parquet
        # column-chunk bloom filters on every subsequent write (the
        # real skip structure); minmax is already served by parquet
        # min/max stats, set by dictionary pages — both recorded for
        # introspection.
        self._skip_indices: dict[str, dict[str, tuple[str, str]]] = {}
        # Table TTL (ALTER TABLE ... MODIFY TTL <expr>): applied at
        # OPTIMIZE like CH applies TTL at merge time — rows whose TTL
        # timestamp has passed are dropped by the rewrite.
        self._ttl: dict[str, str] = {}
        # ENGINE = Null tables: INSERTs fan out to dependent MVs and
        # are then DISCARDED (CH's Null+MV ingestion pattern); reads
        # always see an empty table.
        self._null_tables: set[str] = set()
        # raw CH column DDL from CREATE TABLE, kept for nullability-
        # aware default fills on partial-column INSERTs (the attach
        # registration only carries a schema string for CSV/partition
        # reads).
        self._ch_col_ddl: dict[str, str] = {}
        # declared per-column DEFAULT expressions (CH dialect text),
        # table -> {col: expr}: used to fill columns omitted from an
        # INSERT and by CLEAR COLUMN, like CH. Travels with the table
        # through RENAME/EXCHANGE; edited by column DDL.
        self._column_defaults: dict[str, dict[str, str]] = {}
        # system.mutations analog: every ALTER UPDATE/DELETE this
        # engine ran, as (table, mutation_id, command, create_time).
        # Mutations here are synchronous whole-part rewrites, so a
        # recorded row is always is_done=1 — CH users poll exactly
        # that flag.
        self._mutations: list[tuple] = []
        # Materialized views: name → mutable state dict (see
        # _create_materialized_view). CH MVs are insert-triggered
        # incremental aggregates; here each refresh is a Structured
        # Streaming availableNow batch whose checkpoint remembers
        # which source files were already folded in.
        self._mviews: dict[str, dict[str, Any]] = {}
        # Dictionaries: name → (source view, primary-key column).
        # dictGet calls rewrite to correlated scalar subqueries, which
        # Catalyst decorrelates into the (broadcast) lookup join a CH
        # in-memory dictionary is.
        self._dicts: dict[str, tuple[str, str]] = {}
        # CREATE VIEW views: name → transpiled SELECT (for SHOW
        # CREATE; the registered temp view is the live object).
        self._user_views: dict[str, str] = {}
        # DETACHed tables: registration parked so a later plain
        # ATTACH TABLE <name> can restore it (CH detach semantics —
        # storage untouched, name released).
        self._detached: dict[str, tuple] = {}
        # DROP tombstones: our DROP keeps the shared backing storage,
        # so UNDROP TABLE (CH 23.3+) can genuinely restore — the
        # registration tuple is parked here at drop time. MVs are
        # excluded (their private data dirs are deleted on drop).
        self._dropped_tables: dict[str, tuple] = {}
        # Column comments (ALTER TABLE ... COMMENT COLUMN) — pure
        # metadata, surfaced through system_columns.
        self._comments: dict[tuple[str, str], str] = {}
        # Tables promoted to catalog tables by ANALYZE TABLE so CBO
        # statistics attach to them (temp views cannot carry stats).
        # attach_table keeps the promotion across writes (REFRESH +
        # NOSCAN re-analyze instead of re-registering a temp view).
        self._analyzed: set[str] = set()
        # In-flight statements: query_id -> (sql, start_monotonic). Each
        # runs under a Spark job group named by its query_id, which
        # KILL QUERY and max_execution_time cancel through _cancel
        # (thread-scoped: PySpark pins one JVM thread per Python
        # thread, so concurrent server requests don't cross-cancel)
        # until its write lands (_commit).
        self._inflight: dict[str, tuple[str, float]] = {}
        self._cancelled: dict[str, Exception] = {}  # qid -> its error
        self._committed: set[str] = set()
        self._inflight_lock = threading.Lock()
        # One writer at a time per attached table (_write_lock).
        self._write_locks: dict[str, threading.Lock] = {}
        # Monotonic count of cancellations (KILL QUERY + watchdog),
        # surfaced by the Prometheus /metrics endpoint.
        self.kill_count = 0
        # Statements planned small (_small_plan), for /metrics.
        self.small_plan_count = 0
        # Cost-based optimization: with table/column stats from
        # ANALYZE, Catalyst reorders joins and sizes broadcasts from
        # rowCount instead of raw file bytes. Harmless without stats.
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled"):
            try:
                self.spark.conf.set(k, "true")
            except Exception:
                pass

    def _rename_table(self, old: str, new: str) -> None:
        """RENAME TABLE: re-point the temp view and, for attached
        tables, the backing-storage registration. Renaming a
        materialized view is refused (its checkpoint state is bound to
        the name)."""
        if old in self._mviews:
            raise ValueError(f"RENAME TABLE {old}: cannot rename an MV")
        if new in self._attached or new in self._mviews or (
            self.spark.catalog.tableExists(new)
        ):
            raise ValueError(f"RENAME TABLE: target {new} exists")
        if old in self._attached:
            path, fmt, schema = self._attached.pop(old)
            self._unpublish(old)
            if old in self._analyzed:
                # Demote on rename: statistics are bound to the
                # catalog identifier. Re-ANALYZE under the new name to
                # re-promote.
                self.spark.sql(f"DROP TABLE IF EXISTS {old}__bhcat")
                self._analyzed.discard(old)
            if old in self._partitioned:
                self._partitioned[new] = self._partitioned.pop(old)
            if old in self._null_tables:
                self._null_tables.discard(old)
                self._null_tables.add(new)
            if old in self._ordered:
                self._ordered[new] = self._ordered.pop(old)
            if old in self._skip_indices:
                self._skip_indices[new] = self._skip_indices.pop(old)
            if old in self._ttl:
                self._ttl[new] = self._ttl.pop(old)
            # the declared-order record travels with the table —
            # leaving it behind fed _target_schema a STALE column
            # order after RENAME/EXCHANGE (round-13 probe: the first
            # insert into an exchanged table transposed columns)
            if old in self._ch_col_ddl:
                self._ch_col_ddl[new] = self._ch_col_ddl.pop(old)
            if old in self._column_defaults:
                self._column_defaults[new] = (
                    self._column_defaults.pop(old)
                )
            for (t, c) in [k for k in self._comments if k[0] == old]:
                self._comments[(new, c)] = self._comments.pop((t, c))
            self.attach_table(new, path, fmt=fmt, schema=schema)
        elif self.spark.catalog.tableExists(old):
            self._publish(self.spark.table(old), new)
            self._unpublish(old)
            if old in self._user_views:
                self._user_views[new] = self._user_views.pop(old)
            for (t, c) in [k for k in self._comments if k[0] == old]:
                self._comments[(new, c)] = self._comments.pop((t, c))
        else:
            raise ValueError(f"RENAME TABLE {old}: not found")
        self.clear_cache()

    def processes(self) -> list[tuple[str, str, float]]:
        """``(query_id, query, elapsed_sec)`` per in-flight statement,
        for system.processes, /debug/threads and /metrics. ``query`` is
        cut to 200 characters: an HTTP text INSERT's carries its whole
        payload."""
        with self._inflight_lock:
            now = time.monotonic()
            return [
                (qid, sql[:200], now - t0)
                for qid, (sql, t0) in self._inflight.items()
            ]

    def clear_cache(self) -> None:
        with self._cache_lock:
            self._result_cache.clear()
            self._cache_rows = 0

    def _cache_get(self, key: tuple) -> QueryResult | None:
        with self._cache_lock:
            hit = self._result_cache.get(key)
            if hit is not None:
                self._result_cache.move_to_end(key)
            return hit

    def _cache_put(self, key: tuple, result: QueryResult) -> None:
        n_rows = len(result.rows)
        if n_rows > self.CACHE_MAX_ROWS:
            return  # larger than the whole budget; never cacheable
        with self._cache_lock:
            prev = self._result_cache.pop(key, None)
            if prev is not None:
                self._cache_rows -= len(prev.rows)
            self._result_cache[key] = result
            self._cache_rows += n_rows
            while self._result_cache and (
                len(self._result_cache) > self.CACHE_MAX_ENTRIES
                or self._cache_rows > self.CACHE_MAX_ROWS
            ):
                _, evicted = self._result_cache.popitem(last=False)
                self._cache_rows -= len(evicted.rows)

    def attach_table(
        self,
        name: str,
        path: str,
        fmt: str = "parquet",
        schema: str | None = None,
    ) -> None:
        """Register a named table over a storage directory — the
        capability behind the reference's web-disk ATTACH
        (``temporal/workflow_query_executor_test.go:85``): a shared,
        pre-existing dataset addressable by name in subsequent
        queries. ``schema`` is a ClickHouse schema string (required
        for CSV; parquet/orc self-describe). Registered as a temp
        view → visible to every later ``execute`` on this engine.
        """
        from bighouse_spark.sources.readers import read_source

        try:
            df = read_source(self.spark, [path], fmt=fmt, schema=schema)
            df.schema  # force analysis so type errors surface here
        except Exception as e:
            if "PARQUET_TYPE_ILLEGAL" not in str(e):
                raise
            # TIMESTAMP(NANOS) parquet (Spark reads µs max): fall back
            # to raw int64 nanos and surface them as timestamps.
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            from pyspark.sql import functions as F

            df = read_source(self.spark, [path], fmt=fmt, schema=schema)
            for col in _nanos_columns(path):
                df = df.withColumn(
                    col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
                )
        if name in self._analyzed:
            # The storage is promoted to a catalog table (ANALYZE
            # TABLE) under an internal name; the user-visible name is
            # a declared-order view over it. Re-point at the
            # (possibly rewritten) files and refresh cheap stats —
            # unless the schema drifted (ALTER COLUMN), which demotes
            # back to a plain registration until the next ANALYZE.
            cat = f"{name}__bhcat"
            if set(df.columns) == set(self.spark.table(cat).columns):
                self._attached[name] = (path, fmt, schema)
                if name in self._partitioned:
                    # A write may have created NEW partition dirs;
                    # catalog tables need them registered explicitly.
                    self.spark.sql(
                        f"MSCK REPAIR TABLE {cat} SYNC PARTITIONS"
                    )
                self.spark.sql(f"REFRESH TABLE {cat}")
                self.spark.sql(
                    f"ANALYZE TABLE {cat} COMPUTE STATISTICS NOSCAN"
                )
                self._publish(self.spark.table(cat).select(*df.columns),
                              name)
                return
            self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
            self._analyzed.discard(name)
        self._publish(df, name)
        self._attached[name] = (path, fmt, schema)

    def _publish(self, df: DataFrame, name: str) -> None:
        """Register ``df`` (built on the base session) as temp view
        ``name`` on the base, where DDL outlives its statement, and on
        the running statement's session if it has one, so the rest of
        the statement sees it too."""
        df.createOrReplaceTempView(name)
        if (s := getattr(_REQ_LOCAL, "session", None)) is not None:
            create_view(s, df, name)

    def _unpublish(self, name: str) -> None:
        """Drop temp view ``name`` from the base session and from the
        running statement's."""
        self.spark.catalog.dropTempView(name)
        if (s := getattr(_REQ_LOCAL, "session", None)) is not None:
            s.catalog.dropTempView(name)

    def refresh_system_views(
        self, only: "set[str] | None" = None,
        spark: SparkSession | None = None,
    ) -> None:
        """Materialize engine bookkeeping as queryable views — the
        ``system.query_log`` analog (reference enables query_log et
        al. in ``ch/config.xml:932-1101``; B17 in SURVEY.md §2).
        Registered as ``system_query_log`` (temp-view names cannot
        contain dots) on ``spark``, by default the running statement's
        session (``_stmt_session``): a statement reading ``system.*``
        sees its own views, and they end with it. Outside a statement,
        and for ``SYSTEM FLUSH LOGS``, that is the base session.

        ``only``: rebuild just the named views, as ``execute()`` does
        (a full rebuild costs seconds of py4j catalog introspection);
        ``None`` or any unknown name rebuilds everything, so laziness
        can never serve a missing view."""
        spark = spark or self._stmt_session

        def put(view: str, rows: list, schema: str) -> None:
            spark.createDataFrame(rows, schema).createOrReplaceTempView(view)

        def _query_log() -> None:
            schema = (
                "query string, transpiled string, elapsed_sec double, "
                "row_count bigint, error string, cached boolean, "
                "query_kind string"
            )
            rows = [
                (e.query, e.transpiled, e.elapsed_sec, e.row_count,
                 e.error, e.cached, e.query_kind)
                # list(): a C-level copy no concurrent append can
                # interleave with (iterating a deque that another
                # request thread appends to raises)
                for e in list(self.query_log)
            ]
            put("system_query_log", rows, schema)

        def _one() -> None:
            # system.one: CH's canonical dummy table (one row, dummy=0)
            # — the implicit FROM of bare SELECTs and the
            # remote()/cluster() smoke target.
            spark.sql("SELECT CAST(0 AS TINYINT) AS dummy") \
                .createOrReplaceTempView("system_one")

        def _processes() -> None:
            # system.processes analog: in-flight queries with their
            # cancellable query ids (KILL QUERY WHERE query_id = ...).
            # An inline table is a local relation: reading it runs no
            # Spark job, so it never queues behind the queries it lists.
            procs = self.processes()
            # one typed placeholder row keeps VALUES well-formed at zero
            flat = sum(procs or [("", "", 0.0)], ())
            rows = ", ".join(
                f"(:p{i}, :p{i + 1}, :p{i + 2})" for i in range(0, len(flat), 3)
            )
            spark.sql(
                f"SELECT * FROM VALUES {rows} "
                f"AS t(query_id, query, elapsed_sec) LIMIT {len(procs)}",
                args={f"p{i}": v for i, v in enumerate(flat)},
            ).createOrReplaceTempView("system_processes")

        # system.tables / system.columns analogs (CH exposes catalog
        # introspection the same way; Spark's catalog is the source).
        _tables_memo: list = []

        def _list_tables() -> list:
            if not _tables_memo:
                _tables_memo.append([
                    (t.name, t.database or "", t.tableType,
                     bool(t.isTemporary))
                    for t in spark.catalog.listTables()
                    if not t.name.startswith("__bh_src_")
                    and not t.name.endswith("__bhcat")
                ])
            return _tables_memo[0]

        def _tables() -> None:
            put("system_tables", _list_tables(),
                "name string, database string, engine string, "
                "is_temporary boolean")

        def _columns() -> None:
            cols = []
            for tname, db, _, _ in _list_tables():
                if tname in ("system_tables", "system_columns"):
                    continue
                tbl_defaults = self._column_defaults.get(tname, {})
                try:
                    # ONE py4j round trip per table (the schema JSON),
                    # not one per column: pyspark's
                    # catalog.listColumns materializes each Column
                    # field-by-field over the wire and dominated the
                    # old full refresh (~6 s with a few dozen views).
                    fields = spark.table(tname).schema.fields
                except Exception:
                    continue  # dropped concurrently; best-effort
                for f in fields:
                    dflt = tbl_defaults.get(f.name)
                    cols.append((
                        tname, f.name, f.dataType.simpleString(),
                        bool(f.nullable),
                        self._comments.get((tname, f.name), ""),
                        "DEFAULT" if dflt is not None else "",
                        dflt or "",
                    ))
            put("system_columns", cols,
                "table string, name string, type string, "
                "nullable boolean, comment string, default_kind string, "
                "default_expression string")

        def _mutations() -> None:
            # system.mutations analog: the engine's synchronous
            # mutation log (ALTER UPDATE/DELETE), is_done always 1.
            put("system_mutations", [m + (1,) for m in self._mutations],
                "table string, mutation_id string, command string, "
                "create_time timestamp, is_done int")

        def _clusters() -> None:
            # system.clusters analog (the reference's first smoke
            # query is `SELECT * FROM system.clusters`, run.sh:5-6):
            # one row per executor from the JVM status tracker. On
            # local[N] that's the driver executor; on a real cluster,
            # one row per node, same code path.
            clusters = []
            try:
                jtracker = self.spark.sparkContext._jsc.sc().statusTracker()
                for ei in jtracker.getExecutorInfos():
                    clusters.append((
                        "bighouse",  # cluster_name
                        ei.host(),
                        int(ei.port()),
                        int(ei.numRunningTasks()),
                        int(ei.cacheSize()),
                    ))
            except Exception:
                pass  # py4j surface moved; fall back to the driver row
            if not clusters:
                clusters = [("bighouse", "driver", 0, 0, 0)]
            put("system_clusters", clusters,
                "cluster_name string, host_name string, port int, "
                "num_running_tasks int, cache_size bigint")

        def _profile() -> None:
            # processors_profile_log analog (reference
            # workflow_query_executor_test.go:98-107): per-query wall
            # time + scheduler counters.
            tracker = self.spark.sparkContext.statusTracker()
            profile = [(
                self.query_totals.queries,
                self.query_totals.seconds,
                len(tracker.getActiveJobsIds() or []),
                len(tracker.getActiveStageIds() or []),
            )]
            put("system_profile", profile,
                "queries_executed bigint, total_elapsed_sec double, "
                "active_jobs int, active_stages int")

        def _settings() -> None:
            # system.settings analog in CH's column shape (name /
            # value / changed / description) so migrating
            # introspection queries parse. Rows: the CH-named settings
            # this engine serves, then every Spark SQL conf. Only the
            # running statement's pairs (an init-query SET: a URL
            # setting or its scope's SETs) change a CH-named setting.
            pairs = getattr(_REQ_LOCAL, "settings", {})
            shuffle = spark.conf.get("spark.sql.shuffle.partitions", "200")
            ch_rows = [(name, pairs.get(name, default), int(name in pairs),
                        text) for name, default, text in (
                ("max_threads", shuffle,
                 "Query parallelism; maps to spark.sql.shuffle.partitions."),
                ("max_parallel_replicas", shuffle,
                 "Maps to spark.sql.shuffle.partitions."),
                ("max_download_threads", "4",
                 "Maps to spark.hadoop.fs.s3a.threads.max."),
                ("max_execution_time", "0",
                 "Per-query wall-clock cap in seconds; 0 = unlimited."),
                ("max_result_rows", "0",
                 "Result-row cap enforced before collect; 0 = unlimited."),
                ("result_overflow_mode", "throw",
                 "'throw' raises on max_result_rows overflow, 'break' "
                 "truncates."),
                ("exact_cityhash", "0",
                 "1 = bit-exact CityHash64 v1.0.2 UDF instead of the "
                 "xxhash64 capability path."),
                ("max_funnel_group_events", "0",
                 "strict_order windowFunnel per-group buffer cap; "
                 "0 = unlimited."),
            )]
            spark_rows = [
                (r["key"], r["value"], 0, r["meaning"])
                for r in spark.sql("SET -v")
                .toDF("key", "value", "meaning", "since")
                .collect()
            ]
            put("system_settings", ch_rows + spark_rows,
                "name string, value string, changed int, "
                "description string")

        def _table_engines() -> None:
            # system.table_engines analog: the ENGINE names the DDL
            # surface acknowledges.
            put("system_table_engines",
                [("MergeTree", True, True),
                 ("ReplacingMergeTree", True, True),
                 ("SummingMergeTree", True, True),
                 ("AggregatingMergeTree", True, True),
                 ("Memory", False, False), ("Log", False, False),
                 ("TinyLog", False, False), ("StripeLog", False, False),
                 ("Null", False, False), ("View", False, False),
                 ("MaterializedView", False, False)],
                "name string, supports_settings boolean, "
                "supports_sort_order boolean")

        def _databases() -> None:
            # system.databases analog: the single warehouse this
            # engine serves plus the system views' pseudo-database.
            put("system_databases",
                [("default", "Atomic"), ("system", "Memory")],
                "name string, engine string")

        def _parts() -> None:
            # system.parts analog: one row per backing data file of
            # each attached table (CH: one row per MergeTree part).
            # Row counts come from parquet footers — no data pages.
            import os as _os

            parts = []
            for tname, (path, fmt, _schema) in self._attached.items():
                local = path[7:] if path.startswith("file://") else path
                if "://" in local:
                    continue  # object storage: listing needs a client
                if _os.path.isfile(local):
                    entries = [local]
                else:
                    entries = []
                    for root, _d, files in _os.walk(local):
                        # detached partitions (.detached) are NOT live
                        # parts — CH lists them in
                        # system.detached_parts, served below; prune
                        # every dot/underscore dir
                        _d[:] = [
                            d for d in _d if not d.startswith(("_", "."))
                        ]
                        entries.extend(
                            _os.path.join(root, f)
                            for f in files
                            if not f.startswith(("_", "."))
                        )
                for fpath in entries:
                    n_rows = -1
                    if fmt == "parquet":
                        try:
                            import pyarrow.parquet as _pq

                            n_rows = _pq.ParquetFile(
                                fpath
                            ).metadata.num_rows
                        except Exception:
                            pass
                    # CH system.parts names the partition each part
                    # belongs to; here that's the Hive-style directory
                    # fragment ('p=3'; '' unpartitioned).
                    rel_dir = _os.path.dirname(
                        _os.path.relpath(fpath, local)
                    ) if not _os.path.isfile(local) else ""
                    parts.append((
                        tname, _os.path.basename(fpath),
                        "" if rel_dir == "." else rel_dir,
                        int(_os.path.getsize(fpath)), int(n_rows),
                    ))
            put("system_parts", parts,
                "table string, name string, partition string, "
                "bytes_on_disk bigint, rows bigint")

        def _detached_parts() -> None:
            # system.detached_parts analog: partitions parked by
            # ALTER TABLE ... DETACH PARTITION await re-ATTACH under
            # <table>/.detached.
            import os as _os

            detached = []
            for tname, (path, fmt, _schema) in self._attached.items():
                local = path[7:] if path.startswith("file://") else path
                droot = _os.path.join(local, ".detached")
                if "://" in local or not _os.path.isdir(droot):
                    continue
                for frag in sorted(_os.listdir(droot)):
                    pdir = _os.path.join(droot, frag)
                    if not _os.path.isdir(pdir):
                        continue
                    nbytes = sum(
                        _os.path.getsize(_os.path.join(root, f))
                        for root, _d, files in _os.walk(pdir)
                        for f in files
                        if not f.startswith(("_", "."))
                    )
                    detached.append((tname, frag, int(nbytes)))
            put("system_detached_parts", detached,
                "table string, partition string, bytes_on_disk bigint")

        def _dictionaries() -> None:
            put("system_dictionaries",
                [(n, src, pk) for n, (src, pk) in self._dicts.items()],
                "name string, source string, key string")

        def _maintenance() -> None:
            # system.data_skipping_indices analog (ALTER ... ADD
            # INDEX), plus each table's TTL expression.
            put("system_data_skipping_indices",
                [(t, i, e, ty) for t, m in self._skip_indices.items()
                 for i, (e, ty) in m.items()],
                "table string, name string, expr string, type string")
            put("system_table_ttl", list(self._ttl.items()),
                "table string, ttl string")

        def _functions() -> None:
            for view, df in self._function_frames.items():
                create_view(spark, df, view)

        # Keep in sync with _SYSTEM_VIEW_NAMES (execute() uses it to
        # recognize underscore-spelled references in statements).
        builders: dict[str, Callable[[], None]] = {
            "system_query_log": _query_log,
            "system_one": _one,
            "system_processes": _processes,
            "system_tables": _tables,
            "system_columns": _columns,
            "system_mutations": _mutations,
            "system_clusters": _clusters,
            "system_profile": _profile,
            "system_settings": _settings,
            "system_table_engines": _table_engines,
            "system_databases": _databases,
            "system_parts": _parts,
            "system_detached_parts": _detached_parts,
            "system_dictionaries": _dictionaries,
            "system_data_skipping_indices": _maintenance,
            "system_table_ttl": _maintenance,
            "system_functions": _functions,
            "system_aggregate_function_combinators": _functions,
        }
        # Loud divergence guard: execute()'s underscore-reference scan
        # trusts _SYSTEM_VIEW_NAMES to be exactly the buildable set.
        assert set(builders) == self._SYSTEM_VIEW_NAMES, (
            "refresh_system_views builders out of sync with "
            "_SYSTEM_VIEW_NAMES"
        )
        names = only if only is not None and only <= builders.keys() \
            else builders
        for build in dict.fromkeys(builders[n] for n in names):
            build()

    @cached_property
    def _function_frames(self) -> dict[str, DataFrame]:
        """system.functions analogs: every ClickHouse function spelling
        the dialect layer maps, and its combinators. Static per process:
        built once, registered by each statement that reads them."""
        from bighouse_spark.dialect.transpile import (
            SERVED_COMBINATORS,
            served_function_names,
        )

        return {
            "system_functions": self.spark.createDataFrame(
                served_function_names(), "name string, kind string"),
            "system_aggregate_function_combinators": self.spark
            .createDataFrame([(c,) for c in SERVED_COMBINATORS], "name string"),
        }

    # Every temp-view name refresh_system_views can build — used by
    # execute() to also refresh views referenced by their registered
    # underscore spelling (``system_columns``) when a statement mixes
    # spellings; an underscore token NOT in this set is a user table
    # and must not trigger a refresh.
    _SYSTEM_VIEW_NAMES = frozenset({
        "system_query_log", "system_one", "system_processes",
        "system_tables", "system_columns", "system_mutations",
        "system_clusters", "system_profile", "system_settings",
        "system_table_engines", "system_databases", "system_parts",
        "system_detached_parts", "system_dictionaries",
        "system_data_skipping_indices", "system_table_ttl",
        "system_functions", "system_aggregate_function_combinators",
    })

    # Statement patterns. Every one matches the statement's router
    # mask, ``mask(..., strings_only=True)`` (``_route``); groups that
    # may hold literal text are re-sliced from the raw statement by
    # span (``_raw_groups``).
    _INTO_OUTFILE_RE = re.compile(
        r"^(.*?)\s+INTO\s+OUTFILE\s+'([^']+)'"
        r"(?:\s+(TRUNCATE))?(?:\s+FORMAT\s+(\w+))?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    # ``ON CLUSTER c``: a quoted cluster name reaches the patterns as a
    # masked literal, so it is matched as one quote span.
    _ON_CLUSTER = r"(?:\s+ON\s+CLUSTER\s+(?:'[^']*'|\S+))?"
    # A partition value: a quoted id (''-doubling and backslash
    # escapes) or a bare token, which may hold masked literals
    # (``tuple('x')``).
    _PARTITION_VALUE = (
        r"(?:'((?:[^'\\]|\\.|'')*)'|((?:[^\s']|'[^']*')+))"
    )
    # Query parameters bind in statement text only: the inline data
    # payload of ``INSERT ... FORMAT <fmt>`` is split off first.
    _PAYLOAD_SPLIT_RE = re.compile(
        r"^(\s*INSERT\s+INTO\b.*?\bFORMAT\s+\w+)(\s.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _INSERT_FN_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+FUNCTION\s+(s3|file|url)\s*\(\s*'([^']+)'\s*"
        r"(?:,\s*'([^']*)'\s*)?\)\s*(.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _INSERT_TBL_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+(?!FUNCTION\b)[`\"]?(\w+)[`\"]?\s*"
        r"(?:\(\s*([\w`\"\s,]+?)\s*\)\s*)?"
        r"(SELECT\b|WITH\b|VALUES\b)",
        re.IGNORECASE,
    )
    # INSERT-time transform: INSERT INTO t SELECT ... FROM
    # input('schema') [WHERE ...] FORMAT <fmt>\n<payload> — the CH
    # idiom for reshaping client data as it lands.
    _INSERT_INPUT_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+(?!FUNCTION\b)[`\"]?(\w+)[`\"]?\s*"
        r"(?:\(([^)]*)\)\s*)?"
        r"((?:SELECT|WITH)\b.*?\binput\s*\(\s*('[^']*')\s*\).*?)"
        r"\s+FORMAT\s+(\w+)\s+(.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    # CH wire-style INSERT with an inline data payload after FORMAT.
    _INSERT_FMT_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+(?!FUNCTION\b)[`\"]?(\w+)[`\"]?\s*"
        r"(?:\(\s*([\w`\"\s,]+?)\s*\)\s*)?"
        r"FORMAT\s+(Values|JSONEachRow|CSVWithNames|CSV"
        r"|TSVWithNames|TabSeparatedWithNames|TSV|TabSeparated)"
        r"\s+(.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    # ``ALTER TABLE name [ON CLUSTER c]``, matched once per ALTER. The
    # sub-command patterns below match where it ends
    # (``pattern.match(masked, head.end())``), so their group offsets
    # index the whole statement.
    _ALTER_HEAD_RE = re.compile(
        r"\s*ALTER\s+TABLE\s+[`\"]?(\w+)[`\"]?" + _ON_CLUSTER + r"\s+",
        re.IGNORECASE,
    )
    _ALTER_COLUMN_RE = re.compile(
        r"(ADD|DROP|RENAME|MODIFY)\s+COLUMN\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?\s*(.*?)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    # CH cross-table partition management — the production backfill
    # pattern (swap a staged partition in without rewriting the
    # table): `ALTER TABLE dst ATTACH|REPLACE PARTITION p FROM src`
    # (dst is the statement table) and `ALTER TABLE src MOVE
    # PARTITION p TO TABLE dst` (src is the statement table). All
    # three are O(one partition directory) file operations.
    _PARTITION_FROM_RE = re.compile(
        r"(ATTACH|REPLACE|MOVE)\s+PARTITION\s+(?:ID\s+)?" + _PARTITION_VALUE
        + r"\s+(?:FROM|TO\s+TABLE)\s+[`\"]?(\w+)[`\"]?\s*$",
        re.IGNORECASE,
    )
    # CH `ALTER TABLE t DROP DETACHED PARTITION p` — remove a parked
    # partition from .detached without re-attaching it (the cleanup
    # half of the DETACH lifecycle, shown in system.detached_parts).
    _DROP_DETACHED_RE = re.compile(
        r"DROP\s+DETACHED\s+PARTITION\s+" + _PARTITION_VALUE + r"\s*$",
        re.IGNORECASE,
    )
    _DROP_PARTITION_RE = re.compile(
        r"(DROP|DETACH|ATTACH)\s+PARTITION\s+" + _PARTITION_VALUE + r"\s*$",
        re.IGNORECASE,
    )
    # MergeTree maintenance family (round 11): data-skipping indices,
    # TTL, CLEAR COLUMN, FREEZE snapshots, PROJECTION refusal.
    _ALTER_PROJECTION_RE = re.compile(
        r"(?:ADD|DROP|MATERIALIZE|CLEAR)\s+PROJECTION\b", re.IGNORECASE
    )
    _ALTER_INDEX_RE = re.compile(
        r"(ADD|DROP|MATERIALIZE|CLEAR)\s+INDEX\s+"
        r"(?:IF\s+(?:NOT\s+)?EXISTS\s+)?[`\"]?(\w+)[`\"]?\s*(.*?)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _MATERIALIZE_TTL_RE = re.compile(r"MATERIALIZE\s+TTL\s*$", re.IGNORECASE)
    _MODIFY_ORDER_BY_RE = re.compile(
        r"MODIFY\s+ORDER\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|\S+)\s*$",
        re.IGNORECASE,
    )
    _ALTER_TTL_RE = re.compile(
        r"(?:(REMOVE)\s+TTL|MODIFY\s+TTL\s+(.+))\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_CLEAR_COLUMN_RE = re.compile(
        r"CLEAR\s+COLUMN\s+(?:IF\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?"
        r"(\s+IN\s+PARTITION\b.*)?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_FREEZE_RE = re.compile(
        r"FREEZE(?:\s+PARTITION\s+(?:ID\s+)?"
        r"(?:'((?:[^'\\]|\\.|'')*)'|((?:[^\s']|'[^']*')+?)))?"
        r"(?:\s+WITH\s+NAME\s+'((?:[^'\\]|\\.|'')+)')?\s*$",
        re.IGNORECASE,
    )
    _ALTER_UNFREEZE_RE = re.compile(
        r"UNFREEZE(?:\s+PARTITION\s+(?:ID\s+)?(?:[^\s']|'[^']*')+)?"
        r"\s+WITH\s+NAME\s+'((?:[^'\\]|\\.|'')+)'\s*$",
        re.IGNORECASE,
    )
    _ALTER_FETCH_RE = re.compile(r"FETCH\s+PARTITION\b", re.IGNORECASE)
    # CH `ALTER TABLE t UPDATE/DELETE ... IN PARTITION p WHERE c`:
    # restrict the mutation to one partition. Folded into the WHERE
    # as an ANDed partition-key predicate before the mutation
    # patterns match (the engine tracks PARTITION BY per table).
    _IN_PARTITION_RE = re.compile(
        r"(UPDATE\s+.+?|DELETE)\s+IN\s+PARTITION\s+(?:ID\s+)?"
        + _PARTITION_VALUE + r"\s+WHERE\s+(.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_DELETE_RE = re.compile(
        r"DELETE\s+WHERE\s+(.+)$", re.IGNORECASE | re.DOTALL
    )
    # Head only — the assignments/condition split is NOT a regex:
    # the first `.+?\s+WHERE` would split inside an assignment's
    # scalar subquery. The router finds the first paren-depth-0
    # WHERE on the masked text and slices the RAW statement at those
    # offsets (VERDICT r13 #2).
    _ALTER_UPDATE_RE = re.compile(r"UPDATE\s+", re.IGNORECASE)
    # terminal '([^']*)'$ — a doubled-quote comment fails LOUD
    _COMMENT_COLUMN_RE = re.compile(
        r"COMMENT\s+COLUMN\s+(IF\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?"
        r"\s+'([^']*)'\s*$",
        re.IGNORECASE,
    )
    _ALTER_SETTING_RE = re.compile(
        r"(?:MODIFY|RESET)\s+SETTING\s+.+$", re.IGNORECASE | re.DOTALL
    )
    _DROP_TRUNCATE_RE = re.compile(
        r"^\s*(DROP|TRUNCATE)\s+TABLE\s+(IF\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?" + _ON_CLUSTER + r"\s*$",
        re.IGNORECASE,
    )
    _CREATE_OR_REPLACE_RE = re.compile(
        r"^(\s*CREATE\s+)OR\s+REPLACE\s+(TABLE\s+[`\"]?(\w+))",
        re.IGNORECASE,
    )
    _CREATE_TABLE_HEAD_RE = re.compile(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?" + _ON_CLUSTER + r"\s*\(",
        re.IGNORECASE,
    )
    _CTAS_RE = re.compile(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?" + _ON_CLUSTER
        + r"(?:\s+ENGINE\s*=\s*\w+(?:\([^)]*\))?)?"
        r"(?:\s+PARTITION\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|\S+))?"
        r"(?:\s+ORDER\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|\S+(?:\s*\(\s*\))?))?"
        r"(?:\s+PRIMARY\s+KEY\s+(?:\((?:[^()]|\([^()]*\))*\)|\S+))?"
        r"\s+AS\s+(SELECT\b.+|WITH\b.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _CREATE_VIEW_RE = re.compile(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?" + _ON_CLUSTER
        + r"\s+AS\s+(SELECT\b.+|WITH\b.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_VIEW_RE = re.compile(
        r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?\s*$",
        re.IGNORECASE,
    )
    _RENAME_RE = re.compile(
        r"^\s*RENAME\s+TABLE\s+[`\"]?(\w+)[`\"]?\s+TO\s+[`\"]?(\w+)[`\"]?"
        + _ON_CLUSTER + r"\s*$",
        re.IGNORECASE,
    )
    _EXCHANGE_RE = re.compile(
        r"^\s*EXCHANGE\s+TABLES\s+[`\"]?(\w+)[`\"]?\s+AND\s+"
        r"[`\"]?(\w+)[`\"]?" + _ON_CLUSTER + r"\s*$",
        re.IGNORECASE,
    )
    # Dotted names allowed: EXISTS TABLE system.one answers through
    # the system-view twins (round-11 probe fix).
    _EXISTS_RE = re.compile(
        r"^\s*EXISTS\s+(?:TABLE\s+)?[`\"]?([\w.]+)[`\"]?\s*$",
        re.IGNORECASE,
    )
    # CH ATTACH TABLE — the reference's init-query workhorse
    # (workflow_query_executor_test.go:85 ATTACHes the shared
    # github_events web disk). Engine spelling: ATTACH ... FROM
    # '<path>' over parquet/csv/json/orc storage; the CH-native
    # MergeTree-part web-disk form is refused with guidance (that
    # format belongs to the delegated CH storage engine).
    _ATTACH_RE = re.compile(
        r"^\s*ATTACH\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?(?:\s+UUID\s+'[^']*')?"
        + _ON_CLUSTER + r"\s*(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _DETACH_RE = re.compile(
        r"^\s*DETACH\s+TABLE\s+(?:IF\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?"
        + _ON_CLUSTER + r"\s*(?:PERMANENTLY\s*)?$",
        re.IGNORECASE,
    )
    _UNDROP_RE = re.compile(
        r"^\s*UNDROP\s+TABLE\s+[`\"]?(\w+)[`\"]?" + _ON_CLUSTER + r"\s*$",
        re.IGNORECASE,
    )
    _ATTACH_FROM_RE = re.compile(
        # Schema group tolerates one nesting level of parens —
        # parameterized types (Decimal(10,2), DateTime64(3)) are
        # routine in CH DDL.
        r"^(?:\(((?:[^()]|\([^()]*\))*)\)\s*)?FROM\s+'([^']+)'"
        r"(?:\s+FORMAT\s+(\w+))?\s*(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _CREATE_TABLE_TAIL_RE = re.compile(
        r"^\s*(?:ENGINE\s*=\s*\w+(?:\([^)]*\))?)?"
        r"(?:\s+PARTITION\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|\S+))?"
        r"(?:\s+ORDER\s+BY\s+(\((?:[^()]|\([^()]*\))*\)|\S+))?"
        r"(?:\s+PRIMARY\s+KEY\s+(?:\((?:[^()]|\([^()]*\))*\)|\S+))?"
        r"(?:\s+SETTINGS\s+.*)?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    _CREATE_MV_RE = re.compile(
        r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?" + _ON_CLUSTER
        + r"(?:\s+ENGINE\s*=\s*\w+(?:\([^)]*\))?)?"
        r"(?:\s+ORDER\s+BY\s+(?:\([^)]*\)|\w+))?"
        r"(?:\s+(POPULATE))?\s+AS\s+(SELECT\b.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _OPTIMIZE_RE = re.compile(
        r"^\s*OPTIMIZE\s+TABLE\s+[`\"]?(\w+)[`\"]?" + _ON_CLUSTER
        + r"(?:\s+PARTITION\s+(?:ID\s+)?" + _PARTITION_VALUE + r")?"
        r"(?:\s+(FINAL))?(?:\s+(DEDUPLICATE))?\s*$",
        re.IGNORECASE,
    )
    _ANALYZE_RE = re.compile(
        r"^\s*ANALYZE\s+TABLE\s+[`\"]?(\w+)[`\"]?"
        r"(?:\s+COMPUTE\s+STATISTICS"
        r"(\s+FOR\s+ALL\s+COLUMNS|\s+FOR\s+COLUMNS\s+[\w,\s`]+|\s+NOSCAN)?"
        r")?\s*$",
        re.IGNORECASE,
    )
    # REVOKE and CREATE/ALTER/DROP USER/ROLE/...: access-control
    # statements the trust auth model refuses (``_refuse_access_ddl``).
    _ACCESS_DDL_RE = re.compile(
        r"^\s*(REVOKE\b|(?:CREATE|ALTER|DROP)\s+"
        r"(?:USER|ROLE|QUOTA|ROW\s+POLICY|SETTINGS\s+PROFILE)\b)",
        re.IGNORECASE,
    )

    # OPTIMIZE compaction target: CH merges parts toward
    # max_bytes_to_merge_at_max_space_in_pool; parquet's sweet spot is
    # ~128 MiB files (one HDFS/S3 ranged read per task).
    OPTIMIZE_TARGET_FILE_BYTES = 128 * 1024 * 1024

    @staticmethod
    def _raw_groups(m: "re.Match", raw: str) -> tuple:
        """Re-slice every group of a masked-text match from the RAW
        statement. The router mask preserves offsets, so a
        group whose content the mask blanked (a quoted partition id,
        an assignment expression holding a literal) is recovered
        intact by span — the r13 house pattern (locate masked,
        splice raw), extended to the statement routers."""
        return tuple(
            None if m.group(i) is None else raw[m.start(i):m.end(i)]
            for i in range(1, m.re.groups + 1)
        )

    @staticmethod
    def _split_assignment(part: str) -> tuple[str, str]:
        """One ``col = expr`` UPDATE assignment → ``(col, expr)``,
        split at the first ``=`` OUTSIDE quote/backtick spans — a
        backticked column name may itself contain ``=``
        (``UPDATE `a=b` = 5``), which the old first-raw-``=``
        partition split inside (round-14 ledger corner)."""
        i = mask(part).find("=")
        if i >= 0:
            return part[:i], part[i + 1:]
        raise ValueError(
            f"ALTER TABLE UPDATE: malformed assignment {part!r} "
            "(expected <column> = <expression>)"
        )

    @staticmethod
    def _unquote_partition_id(val: str | None) -> str | None:
        """Inner text of a quoted partition id → its VALUE: collapse
        CH's ``''`` quote-doubling and backslash escapes (both are
        valid CH literal spellings — ``PARTITION 'it''s'`` names the
        partition whose key is ``it's``). Only for groups consumed AS
        a value (directory lookups); groups spliced back into SQL
        keep their raw spelling, which the transpiler normalizes."""
        if val is None:
            return None
        return re.sub(
            r"''|\\(.)",
            lambda m: "'" if m.group(0) == "''" else m.group(1),
            val,
        )

    @staticmethod
    def _first_toplevel_where(masked: str, start: int) -> tuple | None:
        """Offsets ``(kw_start, kw_end)`` of the first WHERE keyword
        at paren-depth 0 in ``masked[start:]`` — the assignments /
        condition boundary of a mutation. Runs on masked text, so a
        WHERE inside a string literal is invisible; the depth guard
        skips a WHERE inside a parenthesized scalar subquery in the
        assignment list."""
        depth = 0
        for m in re.finditer(r"[()]|\bWHERE\b", masked[start:],
                             re.IGNORECASE):
            tok = m.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                return (start + m.start(), start + m.end())
        return None

    @staticmethod
    def _coerce_mutation_cond(cond: str) -> str:
        """CH truthy-coerces numeric mutation conditions — ``ALTER
        TABLE t UPDATE ... WHERE 1`` is the canonical all-rows
        spelling (CH requires a WHERE on every mutation). The
        condition is spliced into ``CASE WHEN (cond)`` / ``NOT
        (cond)`` where Spark's ANSI mode demands a boolean, so
        mirror the transpiler's SELECT-WHERE bare-integer-literal
        coercion (transpile.py ``_misc_seg``) here (VERDICT r13 #3)."""
        c = cond.strip()
        if re.fullmatch(r"\d+", c):
            return f"({c} <> 0)"
        return cond

    def _update_pairs(self, name: str, assigns: str,
                      columns) -> dict[str, str]:
        """Parse an ALTER UPDATE assignment list into {col: expr},
        validating every target against the table's columns — CH
        raises NO_SUCH_COLUMN_IN_TABLE for an unknown target, and so
        must we: the old build silently DROPPED unknown assignments
        and rewrote the table unchanged (round-14 probe, live)."""
        pairs: dict[str, str] = {}
        for part in split_top_level(assigns):
            col, expr = self._split_assignment(part)
            pairs[col.strip().strip('`"')] = expr.strip()
        known = set(columns)
        unknown = [c for c in pairs if c not in known]
        if unknown:
            raise ValueError(
                f"ALTER TABLE {name} UPDATE: no such column(s) "
                f"{unknown} in table (columns: {list(columns)})"
            )
        return pairs

    @staticmethod
    def _reorder_by_header(
        name: str, data: list, header: "list[str] | None", target
    ) -> list:
        """CH honors a WithNames header: columns map BY NAME
        (input_format_with_names_use_header=1, the default) — a
        positional skip would silently TRANSPOSE same-typed columns
        when the client's header order differs from the table's
        (round-14 probe). Unknown header names raise, like CH."""
        if header is None:
            return data
        want = [f.name for f in target.fields]
        if header == want:
            return data
        unknown = [h for h in header if h not in want]
        if unknown:
            raise ValueError(
                f"INSERT INTO {name}: header column(s) {unknown} "
                f"not in the insert target {want}"
            )
        missing = [w for w in want if w not in header]
        if missing:
            raise ValueError(
                f"INSERT INTO {name}: header omits column(s) "
                f"{missing} — list the insert columns explicitly "
                f"(INSERT INTO {name} (cols...) FORMAT ...) to fill "
                "defaults"
            )
        idx = [header.index(w) for w in want]
        return [tuple(rec[i] for i in idx) for rec in data]

    def _clear_column_sql(self, name: str, col: str) -> str:
        """Spark-SQL expression a CLEAR COLUMN resets ``col`` to —
        exactly the partial-INSERT fill expression (declared DEFAULT,
        else NULL for Nullable / the CH type default), one rendering
        for both surfaces."""
        field = self.spark.table(name).schema[col]
        return self._missing_col_default_sql(name, field)

    def _partition_match_col(self, df_all, pcol: str, part_val: str):
        """Filter Column selecting the rows of partition ``part_val``
        from the table frame. The default-partition spelling ('' or
        NULL) must match by IS NULL: Spark parses
        ``__HIVE_DEFAULT_PARTITION__`` back as a NULL key, and
        ``lit('NULL')`` would compare as the STRING 'NULL' — an
        empty match that would let a scoped rewrite replace the
        default partition with nothing (review-found, round 14)."""
        from pyspark.sql import functions as F

        if self._escape_partition_value(part_val) \
                == self._HIVE_DEFAULT_PARTITION:
            return F.col(pcol).isNull()
        ptype = df_all.schema[pcol].dataType
        return F.col(pcol).eqNullSafe(F.lit(part_val).cast(ptype))

    def _clear_column_in_partition(
        self, name: str, col: str, in_part: str,
    ) -> _Logged:
        """``ALTER TABLE t CLEAR COLUMN c IN PARTITION p`` — reset
        one column to its default in ONE partition, rewriting only
        that partition's directory (CH bounds the mutation the same
        way; previously a guided refusal)."""
        import os

        from pyspark.sql import functions as F

        m_ip = re.match(
            r"\s*IN\s+PARTITION\s+(?:ID\s+)?"
            r"(?:'((?:[^'\\]|\\.|'')*)'|(\S+))\s*$",
            in_part, re.IGNORECASE,
        )
        if not m_ip:
            raise ValueError(
                f"CLEAR COLUMN {col} IN PARTITION: malformed "
                "partition clause (expected IN PARTITION '<id>')"
            )
        part_val = (
            self._unquote_partition_id(m_ip.group(1))
            if m_ip.group(1) is not None else m_ip.group(2)
        )
        pcol = self._partition_col_or_raise(
            name, "CLEAR COLUMN ... IN PARTITION"
        )
        if col == pcol:
            raise ValueError(
                f"CLEAR COLUMN {col}: cannot clear the partition "
                "key column"
            )
        path, fmt, schema = self._attached[name]
        local = path[7:] if path.startswith("file://") else path
        subdir = os.path.join(
            local, f"{pcol}={self._escape_partition_value(part_val)}"
        )
        if not os.path.isdir(subdir):
            raise ValueError(
                f"CLEAR COLUMN {col} IN PARTITION {part_val!r}: no "
                "such partition"
            )
        df_all = self.spark.table(name)
        clear_sql = self._clear_column_sql(name, col)
        file_cols = [c for c in df_all.columns if c != pcol]
        out = df_all.filter(
            self._partition_match_col(df_all, pcol, part_val)
        ).select(*[
            F.expr(clear_sql).cast(df_all.schema[c].dataType)
            .alias(c) if c == col else F.col(c)
            for c in file_cols
        ])
        path = self._write_swap(name, subdir, out, "clrp")
        self._record_mutation(
            name,
            f"CLEAR COLUMN {col} IN PARTITION {part_val!r}",
        )
        return _Logged(
            QueryResult(cols=["path"], rows=[[path]]),
            "<clear-column-partition>", -1,
        )

    def _mutation_in_partition(
        self, name: str, head: str, pq: str | None, praw: str | None,
        cond: str, masked_head: str,
    ) -> _Logged | None:
        """``ALTER TABLE t UPDATE/DELETE ... IN PARTITION p WHERE c``
        bounded to ONE partition directory — ClickHouse rewrites only
        the named partition's parts, and at 100 TB so must we: the
        fold-into-WHERE fallback rewrites the WHOLE table to mutate
        one partition. Returns None to fall back to the fold (table
        not attached / not single-column-partitioned / partition
        directory absent — the fold reproduces today's guided errors,
        and a malformed partition id fails loudly in analysis instead
        of silently no-opping here)."""
        import os
        import uuid

        if name not in self._attached:
            return None
        pcols = self._partitioned.get(name) or []
        if len(pcols) != 1:
            return None
        pcol = pcols[0]
        path, fmt, schema = self._attached[name]
        local = path[7:] if path.startswith("file://") else path
        part_val = (
            self._unquote_partition_id(pq) if pq is not None else praw
        )
        subdir = os.path.join(
            local, f"{pcol}={self._escape_partition_value(part_val)}"
        )
        if not os.path.isdir(subdir):
            return None
        # Verb detection via the ANCHORED update-head match FIRST —
        # an ends-with-DELETE check alone would misroute `UPDATE
        # flag = delete` (a column named delete as the last
        # assignment token) into the DELETE path and wipe the
        # partition (review-found, round 14). Only a head that does
        # NOT parse as UPDATE may be the DELETE form.
        m_h = self._ALTER_UPDATE_RE.match(
            masked_head, self._ALTER_HEAD_RE.match(masked_head).end()
        )
        if m_h is not None:
            is_delete = False
            assigns = head[m_h.end():].strip()
        elif re.search(r"\bDELETE\s*$", masked_head, re.IGNORECASE):
            is_delete = True
            assigns = ""
        else:
            return None
        from pyspark.sql import functions as F

        # Read through the TABLE view with a partition-key filter —
        # partition pruning bounds the scan to the one directory
        # (PartitionFilters), and the view carries the attach-time
        # format/schema options, so non-parquet attached tables read
        # correctly too (a raw format().load(subdir) would not). The
        # partition key arrives as a real column, so assignments and
        # conditions may reference it directly (it cannot change:
        # key-column UPDATEs are refused).
        df_all = self.spark.table(name)
        file_cols = [c for c in df_all.columns if c != pcol]
        df = df_all.filter(
            self._partition_match_col(df_all, pcol, part_val)
        )
        pairs: dict[str, str] = {}
        if not is_delete:
            pairs = self._update_pairs(name, assigns, df.columns)
            if pcol in pairs:
                raise ValueError(
                    f"ALTER TABLE {name} UPDATE: cannot UPDATE "
                    f"partition key column `{pcol}` (ClickHouse "
                    "refuses key-column mutations; INSERT the rows "
                    "into their new partition and DELETE them from "
                    "this one instead)"
                )
        cond = self._coerce_mutation_cond(cond)
        view = f"__bh_mutp_{uuid.uuid4().hex}"
        create_view(self._stmt_session, df, view)
        if is_delete:
            sel = self._transpile(f"SELECT * FROM {view} WHERE NOT ({cond})")
        else:
            items = [
                f"CASE WHEN ({cond}) THEN ({pairs[c]}) "
                f"ELSE `{c}` END AS `{c}`" if c in pairs
                else f"`{c}`"
                for c in df.columns
            ]
            sel = self._transpile(f"SELECT {', '.join(items)} FROM {view}")
        # files in the directory never carry the partition key —
        # project back to the file schema before the swap
        out = self._sql(sel.sql).select(*file_cols)
        path = self._write_swap(name, subdir, out, "mutp")
        self._record_mutation(
            name,
            ("DELETE" if is_delete else f"UPDATE {assigns}")
            + f" IN PARTITION {part_val!r} WHERE {cond}",
        )
        return _Logged(QueryResult(cols=["path"], rows=[[path]]), sel.sql, -1)

    def _partition_from(
        self, stmt_table: str, verb: str, partition_val: str, other: str,
    ) -> _Logged:
        """Cross-table partition management (CH backfill pattern):
        ``ATTACH/REPLACE PARTITION p FROM src`` copy src's partition
        directory into the statement table (REPLACE clears the
        destination partition first); ``MOVE PARTITION p TO TABLE
        dst`` copies then removes the source directory. All three are
        bounded to ONE partition directory — no table rewrite, which
        is the point at 100 TB (CH bounds them the same way)."""
        import os
        import shutil
        import uuid

        if verb == "MOVE":
            src, dst = stmt_table, other
        else:
            src, dst = other, stmt_table
        if src == dst:
            # REPLACE would rmtree the partition and then copy from
            # the now-empty directory (silent data loss); MOVE would
            # copy-then-delete itself. Refuse like CH refuses
            # self-referential partition manipulation.
            raise ValueError(
                f"{verb} PARTITION: source and destination are the "
                f"same table ({src}) — a self-referential partition "
                "swap has no effect worth destroying data over"
            )
        src_local = self._attached_path_or_raise(
            src, f"ALTER TABLE ... {verb} PARTITION"
        )
        dst_local = self._attached_path_or_raise(
            dst, f"ALTER TABLE ... {verb} PARTITION"
        )
        scol = self._partition_col_or_raise(
            src, f"{verb} PARTITION (source {src})"
        )
        dcol = self._partition_col_or_raise(
            dst, f"{verb} PARTITION (destination {dst})"
        )
        if scol != dcol:
            raise ValueError(
                f"{verb} PARTITION: partition keys differ "
                f"({src} by {scol}, {dst} by {dcol}) — CH requires "
                "the same partition key on both tables"
            )
        s_schema = sorted(
            (f.name, f.dataType.simpleString())
            for f in self.spark.table(src).schema.fields
        )
        d_schema = sorted(
            (f.name, f.dataType.simpleString())
            for f in self.spark.table(dst).schema.fields
        )
        if s_schema != d_schema:
            raise ValueError(
                f"{verb} PARTITION: {src} and {dst} have different "
                "structures — CH requires identical columns"
            )
        dir_val = self._escape_partition_value(partition_val)
        src_dir = os.path.join(src_local, f"{scol}={dir_val}")
        if not os.path.isdir(src_dir):
            raise ValueError(
                f"{verb} PARTITION {partition_val!r}: no such "
                f"partition on {src} (expected directory "
                f"{scol}={dir_val})"
            )
        dst_dir = os.path.join(dst_local, f"{dcol}={dir_val}")
        self._commit()
        if verb == "REPLACE" and os.path.isdir(dst_dir):
            shutil.rmtree(dst_dir)
        os.makedirs(dst_dir, exist_ok=True)
        copied = 0
        for root, _dirs, files in os.walk(src_dir):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                s = os.path.join(root, f)
                d = os.path.join(dst_dir, f)
                if os.path.exists(d):
                    d = os.path.join(
                        dst_dir, f"sw{uuid.uuid4().hex[:8]}-{f}"
                    )
                try:
                    os.link(s, d)  # same-filesystem: no data copy
                except OSError:
                    shutil.copy2(s, d)
                copied += 1
        if verb == "MOVE":
            shutil.rmtree(src_dir)
        self.clear_cache()
        for nm in {src, dst}:
            path, fmt, schema = self._attached[nm]
            self.attach_table(nm, path, fmt=fmt, schema=schema)
        # data changed under these tables — rebuild dependent MVs
        # (same posture as mutations: safe direction vs CH's silent
        # non-propagation)
        for nm in {dst} | ({src} if verb == "MOVE" else set()):
            self._refresh_dependent_mvs(nm, rebuild=True)
        return _Logged(
            QueryResult(
                cols=["source", "destination", "partition", "files"],
                rows=[[src, dst, partition_val, copied]],
            ),
            f"<{verb.lower()} partition>", copied,
        )

    def _record_mutation(self, table: str, command: str) -> None:
        """Append a ``system.mutations`` row. Mutations here run
        synchronously (whole-part rewrite inside execute), so every
        recorded row reads is_done=1 — the flag CH clients poll."""
        import datetime

        self._mutations.append((
            table,
            f"mutation_{len(self._mutations) + 1}.txt",
            command,
            datetime.datetime.now(),
        ))

    def _attached_path_or_raise(self, name: str, op: str) -> str:
        if name not in self._attached:
            raise ValueError(
                f"{op} {name}: not an attached table — mutations "
                "rewrite the backing storage, so the table must come "
                "from attach_table()/ATTACH"
            )
        path = self._attached[name][0]
        local = path[7:] if path.startswith("file://") else path
        if "://" in local:
            raise ValueError(
                f"{op} {name}: storage rewrite is implemented for "
                "local paths; for object storage run the SELECT "
                "yourself and INSERT INTO FUNCTION s3(...) a new "
                "prefix, then re-ATTACH"
            )
        return local

    @staticmethod
    def _parse_partition_by(spec: str, available: list[str]) -> list[str]:
        """CH ``PARTITION BY`` clause → list of stored column names.
        Supports a bare column, ``(a, b)``, and ``tuple(a, b)``.
        Expression keys (``toYYYYMM(d)``) are refused loudly — CH
        stores the expression result in part metadata; here partition
        values must be stored columns so Spark's directory layout and
        partition pruning line up with the declared schema. (The
        idiomatic port of ``PARTITION BY toYYYYMM(d)`` is a
        materialized month column.)"""
        s = spec.strip()
        m_tuple = re.fullmatch(r"tuple\s*\((.*)\)", s, re.IGNORECASE)
        if m_tuple:
            s = m_tuple.group(1)
        elif s.startswith("(") and s.endswith(")"):
            s = s[1:-1]
        cols = [c.strip().strip('`"') for c in s.split(",") if c.strip()]
        avail = {a.lower(): a for a in available}
        out = []
        for c in cols:
            if not re.fullmatch(r"\w+", c) or c.lower() not in avail:
                raise ValueError(
                    f"PARTITION BY {spec}: partition keys must be "
                    "stored columns (materialize an expression key as "
                    "a column first)"
                )
            out.append(avail[c.lower()])
        return out

    @staticmethod
    def _parse_order_by(spec: str, available: list[str]) -> list[str] | None:
        """CH ``ORDER BY`` clause → plain stored columns, or None
        when the key contains expressions / ``tuple()`` (accepted and
        dropped: in-file order is a pruning optimization, and CH users
        routinely order by expressions we cannot sort files by)."""
        s = spec.strip()
        m_tuple = re.fullmatch(r"tuple\s*\((.*)\)", s, re.IGNORECASE)
        if m_tuple:
            s = m_tuple.group(1)
        elif s.startswith("(") and s.endswith(")"):
            s = s[1:-1]
        cols = [c.strip().strip('`"') for c in s.split(",") if c.strip()]
        avail = {a.lower(): a for a in available}
        out = []
        for c in cols:
            if not re.fullmatch(r"\w+", c) or c.lower() not in avail:
                return None
            out.append(avail[c.lower()])
        return out or None

    @staticmethod
    def _type_default_sql(dt) -> str:
        """CH's type default as a SQL literal (CLEAR COLUMN resets to
        it): 0 for numerics, '' for strings, epoch for dates, empty
        containers; NULL where CH has no Spark-expressible default."""
        from pyspark.sql import types as T

        s = dt.simpleString()
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.FloatType, T.DoubleType,
                           T.DecimalType)):
            return f"CAST(0 AS {s})"
        if isinstance(dt, T.StringType):
            return "''"
        if isinstance(dt, T.BooleanType):
            return "false"
        if isinstance(dt, T.DateType):
            return "DATE '1970-01-01'"
        if isinstance(dt, T.TimestampType):
            return "TIMESTAMP '1970-01-01 00:00:00'"
        if isinstance(dt, T.ArrayType):
            return f"CAST(array() AS {s})"
        if isinstance(dt, T.MapType):
            return f"CAST(map() AS {s})"
        return f"CAST(NULL AS {s})"

    def _freeze_attached(
        self, name: str, snap: str | None, partition_val: str | None = None,
    ) -> _Logged:
        """``ALTER TABLE ... FREEZE [PARTITION p] [WITH NAME 'x']`` —
        CH's local part snapshot: hardlink every data file into a
        sibling ``<dir>.shadow/<name-or-increment>/`` tree (no data
        copied; falls back to a real copy across filesystems).
        ``PARTITION p`` bounds the snapshot to ONE partition
        directory (CH semantics). The shadow lives OUTSIDE the table
        directory so partition discovery never mistakes it for
        data."""
        import os
        import shutil

        table_root = self._attached_path_or_raise(
            name, "ALTER TABLE FREEZE"
        )
        walk_root = table_root
        if partition_val is not None:
            pcol = self._partition_col_or_raise(
                name, "ALTER TABLE ... FREEZE PARTITION"
            )
            sub = f"{pcol}={self._escape_partition_value(partition_val)}"
            if not os.path.isdir(os.path.join(table_root, sub)):
                raise ValueError(
                    f"FREEZE PARTITION {partition_val!r}: no such "
                    f"partition on {name} (expected directory {sub})"
                )
            # walk only the partition dir, but keep the shadow tree
            # rooted OUTSIDE the table directory (a `k=1.shadow` dir
            # inside it would poison partition discovery) and keep
            # the k=v layer in the snapshot's relative layout
            walk_root = os.path.join(table_root, sub)
        local = table_root
        base = f"{local.rstrip('/')}.shadow"
        if snap is not None:
            self._check_snapshot_name(snap)
        if snap is None:
            n = 1
            while os.path.exists(os.path.join(base, str(n))):
                n += 1
            snap = str(n)
        dest = os.path.join(base, snap)
        if os.path.exists(dest):
            raise ValueError(f"FREEZE: snapshot {snap!r} exists")
        linked = 0
        for root, _dirs, files in os.walk(walk_root):
            rel = os.path.relpath(root, local)
            for f in files:
                if f.startswith("."):
                    continue
                src = os.path.join(root, f)
                dst_dir = (
                    dest if rel == "." else os.path.join(dest, rel)
                )
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(dst_dir, f)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
                linked += 1
        return _Logged(
            QueryResult(cols=["shadow_path", "files"], rows=[[dest, linked]]),
            "<freeze>", linked,
        )

    def _table_writer(self, df, name: str, fmt: str, mode: str,
                      *, partition_in_path: bool = False):
        """A DataFrameWriter honoring the table's declared PARTITION
        BY layout, ORDER BY in-file sort, and bloom-family skip
        indices — every write path goes through here so partition
        directories, MergeTree-style min/max-prunable file order,
        and column-chunk blooms survive INSERTs, mutations, and
        OPTIMIZE."""
        ocols = self._ordered.get(name)
        if ocols and partition_in_path:
            # a partition-scoped rewrite's frame lacks the partition
            # column (it lives in the directory name) — it is
            # CONSTANT within the directory, so sorting by the
            # remaining key columns preserves the declared order
            # (before round 14 the all-present guard below silently
            # skipped the sort entirely for ORDER BY keys that
            # include the partition column)
            sub = [c for c in ocols if c in df.columns]
            if sub:
                df = df.sortWithinPartitions(*sub)
        elif ocols and all(c in df.columns for c in ocols):
            df = df.sortWithinPartitions(*ocols)
        writer = df.write.format(fmt).mode(mode)
        if fmt == "parquet":
            for _iname, (col, ityp) in self._skip_indices.get(
                name, {}
            ).items():
                if ityp in (
                    "bloom_filter", "tokenbf_v1", "ngrambf_v1"
                ) and col in df.columns:
                    # the dictionary is disabled for bloom columns:
                    # parquet-mr omits blooms for fully
                    # dictionary-encoded chunks, and a declared bloom
                    # index targets high-cardinality point lookups
                    # where dictionaries fall back to plain anyway
                    writer = writer.option(
                        f"parquet.bloom.filter.enabled#{col}", "true"
                    ).option(
                        f"parquet.enable.dictionary#{col}", "false"
                    )
        pcols = self._partitioned.get(name)
        # A partition-scoped rewrite hands in a df WITHOUT the
        # partition column (it lives in the directory name) and says
        # so EXPLICITLY via partition_in_path — every other write
        # path must fail loudly on a missing partition column rather
        # than silently landing an unpartitioned layout inside a
        # partitioned table root (ADVICE r13).
        if pcols and not partition_in_path:
            writer = writer.partitionBy(*pcols)
        return writer

    def _refresh_dependent_mvs(self, name: str, rebuild: bool) -> None:
        """Refresh the MVs over ``name``: an INSERT folds in its new
        files. A rewrite (``rebuild``) renames every backing file,
        which would make the next incremental refresh re-fold old rows
        as "new" (double counting), so every rewrite tail (whole-table
        and partition-scoped mutations, compaction, partition swaps)
        rebuilds dependent MVs from the post-rewrite table instead —
        diverges from CH (where mutations silently don't propagate) in
        the safe direction."""
        import shutil

        for mv_name, mv in list(self._mviews.items()):
            if mv["source"] == name:
                with mv["lock"]:
                    if rebuild:
                        shutil.rmtree(mv["checkpoint"], ignore_errors=True)
                        shutil.rmtree(mv["data"], ignore_errors=True)
                    self._refresh_mv(mv_name)

    @staticmethod
    def _check_snapshot_name(snap: str) -> None:
        """FREEZE/UNFREEZE snapshot names become directories under
        the shadow root (UNFREEZE rmtrees the joined path) — path
        separators would escape it."""
        import os

        if (os.sep in snap or snap in (".", "..")
                or (os.altsep and os.altsep in snap)):
            raise ValueError(
                f"snapshot name {snap!r}: snapshot names cannot "
                "contain path separators"
            )

    def _write_swap(
        self, name: str, subdir: str | None, out, tag: str
    ) -> str:
        """Shared tail of every rewrite (mutation, CLEAR COLUMN,
        compaction, TRUNCATE): write ``out`` to a temp SIBLING of the
        table root (a failed write must never leave a ``k=1.<tag>-xx``
        dir that partition discovery parses as a bogus partition
        value), swap it into partition dir ``subdir`` or, when None,
        the whole table and re-attach, under the table's write lock,
        then rebuild dependent MVs. Returns the table path."""
        import shutil
        import uuid

        path, fmt, schema = self._attached[name]
        local = path[7:] if path.startswith("file://") else path
        tmp = f"{local}.{tag}-{uuid.uuid4().hex[:8]}"
        with self._write_lock(name):
            try:
                self._table_writer(
                    out, name, fmt, "overwrite",
                    partition_in_path=bool(subdir),
                ).save(tmp)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            self._commit()
            self._swap_in(subdir or local, tmp, local,
                          preserve_detached=not subdir)
            self.clear_cache()
            self.attach_table(name, path, fmt=fmt, schema=schema)
        self._refresh_dependent_mvs(name, rebuild=True)
        return path

    @staticmethod
    def _swap_in(live: str, tmp: str, old_base: str, *,
                 preserve_detached: bool = False) -> None:
        """Replace directory ``live`` with ``tmp``: rename-swap, then
        delete the old tree. ``old_base`` anchors the transient
        ``.old-<hex>`` sibling and must live OUTSIDE any table root —
        Spark partition discovery would parse a leftover
        ``k=1.old-ab12`` inside the root as a bogus partition value.
        With ``preserve_detached``, the .detached parked partitions
        (DETACH PARTITION) are carried over to the new tree first —
        CH keeps detached/ through merges and mutations; before
        round 14 the swap silently DESTROYED them on every
        whole-table mutation, TRUNCATE, and OPTIMIZE (probe-found,
        live)."""
        import os
        import shutil
        import uuid

        old = f"{old_base}.old-{uuid.uuid4().hex[:8]}"
        shutil.move(live, old)
        shutil.move(tmp, live)
        if preserve_detached:
            parked = os.path.join(old, ".detached")
            if os.path.isdir(parked):
                shutil.move(parked, os.path.join(live, ".detached"))
        shutil.rmtree(old)

    def _rewrite_attached(self, name: str, df, label: str) -> _Logged:
        """Materialize ``df`` as the new contents of an attached
        table: write to a sibling temp dir, swap directories, then
        re-attach. Like CH mutations, this is a whole-part rewrite
        and is NOT atomic against concurrent readers of the same
        files — single-writer semantics."""
        path = self._write_swap(name, None, df, "mutating")
        return _Logged(QueryResult(cols=["path"], rows=[[path]]), label, -1)

    def _discard_if_null(self, name: str) -> None:
        """ENGINE = Null: after dependent MVs folded the new files,
        reset the table to empty (schema-preserving overwrite). The MV
        checkpoints already recorded the discarded files as processed,
        so nothing double-counts."""
        if name not in self._null_tables:
            return
        path, fmt, schema = self._attached[name]
        target = self.spark.table(name).schema
        self._table_writer(
            self.spark.createDataFrame([], target), name, fmt,
            "overwrite",
        ).save(path)
        self.clear_cache()
        self.attach_table(name, path, fmt=fmt, schema=schema)

    def _append_aligned(self, aligned, name: str, desc: str) -> _Logged:
        """Shared tail of every INSERT path: append-write the aligned
        rows to the attached storage, refresh caches/MVs (CH MV
        semantics: an INSERT into the source table triggers the view's
        incremental refresh, which reads only the new files)."""
        path, fmt, schema = self._attached[name]
        with self._write_lock(name):
            self._table_writer(aligned, name, fmt, "append").save(path)
            self._commit()
            self.clear_cache()
            self.attach_table(name, path, fmt=fmt, schema=schema)
        self._refresh_dependent_mvs(name, rebuild=False)
        self._discard_if_null(name)
        return _Logged(QueryResult(cols=["path"], rows=[[path]]), desc, -1)

    def _write_lock(self, name: str) -> threading.Lock:
        """The write lock of attached table ``name``, held from the
        save through the re-attach. Two unlocked appends share the
        output committer's ``<table>/_temporary/0`` directory, so one
        job's commit deleted the other's task files: failed INSERTs,
        or rows lost with no error. MV refreshes run after it is
        released, so no MV lock is ever held with it."""
        return self._write_locks.setdefault(name, threading.Lock())

    def _declared_ch_types(self, name: str, target) -> dict[str, str]:
        """Column → CH type spelling for binary payload decode: the
        DECLARED DDL types when the attach stored a CH schema string
        (a client encodes per the DDL — `a Int64` has no null flags
        even though the parquet field is Spark-nullable), falling
        back to non-nullable schema-derived spellings."""
        from bighouse_spark.formats import ch_type_name

        _, _, ch_schema = self._attached[name]
        out: dict[str, str] = {}
        if ch_schema:
            for f in split_top_level(ch_schema):
                nm, _, tp = f.strip().partition(" ")
                if tp:
                    out[nm.strip('`"')] = tp.strip()
        for f in target.fields:
            out.setdefault(
                f.name, ch_type_name(f.dataType, nullable=False)
            )
        return out

    def _append_by_name(
        self, name: str, target, cols: list[str], rows: list[list],
        desc: str,
    ) -> _Logged:
        """Align decoded (cols, rows) to the target schema by NAME —
        columns absent from the payload become NULL (CH fills
        defaults there) — then cast-coerce and append. The DataFrame
        is built with INFERRED types so a String payload column can
        still cast into an Int64 target (CH coerces on insert)."""
        from pyspark.sql import functions as F

        idx = {c: i for i, c in enumerate(cols)}
        field_names = [f.name for f in target.fields]
        unknown = [c for c in cols if c not in field_names]
        if unknown:
            raise ValueError(
                f"INSERT INTO {name}: payload columns {unknown} do "
                "not exist in the table"
            )
        if not rows:
            return self._append_aligned(
                self.spark.createDataFrame([], target), name, desc
            )
        present = [f.name for f in target.fields if f.name in idx]
        tuples = [
            tuple(r[idx[f]] for f in present) for r in rows
        ]
        try:
            # Inferred types so a String payload column cast-coerces
            # into an Int64 target (CH coerces on insert)...
            df = self.spark.createDataFrame(tuples, present)
        except Exception:
            # ...falling back to the target's declared types when
            # inference can't decide (e.g. an all-NULL column).
            from pyspark.sql.types import StructField, StructType

            df = self.spark.createDataFrame(
                tuples,
                StructType([
                    StructField(f.name, f.dataType, True)
                    for f in target.fields if f.name in idx
                ]),
            )
        aligned = df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in idx
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.fields
            ]
        )
        return self._append_aligned(aligned, name, desc)

    def insert_native(self, name: str, payload: bytes) -> QueryResult:
        """``INSERT INTO <attached> FORMAT Native`` with a binary
        columnar-block payload (clickhouse-connect's write path).
        Blocks self-describe names and types; columns align BY NAME,
        with absent columns inserted as NULL."""
        from bighouse_spark.formats import parse_native

        def run(_stmt) -> _Logged:
            if name not in self._attached:
                raise ValueError(
                    f"INSERT INTO {name}: not an attached table"
                )
            target = self.spark.table(name).schema
            cols, _types, rows = parse_native(payload)
            return self._append_by_name(
                name, target, cols, rows, "<insert native>"
            )

        return self._run(
            f"INSERT INTO {name} FORMAT Native <binary>", run, "Insert"
        )

    def insert_rowbinary(
        self,
        name: str,
        payload: bytes,
        named: bool = False,
        with_names: bool = False,
        columns: list[str] | None = None,
    ) -> QueryResult:
        """``INSERT INTO <attached> [(cols)] FORMAT RowBinary`` with a
        BINARY payload (the scripting write path — text INSERT formats
        ride ``execute``; binary bytes cannot survive the query-string
        decode). Plain RowBinary decodes positionally against the
        DECLARED types of the listed columns (the whole table when no
        list); ``with_names`` (RowBinaryWithNames) reads the name
        header and types each column from the schema; ``named``
        (RowBinaryWithNamesAndTypes) decodes per its own header.
        All variants align BY NAME; unlisted columns become NULL."""
        from bighouse_spark.formats import (
            parse_rowbinary,
            parse_rowbinary_with_names_and_types,
            read_rowbinary_names,
        )

        def run(_stmt) -> _Logged:
            if name not in self._attached:
                raise ValueError(
                    f"INSERT INTO {name}: not an attached table"
                )
            target = self.spark.table(name).schema
            type_of = self._declared_ch_types(name, target)
            if named:
                cols, _types, rows = parse_rowbinary_with_names_and_types(
                    payload
                )
                fmt_desc = "rowbinarywithnamesandtypes"
            elif with_names:
                cols, pos = read_rowbinary_names(payload)
                missing = [c for c in cols if c not in type_of]
                if missing:
                    raise ValueError(
                        f"INSERT INTO {name}: unknown columns {missing}"
                    )
                rows = parse_rowbinary(
                    payload[pos:], [type_of[c] for c in cols]
                )
                fmt_desc = "rowbinarywithnames"
            else:
                cols = columns or [f.name for f in target.fields]
                missing = [c for c in cols if c not in type_of]
                if missing:
                    raise ValueError(
                        f"INSERT INTO {name}: unknown columns {missing}"
                    )
                rows = parse_rowbinary(
                    payload, [type_of[c] for c in cols]
                )
                fmt_desc = "rowbinary"
            return self._append_by_name(
                name, target, cols, rows, f"<insert {fmt_desc}>"
            )

        return self._run(
            f"INSERT INTO {name} FORMAT RowBinary <binary>", run, "Insert"
        )

    def insert_header(
        self, name: str, columns: list[str] | None = None
    ) -> tuple[list[str], list[str]]:
        """(cols, declared CH types) for a client-streamed INSERT —
        the native TCP protocol's sample block: the structure the
        client encodes its Data blocks against (reference clients
        learn it this way, ``workflow_query_executor.go:222-235``)."""
        if name not in self._attached:
            raise ValueError(
                f"INSERT INTO {name}: not an attached table — call "
                "attach_table()/ATTACH first"
            )
        target = self.spark.table(name).schema
        type_of = self._declared_ch_types(name, target)
        cols = columns or [f.name for f in target.fields]
        missing = [c for c in cols if c not in type_of]
        if missing:
            raise ValueError(
                f"INSERT INTO {name}: unknown columns {missing}"
            )
        return cols, [type_of[c] for c in cols]

    def insert_decoded(
        self, name: str, cols: list[str], rows: list[list]
    ) -> QueryResult:
        """Append already-decoded (cols, rows) — the native TCP wire's
        INSERT tail (blocks are decoded stream-side in ``chwire``);
        same by-name alignment/coercion as every payload-INSERT."""

        def run(_stmt) -> _Logged:
            if name not in self._attached:
                raise ValueError(
                    f"INSERT INTO {name}: not an attached table"
                )
            target = self.spark.table(name).schema
            return self._append_by_name(
                name, target, cols, rows, "<insert native tcp>"
            )

        return self._run(
            f"INSERT INTO {name} FORMAT Native <tcp>", run, "Insert"
        )

    @staticmethod
    def _select_alias_map(sql: str) -> dict[str, str]:
        """Top-level select-list aliases of ``sql`` → their
        expressions (quote/paren-aware split between SELECT and the
        top-level FROM/end). Used by the WHERE-alias fallback."""
        m = re.match(r"\s*SELECT\s+(?:DISTINCT\s+)?", sql, re.IGNORECASE)
        if not m:
            return {}
        masked = mask(sql)
        end = len(sql)
        depth, start, items = 0, m.end(), []
        for t in _SELECT_LIST_SCAN.finditer(masked, m.end()):
            c = t.group()
            if c in "([":
                depth += 1
            elif c in ")]":
                depth -= 1
            elif depth == 0:
                if c != ",":  # the top-level FROM
                    end = t.start()
                    break
                items.append(sql[start:t.start()])
                start = t.end()
        items.append(sql[start:end])
        out: dict[str, str] = {}
        for item in items:
            am = re.search(r"\s+AS\s+[`\"]?(\w+)[`\"]?\s*$", item,
                           re.IGNORECASE)
            if am:
                out[am.group(1)] = item[: am.start()].strip()
        return out

    def _sql_with_alias_fallback(
        self, sql: str, spark: SparkSession | None = None,
    ):
        """``spark.sql`` with ClickHouse's alias-in-WHERE semantics:
        CH resolves select-list aliases inside WHERE (a day-one
        migration idiom: ``SELECT f(x) AS s ... WHERE s LIKE ...``);
        Spark only resolves them in GROUP BY/HAVING/ORDER BY. On an
        UNRESOLVED_COLUMN whose name is a select alias, substitute
        the alias expression into the WHERE clause and retry — only
        names Spark itself could not resolve are substituted, so a
        real source column always wins (no shadowing).

        The substitution is quote-masked and scope-restricted: alias
        occurrences are located on a ``mask`` copy of
        the statement (a ``WHERE s LIKE 's%'`` literal keeps its
        spelling), only the OUTER query's WHERE clause is touched
        (the first WHERE at paren depth 0, up to the next top-level
        clause keyword), and only depth-0 occurrences inside it are
        rewritten — a correlated subquery whose own column shares
        the alias name is left for Spark to re-report."""
        from pyspark.errors import AnalysisException

        _CLAUSE_END = re.compile(
            r"\b(GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|"
            r"OFFSET|FETCH|UNION|EXCEPT|INTERSECT|DISTRIBUTE\s+BY|"
            r"SORT\s+BY|CLUSTER\s+BY)\b",
            re.IGNORECASE,
        )

        current = sql
        for _ in range(8):
            try:
                return self._sql(current, spark)
            except AnalysisException as e:
                msg = str(e)
                nm = re.search(
                    r"UNRESOLVED_COLUMN[^`]*`([\w.]+)`", msg
                )
                if not nm:
                    raise
                name = nm.group(1)
                # offsets align: the mask blanks literal CONTENT only
                masked = mask(current)
                # alias map of the OUTER select: skip a leading WITH
                # clause (CTE bodies are depth>0) to the first
                # top-level SELECT
                sel_start, depth = 0, 0
                for cand in re.finditer(r"[()]|\bSELECT\b", masked,
                                        re.IGNORECASE):
                    tok = cand.group(0)
                    if tok == "(":
                        depth += 1
                    elif tok == ")":
                        depth -= 1
                    elif depth == 0:
                        sel_start = cand.start()
                        break
                aliases = self._select_alias_map(current[sel_start:])
                expr = aliases.get(name)
                if expr is None or f"({expr})" in current:
                    raise
                m_where = None
                depth = 0
                for cand in re.finditer(r"[()]|\bWHERE\b", masked,
                                        re.IGNORECASE):
                    tok = cand.group(0)
                    if tok == "(":
                        depth += 1
                    elif tok == ")":
                        depth -= 1
                    elif depth == 0:
                        m_where = cand
                        break
                if m_where is None:
                    raise
                w_end = m_where.end()
                # clause end: next top-level keyword after the WHERE
                c_end = len(current)
                depth = 0
                for cand in re.finditer(
                    r"[()]|" + _CLAUSE_END.pattern, masked[w_end:],
                    re.IGNORECASE,
                ):
                    tok = cand.group(0)
                    if tok == "(":
                        depth += 1
                    elif tok == ")":
                        depth -= 1
                    elif depth == 0:
                        c_end = w_end + cand.start()
                        break
                tail_masked = masked[w_end:c_end]
                tail_src = current[w_end:c_end]
                # nested-SELECT spans in the clause: a name in there
                # is the SUBQUERY's scope, not this alias (function
                # parens like match(s, ...) are NOT subqueries and
                # stay substitutable)
                sub_spans = []
                for sm in re.finditer(r"\(\s*(?:SELECT|WITH)\b",
                                      tail_masked, re.IGNORECASE):
                    d, j = 1, sm.end()
                    while j < len(tail_masked) and d:
                        d += tail_masked[j] == "("
                        d -= tail_masked[j] == ")"
                        j += 1
                    sub_spans.append((sm.start(), j))
                pat = re.compile(rf"(?<![\w.`]){re.escape(name)}(?![\w(])")
                pieces, last, changed = [], 0, False
                for m in pat.finditer(tail_masked):
                    if any(a <= m.start() < b for a, b in sub_spans):
                        continue  # subquery scope: not ours to bind
                    pieces.append(tail_src[last:m.start()])
                    pieces.append(f"({expr})")
                    last = m.end()
                    changed = True
                if not changed:
                    raise
                tail = "".join(pieces) + tail_src[last:]
                current = current[:w_end] + tail + current[c_end:]
        return self._sql(current, spark)

    def _missing_col_default(self, name: str, field) -> "object":
        """Fill expression for a column omitted from an INSERT column
        list: a column declared ``Nullable(...)`` (or attached with no
        CH schema string) fills NULL; otherwise CH's TYPE DEFAULT
        (0 / '' / 1970-01-01 / false / empty container) — CH never
        writes NULL into a non-Nullable column. A column declared
        with an explicit ``DEFAULT <expr>`` fills that expression
        (round 14; previously accepted-and-dropped)."""
        from pyspark.sql import functions as F

        return F.expr(self._missing_col_default_sql(name, field))

    def _missing_col_default_sql(self, name: str, field) -> str:
        """SQL-text form of :meth:`_missing_col_default` — also
        spliced for the ``DEFAULT`` keyword in ``INSERT ... VALUES``
        (CH spelling, round 14)."""
        from pyspark.sql import types as T

        s = field.dataType.simpleString()
        declared_default = self._column_defaults.get(name, {}).get(
            field.name
        )
        if declared_default is not None:
            expr = (
                self._transpile(f"SELECT {declared_default}")
                .sql.removeprefix("SELECT ")
            )
            return f"CAST(({expr}) AS {s})"

        schema_str = self._ch_col_ddl.get(name) or self._attached[name][2]
        declared = None
        if schema_str:
            for item in split_top_level(schema_str):
                m = re.match(
                    r"^\s*(`[^`]+`|\"[^\"]+\"|\S+)\s+(.+?)\s*$", item
                )
                if m and m.group(1).strip('`"') == field.name:
                    declared = m.group(2).strip()
                    break
        if declared is None or declared.lower().startswith("nullable("):
            return f"CAST(NULL AS {s})"
        dt = field.dataType
        if isinstance(dt, T.StringType):
            return "''"
        if isinstance(dt, T.DateType):
            return "DATE '1970-01-01'"
        if isinstance(dt, T.TimestampType):
            return "TIMESTAMP '1970-01-01 00:00:00'"
        if isinstance(dt, T.BooleanType):
            return "false"
        if isinstance(dt, (T.ArrayType, T.MapType, T.NumericType)):
            return self._type_default_sql(dt)
        return f"CAST(NULL AS {s})"

    def _target_schema(self, name: str):
        """The table's schema in DECLARED column order.

        Spark's partition discovery lists partition columns LAST in
        the read schema, so a positional (CH-semantics) INSERT into a
        partitioned table would TRANSPOSE columns once partition
        directories exist — ``INSERT INTO t(k,v)-declared VALUES
        (1, 15)`` landed as k=15, v=1 with no error (found by the
        round-13 OPTIMIZE PARTITION probe). The recorded CH DDL
        (CREATE TABLE / ATTACH schema string) restores the declared
        order; tables attached without one keep the read order (it
        is the only order on record)."""
        from pyspark.sql import types as T

        target = self.spark.table(name).schema
        schema_str = self._ch_col_ddl.get(name) or (
            self._attached[name][2] if name in self._attached else None
        )
        if not schema_str:
            return target
        names = []
        for item in split_top_level(schema_str):
            m = re.match(r"^\s*(`[^`]+`|\"[^\"]+\"|\S+)", item)
            if m:
                names.append(m.group(1).strip('`"'))
        by_name = {f.name: f for f in target.fields}
        if names and len(names) == len(by_name) \
                and set(names) == set(by_name):
            return T.StructType([by_name[c] for c in names])
        return target

    def _strip_ddl_default(self, name: str, col: str) -> None:
        """Remove ``DEFAULT <expr>`` from ``col``'s recorded CH DDL
        item (MODIFY COLUMN ... REMOVE DEFAULT) so SHOW CREATE and
        the nullability sniff reflect the post-DDL declaration."""
        from bighouse_spark.dialect.schema import parse_column_item

        ddl = self._ch_col_ddl.get(name)
        if not ddl:
            return
        items = []
        for item in split_top_level(ddl):
            if not item.strip():
                continue
            try:
                nm, typ, clauses = parse_column_item(item)
            except ValueError:
                items.append(item.strip())
                continue
            if nm == col and "DEFAULT" in clauses:
                clauses.pop("DEFAULT")
                rebuilt = f"`{nm}` {typ}" + "".join(
                    f" {k} {v}" for k, v in clauses.items()
                )
                items.append(rebuilt)
            else:
                items.append(item.strip())
        new_ddl = ", ".join(items)
        self._ch_col_ddl[name] = new_ddl
        # only when a schema string is already registered — writing
        # one onto a self-describing parquet attachment would change
        # its read path
        if name in self._attached and self._attached[name][2]:
            path, fmt, _old = self._attached[name]
            self._attached[name] = (path, fmt, new_ddl)

    def _expand_values_defaults(
        self, name: str, body: str, target, cols: str | None
    ) -> str:
        """CH allows the bare ``DEFAULT`` keyword as a VALUES cell:
        ``INSERT INTO t VALUES (1, DEFAULT)`` fills the column's
        declared default (else its type default). DEFAULT cells are
        located on a string-literal-masked copy, so ``'keep DEFAULT
        word'`` is data. The whole VALUES list is rewritten into
        per-row SELECTs whose items alias the target column names —
        so a declared default that references OTHER columns
        (``b Int64 DEFAULT a * 2``) resolves against the same row's
        values via Spark's lateral column aliases, matching CH's
        row-scoped default computation. A default reading a column
        declared AFTER it fails loudly with Spark's unresolved-column
        error (lateral aliases resolve left-to-right only)."""
        masked = mask(body, strings_only=True)
        if not re.search(r"\bDEFAULT\b", masked, re.IGNORECASE):
            return body
        if cols:
            by_name = {f.name: f for f in target.fields}
            field_order = [
                by_name[c.strip().strip('`"')]
                for c in cols.split(",")
                if c.strip() and c.strip().strip('`"') in by_name
            ]
        else:
            field_order = list(target.fields)
        # Tuple/cell boundaries on the masked copy (depth-1 commas;
        # parens AND brackets nest — an array cell's commas must not
        # split), cells sliced from the raw text by span.
        tuples: list[list[tuple[int, int]]] = []
        cells: list[tuple[int, int]] = []
        depth = 0
        cell_start = 0
        for i, ch in enumerate(masked):
            if ch in "([":
                depth += 1
                if depth == 1 and ch == "(":
                    cells = []
                    cell_start = i + 1
            elif ch in ")]":
                depth -= 1
                if depth == 0 and ch == ")":
                    cells.append((cell_start, i))
                    tuples.append(cells)
            elif ch == "," and depth == 1:
                cells.append((cell_start, i))
                cell_start = i + 1
        default_sql: dict[str, str] = {}

        def _dsql(f) -> str:
            if f.name not in default_sql:
                default_sql[f.name] = self._missing_col_default_sql(
                    name, f
                )
            return default_sql[f.name]

        # Only tuples that actually hold a DEFAULT cell become
        # per-row SELECTs; the rest stay batched in ONE VALUES block
        # — a 10k-row insert with one DEFAULT must not become a
        # 10k-way UNION ALL (analyzer blowup).
        plain: list[str] = []
        selects: list[str] = []
        for cells in tuples:
            if len(cells) != len(field_order):
                raise ValueError(
                    f"INSERT INTO {name}: {len(cells)} values for a "
                    f"{len(field_order)}-column target"
                )
            texts = [body[s:e].strip() for s, e in cells]
            if not any(t.upper() == "DEFAULT" for t in texts):
                plain.append("(" + ", ".join(texts) + ")")
                continue
            items = [
                f"{_dsql(f)} AS `{f.name}`"
                if t.upper() == "DEFAULT" else f"({t}) AS `{f.name}`"
                for t, f in zip(texts, field_order)
            ]
            selects.append("SELECT " + ", ".join(items))
        branches = []
        if plain:
            branches.append(
                "SELECT * FROM (VALUES " + ", ".join(plain) + ")"
            )
        branches.extend(selects)
        return " UNION ALL ".join(branches)

    def _insert_into_attached(
        self, query: str, name: str, body_start: int,
        cols: str | None = None,
    ) -> _Logged:
        """``INSERT INTO <attached> [(cols)] SELECT/VALUES ...`` →
        append-write to the table's backing storage, then re-attach so
        subsequent reads see the new files. Columns align positionally
        (CH INSERT semantics) and are renamed to the target's schema
        so parquet/orc by-name reads stay consistent across files; an
        explicit column list fills the omitted columns with NULL /
        CH type defaults (see _missing_col_default)."""
        if name not in self._attached:
            raise ValueError(
                f"INSERT INTO {name}: not an attached table — call "
                "attach_table()/ATTACH first, or write files with "
                "INSERT INTO FUNCTION s3/file(path[, format])"
            )
        body = query[body_start:]
        target = self._target_schema(name)
        if body.upper().startswith("VALUES"):
            body = self._expand_values_defaults(
                name, body, target, cols
            )
            body = f"SELECT * FROM ({body})"
        from pyspark.sql import functions as F

        result = self._transpile(body)
        df = self._sql(result.sql)
        if cols:
            names = [
                c.strip().strip('`"') for c in cols.split(",") if c.strip()
            ]
            known = {f.name for f in target.fields}
            unknown = [c for c in names if c not in known]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {name} ({cols}): unknown column(s) "
                    f"{unknown}"
                )
            if len(df.columns) != len(names):
                raise ValueError(
                    f"INSERT INTO {name}: {len(df.columns)} values for "
                    f"a {len(names)}-column list"
                )
            provided = dict(zip(names, df.toDF(*names).columns))
            src = df.toDF(*names)
            df = src.select(*[
                (F.col(f.name) if f.name in provided
                 else self._missing_col_default(name, f)).alias(f.name)
                for f in target.fields
            ])
        if len(df.columns) != len(target.fields):
            raise ValueError(
                f"INSERT INTO {name}: {len(df.columns)} columns for a "
                f"{len(target.fields)}-column table"
            )
        # Positional alignment AND type coercion to the target schema
        # — an INT literal appended as INT32 next to INT64 files would
        # poison later reads with a parquet type mismatch.
        aligned = df.toDF(*[f.name for f in target.fields]).select(
            *[F.col(f.name).cast(f.dataType) for f in target.fields]
        )
        return self._append_aligned(aligned, name, result.sql)

    def _create_materialized_view(
        self, name: str, populate: bool, select_sql: str,
    ) -> _Logged:
        """``CREATE MATERIALIZED VIEW mv [POPULATE] AS SELECT ... FROM
        <attached>`` — CH's insert-maintained aggregate (CH docs:
        "materialized views ... are triggered on INSERT").

        Spark-first mapping: the attached directory IS the insert log,
        so the MV is a Structured Streaming query over the file source
        with ``trigger(availableNow)``. Each refresh reads ONLY files
        the checkpoint hasn't seen (the insert-trigger semantics), and
        running aggregation state lives in the checkpoint, so refresh
        cost is O(new data), not O(table). Aggregate MVs write in
        ``complete`` mode (result overwritten — aggregate results are
        small); non-aggregate MVs append transformed rows.

        Parity notes: like CH, mutations (ALTER DELETE/UPDATE,
        TRUNCATE, OPTIMIZE) do NOT propagate to MVs — only INSERTs do.
        Unlike CH, ``POPULATE`` is the default (the backlog of files
        is folded into the first refresh); the keyword is accepted for
        compatibility.
        """
        import tempfile

        m = re.search(r"\bFROM\s+[`\"]?(\w+)[`\"]?", select_sql,
                      re.IGNORECASE)
        src = m.group(1) if m else ""
        if src not in self._attached:
            raise ValueError(
                f"CREATE MATERIALIZED VIEW {name}: FROM must name an "
                "attached table (the backing directory is the insert "
                "log the view incrementally folds in)"
            )
        if name in self._mviews or name in self._attached:
            raise ValueError(f"CREATE MATERIALIZED VIEW {name}: name in use")
        transpiled = self._transpile(select_sql, self.spark).sql
        base = tempfile.mkdtemp(prefix=f"bh_mv_{name}_")
        state_parts = self._mv_state_partitions(src)
        self._mviews[name] = {
            "source": src,
            "select": transpiled,
            "data": f"{base}/data",
            "checkpoint": f"{base}/checkpoint",
            "mode": None,  # resolved on first refresh
            # Streaming-aggregation state partition count, derived
            # from the SOURCE size at create time (guide §2: scale
            # partitioning with data, not with the session constant).
            # The session's shuffle.partitions would pin a tiny MV's
            # state store to N partitions forever — N sets of state
            # files read+committed per refresh. One partition per
            # 64 MiB of source, capped at the session parallelism;
            # Spark pins the value in the checkpoint metadata so
            # every later refresh stays consistent by construction.
            "state_partitions": state_parts,
            # The view's stream starts on its own clone of the session,
            # which holds only the state partition count, so no
            # request knob is pinned. One clone per view: each session
            # adds a streaming listener to the SparkContext's bus for
            # good, so a clone per refresh would grow it per INSERT.
            "session": self._clone_session(
                {"spark.sql.shuffle.partitions": str(state_parts)}
                if state_parts else {}
            ),
            # Held across each refresh: two at once would run two
            # streams on one checkpoint.
            "lock": threading.Lock(),
        }
        try:
            with self._mviews[name]["lock"]:
                self._refresh_mv(name)
        except Exception:
            del self._mviews[name]
            raise
        return _Logged(
            QueryResult(cols=["view"], rows=[[name]]), transpiled, -1
        )

    def _mv_state_partitions(self, src: str) -> int | None:
        """State partition count for a new MV checkpoint: one per
        64 MiB of the source's current backing bytes, in
        [1, cluster default parallelism]. The cap is
        ``defaultParallelism``, stable for the session. ``None`` when
        the source is empty or not locally statable (remote URLs): the
        view's clone then holds the base session's
        ``spark.sql.shuffle.partitions``, since no request knob reaches
        it."""
        import math
        import os

        path, _fmt, _schema = self._attached.get(src, (None, None, None))
        if not path:
            return None
        local = path[7:] if path.startswith("file://") else path
        if "://" in local:
            return None
        try:
            total = 0
            for root, dirs, files in os.walk(local):
                # Prune metadata/detached dirs (same rule as the
                # system_parts walker): .detached/ bytes are not data
                # the streaming source will read.
                dirs[:] = [
                    d for d in dirs if not d.startswith(("_", "."))
                ]
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(root, f))
            if total == 0:
                # An empty source says nothing about how big the MV
                # will grow; pinning 1 state partition into the
                # checkpoint forever is the degenerate shape this
                # sizing exists to avoid. Keep the session default.
                return None
            cap = int(self.spark.sparkContext.defaultParallelism)
            return max(1, min(cap, math.ceil(total / (64 << 20))))
        except OSError:
            return None

    def _refresh_mv(self, name: str) -> None:
        """One availableNow refresh of a materialized view: stream the
        not-yet-seen source files through the view's plan, fold into
        checkpointed state, republish the result as temp view
        ``name``. The caller holds ``mv["lock"]``."""
        import os

        mv = self._mviews[name]
        path, fmt, _schema = self._attached[mv["source"]]
        src_schema = self.spark.table(mv["source"]).schema
        stmt_spark = self._stmt_session
        reader = stmt_spark.readStream.schema(src_schema).format(fmt)
        if fmt == "csv":
            reader = reader.option("header", "true")
        reader.load(path).createOrReplaceTempView("__bh_mv_src")
        sql = re.sub(
            rf"(?<![\w`.]){re.escape(mv['source'])}(?![\w`.])",
            "__bh_mv_src", mv["select"],
        )
        # Analyzed on the statement's session, where the stream view
        # lives, started on the view's clone: a stream takes its conf
        # (the state partition count, which the checkpoint then pins)
        # and its query manager from its Dataset's session.
        plan = stmt_spark.sql(sql)._jdf.queryExecution().analyzed()
        jds = getattr(self.spark._jvm, "org.apache.spark.sql.classic.Dataset")
        sdf = DataFrame(
            jds.ofRows(mv["session"]._jsparkSession, plan), self.spark
        )
        data_dir = mv["data"]
        # A stateful run builds a streaming query manager on Spark's
        # own per-run clone of the session, and its listener stays on
        # the SparkContext's bus for good: drop the ones this run adds.
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        # the view's own manager stays
        mv["session"]._jsparkSession.streams()
        known = set(bus.listeners())
        modes = [mv["mode"]] if mv["mode"] else ["complete", "append"]
        try:
            for mode in modes:
                write = "overwrite" if mode == "complete" else "append"
                try:
                    sdf.writeStream.outputMode(mode).foreachBatch(
                        lambda b, _i: b.write.mode(write).parquet(data_dir)
                    ).option(
                        "checkpointLocation", mv["checkpoint"]
                    ).trigger(availableNow=True).start().awaitTermination()
                    mv["mode"] = mode
                    break
                except Exception as e:
                    # Complete mode requires a streaming aggregation;
                    # projection/filter MVs fall through to append.
                    if mv["mode"] or mode == modes[-1] or (
                        "output mode" not in str(e).lower()
                    ):
                        raise
        finally:
            for lst in bus.listeners():
                if lst not in known and lst.getClass().getSimpleName() == (
                    "StreamingQueryListenerBus"
                ):
                    bus.removeListener(lst)
        if os.path.isdir(data_dir) and any(
            f.endswith(".parquet") for f in os.listdir(data_dir)
        ):
            out = self.spark.read.parquet(data_dir)
        else:  # zero batches ran (empty source): publish empty result
            out = self.spark.createDataFrame([], sdf.schema)
        self._publish(out, name)
        self.clear_cache()

    _CREATE_DICT_RE = re.compile(
        r"^\s*CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"[`\"]?(\w+)[`\"]?(?:\s+ON\s+CLUSTER\s+\S+)?\s*\([^)]*\)\s*"
        r"PRIMARY\s+KEY\s+[`\"]?(\w+)[`\"]?\s*"
        r"SOURCE\s*\((.*?)\)\s*(?:LAYOUT\s*\(.*?\))?\s*"
        r"(?:LIFETIME\s*\(.*?\))?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_DICT_RE = re.compile(
        r"^\s*DROP\s+DICTIONARY\s+(?:IF\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?\s*$",
        re.IGNORECASE,
    )

    def _rewrite_dict_calls(self, sql: str, masked: str) -> str:
        """Rewrite dictGet*/dictHas/dictGetOrDefault over registered
        dictionaries into correlated scalar subqueries. Calls are
        located on ``masked`` (``sql``'s masked copy), so a literal
        spelling dictGet( is data."""
        # Run even with zero registered dictionaries: an unknown-dict
        # dictGet must fail with the CREATE DICTIONARY hint, not
        # Spark's opaque UNRESOLVED_ROUTINE.
        if "dict" not in masked.lower():
            return sql
        from bighouse_spark.dialect.transpile import _find_call

        out = sql
        pat = re.compile(r"\bdict(Get\w*|Has)\s*\(", re.IGNORECASE)
        while (m := pat.search(masked)) is not None:
            kind = m.group(1)
            if kind.lower() in (
                "gethierarchy", "getchildren", "getdescendants"
            ):
                raise ValueError(
                    f"dict{kind}: hierarchical dictionary traversal "
                    "is not supported; flat dictGet/dictHas over "
                    "CREATE DICTIONARY sources are served"
                )
            call = _find_call(out, f"dict{kind}", m.start())
            if call is None:
                break
            start, end, args = call
            dname = args[0].strip().strip("'\"")
            if dname not in self._dicts:
                raise ValueError(
                    f"dict{kind}: no dictionary named {dname!r} — "
                    "CREATE DICTIONARY first"
                )
            src, pk = self._dicts[dname]
            if kind.lower() == "has":
                key = args[1]
                repl = (
                    f"((SELECT count(*) FROM {src} "
                    f"WHERE `{pk}` = ({key})) > 0)"
                )
            else:
                attr = args[1].strip().strip("'\"")
                key = args[2]
                sub = (
                    f"(SELECT `{attr}` FROM {src} WHERE `{pk}` = ({key}))"
                )
                if kind.lower() == "getordefault":
                    repl = f"coalesce({sub}, {args[3]})"
                else:
                    repl = sub
            out = out[:start] + repl + out[end:]
            masked = mask(out, strings_only=True)
        return out

    def _optimize_partition_dir(
        self, name: str, subdir: str, n_out: int, dedup: bool,
        files_before: int, pcol: str = "", partition_val: str = "",
    ) -> _Logged:
        """Compact ONE partition directory in place: read only its
        files (they carry every column except the partition key — the
        directory name does), rewrite at the target file size, swap
        the subdirectory. CH applies TTL at merge time for
        partition-scoped merges too, so the recorded TTL filter runs
        here exactly as in the whole-table path (ADVICE r13).
        Dependent MVs rebuild (a compaction renames backing files,
        which would otherwise re-fold as new rows — same posture as
        whole-table mutations)."""
        import uuid

        path, fmt, schema = self._attached[name]
        # Read through the TABLE view with a partition-key filter:
        # PartitionFilters bound the scan to this one directory, the
        # view carries the attach-time format/schema options (a raw
        # format().load(subdir) mis-reads non-parquet attached
        # tables), and the TTL expression sees the partition key as a
        # real column.
        df_all = self.spark.table(name)
        df = df_all.filter(
            self._partition_match_col(df_all, pcol, partition_val)
        )
        file_cols = [c for c in df_all.columns if c != pcol]
        ttl = self._ttl.get(name)
        if ttl:
            view = f"__bh_optp_{uuid.uuid4().hex}"
            create_view(self._stmt_session, df, view)
            df = self._sql(self._transpile(
                f"SELECT * FROM {view} WHERE ifNull(({ttl}) > now(), true)"
            ).sql)
        df = df.select(*file_cols)
        df = df.distinct().repartition(n_out) if dedup else df.coalesce(n_out)
        # partition_in_path: this df deliberately lacks the partition
        # column (it IS the directory); ORDER BY sort + blooms kept.
        path = self._write_swap(name, subdir, df, "optp")
        import os

        files_after = sum(
            1
            for root, _dirs, files in os.walk(subdir)
            for f in files
            if not f.startswith(("_", "."))
        )
        return _Logged(
            QueryResult(
                cols=["path", "files_before", "files_after"],
                rows=[[path, files_before, files_after]],
            ),
            "<optimize-partition>", -1,
        )

    # Spark's ExternalCatalogUtils.escapePathName charset: these are
    # %XX-escaped in partition directory names (plus all control
    # chars). NULL/empty partition values become the Hive default
    # partition directory.
    _PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {
        chr(c) for c in range(0x20)
    }
    _HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

    @classmethod
    def _escape_partition_value(cls, val: str) -> str:
        """The directory-name spelling of a partition VALUE, matching
        Spark's escapePathName (ADVICE r13: 'a:b' or 'a=b' values
        land as a%3Ab / a%3Db on disk, and NULL/empty as
        __HIVE_DEFAULT_PARTITION__ — the raw join found nothing)."""
        if val == "" or val.upper() == "NULL":
            return cls._HIVE_DEFAULT_PARTITION
        return "".join(
            f"%{ord(c):02X}" if c in cls._PATH_ESCAPE_CHARS else c
            for c in val
        )

    def _partition_col_or_raise(self, name: str, ctx: str) -> str:
        """The single PARTITION BY column backing a CH partition-id
        form (``PARTITION 'p'`` / ``IN PARTITION p``): with one
        partition column, the CH partition id IS the column value."""
        cols = self._partitioned.get(name) or []
        if len(cols) != 1:
            detail = (
                "not partitioned"
                if not cols
                else f"partitioned by {len(cols)} columns "
                     f"({', '.join(cols)})"
            )
            raise ValueError(
                f"{ctx}: table {name} is {detail}; the PARTITION "
                "form maps to exactly one PARTITION BY column — "
                "spell the predicate in WHERE directly instead"
            )
        return cols[0]

    def _partition_predicate(
        self, name: str, quoted: str | None, raw: str | None
    ) -> str:
        col = self._partition_col_or_raise(
            name, "ALTER TABLE ... IN PARTITION"
        )
        val = f"'{quoted}'" if quoted is not None else raw
        return f"`{col}` = {val}"

    def _optimize_attached(
        self, name: str, dedup: bool, partition_val: str | None = None,
    ) -> _Logged:
        """``OPTIMIZE TABLE <name> [FINAL] [DEDUPLICATE]`` — the CH
        part-merge, re-expressed as small-file compaction: rewrite the
        backing directory into ~OPTIMIZE_TARGET_FILE_BYTES files.
        ``DEDUPLICATE`` drops fully-duplicate rows first (CH semantics
        for OPTIMIZE ... DEDUPLICATE).

        Scale shape: plain compaction uses ``coalesce`` (narrow — no
        shuffle; each output task concatenates input files);
        DEDUPLICATE requires the distinct shuffle anyway, so it uses
        ``repartition`` to also fix skewed file sizes. At 100 TB this
        is the nightly-compaction job every streaming-ingest table
        needs — thousands of small files per day otherwise dominate
        scan time with open/list overhead.
        """
        import math
        import os

        local = self._attached_path_or_raise(name, "OPTIMIZE TABLE")
        scan_root = local
        if partition_val is not None:
            # CH `OPTIMIZE ... PARTITION p` merges ONE partition; here
            # that is the partition DIRECTORY — only its files are
            # read, compacted, and swapped (the rest of the table is
            # untouched, bounding the rewrite like CH bounds the
            # merge).
            pcol = self._partition_col_or_raise(
                name, "OPTIMIZE TABLE ... PARTITION"
            )
            dir_val = self._escape_partition_value(partition_val)
            scan_root = os.path.join(local, f"{pcol}={dir_val}")
            if not os.path.isdir(scan_root):
                raise ValueError(
                    f"OPTIMIZE TABLE {name} PARTITION "
                    f"{partition_val!r}: no such partition (expected "
                    f"directory {pcol}={dir_val})"
                )
        total_bytes = 0
        files_before = 0
        for root, _dirs, files in os.walk(scan_root):
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS, checksums, hidden
                files_before += 1
                total_bytes += os.path.getsize(os.path.join(root, f))
        n_out = max(1, math.ceil(total_bytes / self.OPTIMIZE_TARGET_FILE_BYTES))
        if partition_val is not None:
            return self._optimize_partition_dir(
                name, scan_root, n_out, dedup, files_before,
                pcol=pcol, partition_val=partition_val,
            )
        ttl = self._ttl.get(name)
        if ttl:
            # CH applies TTL at merge time: drop rows whose TTL
            # timestamp has passed; rows with a NULL TTL are kept.
            sel = self._transpile(
                f"SELECT * FROM {name} WHERE "
                f"ifNull(({ttl}) > now(), true)"
            )
            df = self._sql(sel.sql)
        else:
            df = self.spark.table(name)
        df = df.distinct().repartition(n_out) if dedup else df.coalesce(n_out)
        path = self._rewrite_attached(name, df, "<optimize>").result.rows[0][0]
        files_after = sum(
            1
            for root, _dirs, files in os.walk(local)
            for f in files
            if not f.startswith(("_", "."))
        )
        return _Logged(
            QueryResult(
                cols=["path", "files_before", "files_after"],
                rows=[[path, files_before, files_after]],
            ),
            "<optimize>", -1,
        )

    def _run(
        self, request: QueryRequest | str,
        handler: Callable[[_Statement], Any], kind: str = "Select",
    ) -> Any:
        """The statement lifecycle behind every entry point (the
        reference gives each query its own: spawn, init statements,
        run, tear down — ``temporal/workflow_query_executor.go:70-80``).
        It owns the start time and query id, cancellation, the init
        queries, the statement's session and conf knobs, the one
        ``query_log`` write (on success and on failure) and the
        request-boundary release of operator scratch persists and HTTP
        spool pins.

        The session (``_stmt_session``) dies with the statement, so
        nothing it registers needs cleanup (the reference deletes its
        cluster in a deferred activity, ``:346-355``). Transpile and its
        source views, ``_sql``, the small-plan tier, ``system_*`` views,
        MV refresh streams and any ``SET`` the pair parser cannot read
        run on it. DDL that outlives the statement stays on the base:
        ATTACH, CREATE VIEW and its sources, MV creation, user
        functions, dictionaries, ``SYSTEM FLUSH LOGS``. Views and temp
        functions it makes also reach the running statement's session
        (``_publish``, ``_route_query``).

        ``handler(stmt)`` routes and runs the statement and returns its
        result, wrapped in ``_Logged`` when a success is logged;
        ``kind`` is the ``query_kind`` logged unless the handler sets
        ``stmt.kind``. Init queries and DDL re-enter here as nested
        statements: a failure is logged once, by the innermost
        statement that raised it. The OUTERMOST statement on this
        thread owns, for all nested in it, the query id (its
        ``_inflight`` entry, job group and ``queryID()``), the session
        and the release: a nested boundary must not drop caches/pins
        the enclosing request still references."""
        if isinstance(request, str):
            request = QueryRequest(query=request)
        stmt = _Statement(
            replace(
                request,
                query_id=request.query_id or f"bh-{uuid.uuid4().hex[:12]}",
            ),
            kind=kind,
        )
        qid = stmt.request.query_id
        depth = getattr(_REQ_LOCAL, "depth", 0)
        # A statement starts from its parent's settings; its own
        # additions (each a new dict, ``merge``) end with it.
        outer = getattr(_REQ_LOCAL, "settings", {})
        _REQ_LOCAL.depth, _REQ_LOCAL.settings = depth + 1, outer
        t0 = time.monotonic()
        out = entry = running = timer = None
        try:
            if depth == 0:
                # Duplicate client ids are rejected like CH.
                with self._inflight_lock:
                    if qid in self._inflight:
                        raise ValueError(
                            f"query_id {qid!r} is already running "
                            "(QUERY_WITH_SAME_ID_IS_ALREADY_RUNNING)"
                        )
                    running = self._inflight[qid] = (request.query, t0)

                def watch(raw: Any) -> None:
                    # max_execution_time=N (CH seconds, 0 = unlimited),
                    # armed by the first transpile whose settings carry
                    # it; the deadline counts from the start.
                    nonlocal timer
                    _REQ_LOCAL.watch = None
                    try:
                        limit = float(raw)
                    except ValueError:
                        return
                    if limit > 0:
                        timer = threading.Timer(
                            t0 + limit - time.monotonic(), self._cancel,
                            (qid, TimeoutError(
                                f"query {qid} exceeded max_execution_time"
                                f"={limit:g}s (TIMEOUT_EXCEEDED)"
                            ), running),
                        )
                        timer.daemon = True
                        timer.start()

                _REQ_LOCAL.qid, _REQ_LOCAL.watch = qid, watch
                set_current_query_id(qid)
                self.spark.sparkContext.setJobGroup(
                    qid, request.query[:200], interruptOnCancel=True
                )
            # Cluster-shape knobs → parallelism hint (B18); an init SET
            # or the query's SETTINGS max_threads, later, wins.
            if request.num_nodes or request.cores:
                parts = (request.num_nodes or 1) * (request.cores or 1)
                self._settle(
                    {"spark.sql.shuffle.partitions": str(max(parts, 1))}
                )
            for init in request.init_queries:
                # Init queries are full engine statements (the
                # reference's InitQueries carry ATTACH DDL + SET,
                # workflow_query_executor.go:302-310): a SET's pairs
                # are this statement's until it ends, and DDL re-enters
                # execute so the whole dispatch applies.
                if pairs := parse_set_statement(init):
                    self._settle(pairs)
                elif self._route_of(init) != self._QUERY_ROUTE:
                    self.execute(init)
                elif (init_sql := self._transpile(init).sql).strip():
                    self._sql(init_sql)
            out = handler(stmt)
            if isinstance(err := self._cancelled.get(qid), TimeoutError):
                # The cancel raced a completing job: the deadline is
                # still exceeded — CH errors here too. A write that
                # landed has committed, which dropped the error.
                raise err
            if isinstance(out, _Logged):
                entry = QueryLogEntry(
                    stmt.request.query, out.label, 0.0, out.rows,
                    cached=out.cached, query_kind=stmt.kind,
                )
                out = out.result
            return out
        except Exception as e:
            logged = getattr(_REQ_LOCAL, "logged_error", None)
            # a cancelled statement raises the error _cancel recorded
            oqid = getattr(_REQ_LOCAL, "qid", None)
            err = e if e is logged else self._cancelled.get(oqid) or (
                _killed_error(oqid) if "cancelled job group" in str(e) else e
            )
            if err is not logged:
                _REQ_LOCAL.logged_error = err
                entry = QueryLogEntry(
                    stmt.request.query, stmt.label, 0.0, 0,
                    str(err) or type(err).__name__, query_kind=stmt.kind,
                )
            if err is e:
                raise
            raise err from e
        finally:
            elapsed = time.monotonic() - t0
            if isinstance(out, QueryResult):
                out.elapsed_sec = elapsed
            if entry is not None:
                entry.elapsed_sec = elapsed
                with self._log_lock:
                    self.query_log.append(entry)
                    self.query_totals.add(entry)
            _REQ_LOCAL.depth, _REQ_LOCAL.settings = depth, outer
            if depth:
                self._hold()  # the nested statement's knobs end with it
            else:
                _REQ_LOCAL.logged_error = _REQ_LOCAL.qid = None
                _REQ_LOCAL.watch = _REQ_LOCAL.session = None
                if running is not None:
                    if timer is not None:
                        timer.cancel()
                    with self._inflight_lock:
                        self._inflight.pop(qid, None)
                        self._cancelled.pop(qid, None)
                        self._committed.discard(qid)
                    set_current_query_id(None)
                    try:
                        self.spark.sparkContext.setJobGroup("", "")
                    except Exception:
                        pass
                release_tracked()
                release_spool_pins()

    def _cancel(
        self, qid: str, err: Exception | None = None, running=None,
    ) -> bool:
        """Cancel the statement running as ``qid``; False if none is or
        its write has landed (``_commit``). The first cancel records
        ``err`` (default QUERY_WAS_CANCELLED) as the error it raises
        and starts re-issuing ``cancelJobGroup`` until the statement
        leaves ``_inflight`` or commits: one call misses jobs not yet
        submitted. A sticky cancel would also fail a later statement
        reusing the id, which CH allows; the watchdog passes its own
        ``running`` entry so that a late fire spares such a
        statement."""
        with self._inflight_lock:
            running = running or self._inflight.get(qid)
            if (running is None or self._inflight.get(qid) is not running
                    or qid in self._committed):
                return False
            self.kill_count += 1
            if qid in self._cancelled:
                return True  # its reaper already runs
            self._cancelled[qid] = err or _killed_error(qid)
        sc = self.spark.sparkContext

        def reap() -> None:
            # Each cancel is posted under the lock _commit takes, so
            # none reaches a job the statement runs after its commit.
            while True:
                with self._inflight_lock:
                    if (self._inflight.get(qid) is not running
                            or qid in self._committed):
                        return
                    try:
                        sc.cancelJobGroup(qid)
                    except Exception:
                        pass
                time.sleep(0.3)

        threading.Thread(target=reap, daemon=True).start()
        return True

    def _commit(self) -> None:
        """The running statement's write has landed: it now runs to
        completion, so its outcome matches the data. KILL and the
        watchdog stop, and a cancel that raced the write is dropped.
        Call it before any Spark job that follows, e.g. the re-attach."""
        qid = getattr(_REQ_LOCAL, "qid", None)
        if qid is not None:
            with self._inflight_lock:
                self._committed.add(qid)
                self._cancelled.pop(qid, None)

    @property
    def _stmt_session(self) -> SparkSession:
        """The running statement's session: made at its first use in
        the outermost statement (so init DDL that runs before it is
        seen), holding the statement's Spark conf, and dropped when the
        statement ends (``_run``). Outside a statement, the base."""
        if not getattr(_REQ_LOCAL, "depth", 0):
            return self.spark
        if getattr(_REQ_LOCAL, "session", None) is None:
            _REQ_LOCAL.session = self._clone_session(_statement_conf())
        return _REQ_LOCAL.session

    def _sql(self, text: str, spark: SparkSession | None = None):
        """``spark.sql(text)`` on the running statement's session (or
        ``spark``). Call it after transpile: source views are
        registered there."""
        return (spark or self._stmt_session).sql(text)

    def _settle(self, pairs: dict[str, str]) -> None:
        """Layer ``pairs`` over the running statement's settings; their
        Spark conf half reaches its session at once."""
        _REQ_LOCAL.settings = merge(_REQ_LOCAL.settings, pairs)
        self._hold()

    def _hold(self, session: StatementSession | None = None,
              conf: dict[str, str] | None = None) -> None:
        """Make ``session`` (the running statement's, if it has one)
        hold ``conf`` (the statement's Spark conf) over the base: set
        what changed; a key it no longer holds gets the base's value."""
        session = session or getattr(_REQ_LOCAL, "session", None)
        conf = _statement_conf() if conf is None else conf
        if session is None or conf == session.held:
            return
        jconf = session._jsparkSession.sessionState().conf()
        for k in conf.keys() | session.held.keys():
            v = conf[k] if k in conf else self.spark.conf.get(k, None)
            if v is None:
                jconf.unsetConf(k)
            elif v != session.held.get(k):
                jconf.setConfString(k, v)
        session.held = dict(conf)

    # The small-plan tier's execution confs, and the leaves its plans
    # may read (a CTE's definition is itself a child of the plan).
    _SMALL_PLAN_CONF = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
    }
    _SMALL_PLAN_LEAVES = frozenset(
        {"LogicalRelation", "LocalRelation", "OneRowRelation",
         "CTERelationRef"}
    )

    def _small_plan(self, df: DataFrame) -> DataFrame:
        """``df``, with AQE off and one shuffle partition set on its
        statement's session when the statement is small. Physical
        planning reads the session conf when ``df`` first runs, so the
        analyzed ``df`` takes them as it is. Small: it holds no Spark
        conf (the client's conf wins); its leaves are file relations,
        local rows and CTE references, at least one a file, and the
        files' ``sizeInBytes`` sum to less than one split
        (``spark.sql.files.maxPartitionBytes``); it has no ``Generate``
        (``arrayJoin``/``explode`` can turn a small input into a large
        one; ``numbers()`` is a ``Range`` leaf) and no subquery, whose
        leaves ``collectLeaves`` does not visit. Below one split the
        scan is one task, so AQE's re-planning, range sampling and
        coalescing only add jobs."""
        if _statement_conf():
            return df
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        size, files = 0, 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            name = leaf.nodeName()
            if name not in self._SMALL_PLAN_LEAVES:
                return df
            if name == "LogicalRelation":
                rel = leaf.relation()
                if rel.getClass().getSimpleName() != "HadoopFsRelation":
                    return df
                size, files = size + rel.sizeInBytes(), files + 1
        if any(plan.containsPattern(p) for p in self._unbounded_patterns):
            return df
        if not files or size >= self.spark._jconf.filesMaxPartitionBytes():
            return df
        with self._log_lock:
            self.small_plan_count += 1
        self._settle(self._SMALL_PLAN_CONF)
        return df

    @cached_property
    def _unbounded_patterns(self) -> tuple:
        """Catalyst tree patterns that bar the small-plan tier."""
        tp = getattr(
            self.spark._jvm, "org.apache.spark.sql.catalyst.trees.TreePattern"
        )
        return tp.GENERATE(), tp.PLAN_EXPRESSION()

    def _clone_session(self, conf: dict[str, str]) -> StatementSession:
        """A clone of the base session, a statement's or an MV
        stream's, holding ``conf``. It shares the SparkContext (job
        group, cancel) and starts with the views and UDFs registered on
        the base so far; its temp views and SQLConf are its own, so the
        base session's are never written. Dropped with its last
        reference."""
        # The base's UDF record, copied before the JVM clone copies
        # its function registry (see _UDF_SESSIONS).
        udfs = dict(_UDF_SESSIONS.get(self.spark, {}))
        session = StatementSession(self.spark)
        _UDF_SESSIONS[session] = udfs
        self._hold(session, conf)
        return session

    def _transpile(
        self, sql: str, spark: SparkSession | None = None,
    ) -> TranspileResult:
        """``transpile`` on the running statement's session (or
        ``spark``) under its settings. The Spark conf it returns (theirs
        with the SETTINGS clause over them) joins them until the
        statement ends (``transpile`` itself never writes a conf); the
        query path settles the clause before transpile, so reader confs
        and the cityHash time zone see it (``_route_query``)."""
        out = transpile(sql, spark or self._stmt_session, _REQ_LOCAL.settings)
        self._settle(out.settings)
        watch = getattr(_REQ_LOCAL, "watch", None)
        if watch and "max_execution_time" in out.dropped_settings:
            watch(out.dropped_settings["max_execution_time"])
        return out

    def execute(
        self, request: QueryRequest | str, stream_to=None
    ) -> QueryResult:
        """Execute one statement through the lifecycle (``_run``).

        ``stream_to``: optional sink with ``start(cols, types)`` and
        ``write_row(row)``. When the statement is a plain transpiled
        query with nothing forcing driver materialization (no result
        cache, no max_result_rows), rows are fed to the sink from
        ``toLocalIterator`` instead of being collected: at most two
        partitions on the driver (the one being read and the
        prefetched next), never the whole result. The returned
        ``QueryResult`` then has ``rows=[]``. When materialization IS
        forced (or the statement takes a DDL/ack path), the sink is
        never started and the full result returns as usual — callers
        check ``sink.started``."""
        return self._run(
            request, lambda stmt: self._route(stmt, stream_to)
        )

    def _route(self, stmt: _Statement, stream_to=None) -> Any:
        """Route ``stmt`` to its handler. The statement is masked once
        (``mask(..., strings_only=True)``); clauses that apply to any
        statement — query parameters, ``INTO OUTFILE`` — run first,
        then the leading keyword picks one router from ``_ROUTES``.
        Routers match only the masked copy and re-slice raw text by
        span (``_raw_groups``); a routing rewrite re-binds
        ``stmt.request`` (so the log records the text that ran) and
        re-masks."""
        masked = mask(stmt.request.query, strings_only=True)
        if stmt.request.params or "{" in stmt.request.query:
            stmt.kind = self._route_of(masked)[1]  # if binding fails
            masked = self._bind_params(stmt, masked)
        router, stmt.kind = self._route_of(masked)
        # INTO OUTFILE is a clause of queries: an INSERT's inline
        # payload is data, whatever its rows spell.
        if router != "_route_insert" and (
            m_of := self._INTO_OUTFILE_RE.match(masked)
        ):
            return self._into_outfile(stmt, m_of)
        return getattr(self, router)(stmt, masked, stream_to)

    # Leading keyword → (router, ClickHouse ``system.query_log``
    # ``query_kind``). A router tries its own sub-command patterns in a
    # fixed order and ends in ``_route_query`` when none applies; a
    # statement whose leading keyword is not listed — SELECT, WITH,
    # ``(SELECT``, a comment-prefixed DDL — takes the query path.
    _ROUTES = {
        "INSERT": ("_route_insert", "Insert"),
        "ALTER": ("_route_alter", "Alter"),
        "CREATE": ("_route_create", "Create"),
        "DROP": ("_route_drop", "Drop"),
        "TRUNCATE": ("_route_drop", "Drop"),
        "ATTACH": ("_route_attach", "Create"),
        "DETACH": ("_route_detach", "Drop"),
        "UNDROP": ("_route_undrop", "Undrop"),
        "RENAME": ("_route_rename", "Rename"),
        "EXCHANGE": ("_route_rename", "Rename"),
        "SHOW": ("_route_show", "Show"),
        "SYSTEM": ("_route_system", "System"),
        "KILL": ("_route_kill", "KillQuery"),
        "EXISTS": ("_route_exists", "Exists"),
        "CHECK": ("_route_check", "Check"),
        "OPTIMIZE": ("_route_optimize", "Optimize"),
        # CH gathers column statistics with ALTER TABLE ... MATERIALIZE
        # STATISTICS, so ANALYZE logs as an Alter.
        "ANALYZE": ("_route_analyze", "Alter"),
        "GRANT": ("_route_rbac", "Grant"),
        "SET ROLE": ("_route_rbac", "Set"),
        "SET": ("_route_set", "Set"),
        "REVOKE": ("_route_rbac", "Revoke"),
    }
    _QUERY_ROUTE = ("_route_query", "Select")
    # Kinds whose query-path statements (CREATE FUNCTION, Spark's own
    # DDL) must outlive them: they run on the base session, and a temp
    # function or view (_TEMP_DDL_RE) on the statement's too.
    _DDL_KINDS = frozenset({"Create", "Drop", "Alter", "Rename", "Undrop"})
    _TEMP_DDL_RE = re.compile(
        r"\s*(?:CREATE(?:\s+OR\s+REPLACE)?|DROP)\s+TEMP(?:ORARY)?\s+"
        r"(?:FUNCTION|VIEW)\b", re.IGNORECASE,
    )
    _KIND_RE = re.compile(r"\s*(SET\s+ROLE\b|[A-Za-z]+)", re.IGNORECASE)

    @classmethod
    def _route_of(cls, sql: str) -> tuple[str, str]:
        """``(router, query_kind)`` of a statement. Only the leading
        keyword is read, and no string literal can precede it, so raw
        and masked text give the same answer."""
        m = cls._KIND_RE.match(sql)
        key = " ".join(m.group(1).upper().split()) if m else ""
        return cls._ROUTES.get(key, cls._QUERY_ROUTE)

    def _bind_params(self, stmt: _Statement, masked: str) -> str:
        """Substitute ``{name:Type}`` query parameters into the
        statement text and return the new masked copy. Parameters bind
        in STATEMENT text only — an inline INSERT data payload after
        FORMAT <fmt> is data, not SQL: a CSV value shaped like
        {word:Word} must be neither substituted nor rejected. Run
        whenever a placeholder-shaped token exists, even with zero
        bound params — an unbound {name:Type} must raise CH's
        UNKNOWN_QUERY_PARAMETER analog, not a downstream parse
        error."""
        from bighouse_spark.dialect.transpile import (
            _PARAM_PLACEHOLDER_RE,
            substitute_parameters,
        )

        request = stmt.request
        head, payload, head_end = request.query, "", len(masked)
        m_pl = self._PAYLOAD_SPLIT_RE.match(masked)
        if m_pl:
            head, payload = self._raw_groups(m_pl, request.query)
            head_end = m_pl.end(1)
        if not (request.params
                or _PARAM_PLACEHOLDER_RE.search(masked, 0, head_end)):
            return masked
        stmt.request = replace(
            request,
            query=substitute_parameters(head, request.params) + payload,
        )
        return mask(stmt.request.query, strings_only=True)

    def _into_outfile(self, stmt: _Statement, m_of: "re.Match") -> _Logged:
        """SELECT ... INTO OUTFILE '<path>' [FORMAT <fmt>]: run the
        inner query and write the rendered result to a local file
        (clickhouse-local semantics; default format TabSeparated like
        CH). Result = one row with (path, rows_written)."""
        request = stmt.request
        inner_sql, out_path, truncate, fmt_name = self._raw_groups(
            m_of, request.query
        )
        if request.remote:
            raise ValueError(
                "INTO OUTFILE is a client-side feature and is not "
                "served over network endpoints (ClickHouse "
                "servers reject it too); fetch the result and "
                "write locally, or use INSERT INTO FUNCTION "
                "file(...) for an engine-owned sink path"
            )
        from bighouse_spark.formats import (
            normalize_format,
            render_result,
        )

        # Validate format and overwrite policy BEFORE running the
        # (possibly expensive) inner query.
        fmt = normalize_format(fmt_name or "TabSeparated")
        if fmt is None:
            raise ValueError(
                f"INTO OUTFILE: unknown FORMAT {fmt_name!r}"
            )
        import os as _os

        if _os.path.exists(out_path) and not truncate:
            raise ValueError(
                f"INTO OUTFILE: {out_path} exists — add the "
                "TRUNCATE modifier to overwrite (CH semantics)"
            )
        inner = self.execute(
            QueryRequest(query=inner_sql, query_id=request.query_id)
        )
        body, _ = render_result(
            inner.cols, inner.rows, fmt, types=inner.types,
            elapsed=inner.elapsed_sec,
        )
        self._commit()
        with open(out_path, "wb") as fh:
            fh.write(body)
        return _Logged(
            QueryResult(
                cols=["path", "rows"],
                rows=[[out_path, len(inner.rows)]],
            ),
            "<outfile>", len(inner.rows),
        )

    def _route_insert(self, stmt: _Statement, masked: str, stream_to):
        raw = stmt.request.query
        # CH's INSERT INTO FUNCTION s3/file(...) SELECT ... sink form
        # → distributed write (the engine's execute_to_sink), result =
        # one row with the path (the reference's intended-but-unbuilt
        # "Return S3 url", workflow_query_executor.go:94).
        m = self._INSERT_FN_RE.match(masked)
        if m:
            _, path, fmt_name, select_sql = self._raw_groups(m, raw)
            fmt = {"parquet": "parquet", "csv": "csv", "csvwithnames": "csv",
                   "json": "json", "jsoneachrow": "json",
                   "orc": "orc"}[(fmt_name or "parquet").lower()]
            meta = self.execute_to_sink(select_sql, path=path, fmt=fmt)
            return QueryResult(cols=["path"], rows=[[meta["path"]]])
        m = self._INSERT_INPUT_RE.match(masked)
        if m:
            return self._insert_input(stmt, m, masked, stream_to)
        m = self._INSERT_FMT_RE.match(masked)
        if m:
            return self._insert_format(stmt, m)
        # CH's INSERT INTO <table> append form against ATTACHed
        # storage (positional columns, like CH).
        m = self._INSERT_TBL_RE.match(masked)
        if m:
            return self._insert_into_attached(
                raw, m.group(1), m.start(3), cols=m.group(2),
            )
        return self._route_query(stmt, masked, stream_to)

    def _insert_input(
        self, stmt: _Statement, m_inp: "re.Match", masked: str, stream_to,
    ):
        """input('schema') INSERT transform: parse the payload with
        the declared structure, expose it as a temp view, and
        re-enter as an ordinary INSERT ... SELECT."""
        request = stmt.request
        name, col_list, select_part, schema_str, fmt_name, payload \
            = self._raw_groups(m_inp, request.query)
        from bighouse_spark.dialect.schema import (
            parse_schema_string,
        )
        from bighouse_spark.dialect.transpile import (
            parse_inline_payload,
        )

        struct = parse_schema_string(schema_str.strip("'"))
        view = f"__bh_input_{uuid.uuid4().hex}"
        parse_inline_payload(
            self._stmt_session, fmt_name, payload, struct
        ).createOrReplaceTempView(view)
        # masked locate: a literal containing input('..') before the
        # real call must not be substituted
        m_call = re.search(
            r"\binput\s*\(\s*'[^']*'\s*\)",
            masked[m_inp.start(3):m_inp.end(3)],
        )
        select_rw = (
            select_part[:m_call.start()] + view
            + select_part[m_call.end():]
        )
        cols = f"({col_list})" if col_list else ""
        stmt.request = replace(
            request, query=f"INSERT INTO {name} {cols} {select_rw}"
        )
        return self._route_insert(
            stmt, mask(stmt.request.query, strings_only=True), stream_to
        )

    def _insert_format(self, stmt: _Statement, m_fmt: "re.Match") -> _Logged:
        """CH wire-style INSERT ... FORMAT <fmt> <payload>: the shape
        every CH client emits over HTTP. JSONEachRow matches columns
        BY NAME (CH semantics); Values/CSV/TSV are positional. The
        inline payload is driver-parsed — it arrived in the request
        body, so it is by construction request-sized, not data-lake
        sized; bulk loads use INSERT ... SELECT FROM s3()/file()."""
        request = stmt.request
        name, fmt_cols, fmt_name, payload = self._raw_groups(
            m_fmt, request.query
        )
        fmt_name = fmt_name.lower()
        if name not in self._attached:
            raise ValueError(
                f"INSERT INTO {name}: not an attached table"
            )
        full_target = self._target_schema(name)
        target = full_target
        if fmt_cols:
            from pyspark.sql import types as T

            listed = [
                c.strip().strip('`"')
                for c in fmt_cols.split(",") if c.strip()
            ]
            by_name = {f.name: f for f in full_target.fields}
            unknown = [c for c in listed if c not in by_name]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {name} ({fmt_cols}): unknown "
                    f"column(s) {unknown}"
                )
            # the payload carries only the listed columns; the
            # rest fill NULL / CH type defaults after decode
            target = T.StructType([by_name[c] for c in listed])
        if fmt_name == "values":
            request = stmt.request = replace(
                request, query=f"INSERT INTO {name} VALUES {payload}"
            )
            return self._insert_into_attached(
                request.query, name, len(f"INSERT INTO {name} "),
                cols=fmt_cols,
            )
        if fmt_name == "jsoneachrow":
            import json as _json

            rows = [
                _json.loads(line)
                for line in payload.strip().splitlines()
                if line.strip()
            ]
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            # Build SCALAR fields as strings and cast after —
            # JSON carries dates/decimals as strings and ints
            # where the table wants doubles, and createDataFrame
            # type-checks eagerly (FIELD_DATA_TYPE_UNACCEPTABLE).
            # Nested types keep their target type.
            def _nested(dt: "T.DataType") -> bool:
                return isinstance(dt, (T.ArrayType, T.MapType, T.StructType))

            build = T.StructType(
                [
                    T.StructField(
                        f.name,
                        f.dataType if _nested(f.dataType)
                        else T.StringType(),
                        True,
                    )
                    for f in target.fields
                ]
                # per-field ABSENT flags: CH distinguishes a
                # missing key (fill the declared/type default —
                # input_format_defaults_for_omitted_fields=1,
                # the default) from an explicit JSON null
                + [
                    T.StructField(
                        f"__absent_{f.name}", T.BooleanType(),
                        False,
                    )
                    for f in target.fields
                ]
            )

            def _cell(r: dict, f: "T.StructField"):
                v = r.get(f.name)
                if v is None or _nested(f.dataType):
                    return v
                if isinstance(v, bool):
                    return "true" if v else "false"
                return str(v)

            df = self.spark.createDataFrame(
                [
                    tuple(_cell(r, f) for f in target.fields)
                    + tuple(
                        f.name not in r for f in target.fields
                    )
                    for r in rows
                ],
                build,
            )
            aligned = df.select(*[
                F.when(
                    F.col(f"__absent_{f.name}"),
                    F.expr(
                        self._missing_col_default_sql(name, f)
                    ),
                )
                .otherwise(F.col(f.name))
                .cast(f.dataType)
                .alias(f.name)
                for f in target.fields
            ])
        else:  # csv / tsv (positional)
            from pyspark.sql import functions as F

            if fmt_name in ("csv", "csvwithnames"):
                # RFC-quoted CSV — the old naive split(',') +
                # strip-quotes corrupted embedded delimiters,
                # doubled quotes, and quoted newlines (a quoted
                # field spanning lines became extra rows;
                # `q""uote` landed with the doubling intact —
                # round-14 probe)
                import csv as _csv
                import io as _io

                recs = [
                    rec
                    for rec in _csv.reader(
                        _io.StringIO(payload.strip())
                    )
                    if rec
                ]
                header = None
                if fmt_name == "csvwithnames":
                    header = [h.strip() for h in recs[0]]
                    recs = recs[1:]
                data = [
                    tuple(
                        None if v in ("", "\\N") else v
                        for v in rec
                    )
                    for rec in recs
                ]
                data = self._reorder_by_header(name, data, header, target)
            else:  # tsv family: CH backslash escapes, \N NULL
                # strip NEWLINES only — a bare .strip() eats a
                # trailing TAB, i.e. the last row's empty final
                # cell (tab is whitespace), shifting its fields
                lines = [
                    line
                    for line in payload.strip("\r\n")
                    .splitlines()
                    if line != ""
                ]
                header = None
                if fmt_name in (
                    "tsvwithnames", "tabseparatedwithnames"
                ):
                    header = [h.strip() for h in lines[0].split("\t")]
                    lines = lines[1:]
                _TSV_UN = {
                    "t": "\t", "n": "\n", "r": "\r",
                    "0": "\0", "\\": "\\", "'": "'",
                }

                def _unesc_tsv(v: str):
                    if v == "\\N" or v == "":
                        return None
                    out, i = [], 0
                    while i < len(v):
                        if v[i] == "\\" and i + 1 < len(v):
                            out.append(_TSV_UN.get(v[i + 1], v[i + 1]))
                            i += 2
                        else:
                            out.append(v[i])
                            i += 1
                    return "".join(out)

                data = [
                    tuple(
                        _unesc_tsv(v) for v in line.split("\t")
                    )
                    for line in lines
                ]
                data = self._reorder_by_header(name, data, header, target)
            df = self.spark.createDataFrame(
                data,
                ", ".join(f"`{f.name}` string" for f in target.fields),
            )
            aligned = df.select(
                *[F.col(f.name).cast(f.dataType) for f in target.fields]
            )
        if fmt_cols:
            listed_names = {f.name for f in target.fields}
            aligned = aligned.select(*[
                (F.col(f.name) if f.name in listed_names
                 else self._missing_col_default(name, f))
                .alias(f.name)
                for f in full_target.fields
            ]).select(*[
                F.col(f.name).cast(f.dataType)
                for f in full_target.fields
            ])
        return self._append_aligned(aligned, name, f"<insert {fmt_name}>")

    def _route_alter(self, stmt: _Statement, masked: str, stream_to):
        head = self._ALTER_HEAD_RE.match(masked)
        if head is None:
            self._refuse_access_ddl(masked)
            return self._route_query(stmt, masked, stream_to)
        for pattern, handler in self._ALTER_ROUTES:
            m = pattern.match(masked, head.end())
            if m:
                return getattr(self, handler)(stmt, head.group(1), m, masked)
        return self._route_query(stmt, masked, stream_to)

    # ALTER TABLE sub-commands, tried in this order after the shared
    # head. Each handler gets ``(stmt, table, match, masked)``.
    _ALTER_ROUTES = (
        (_ALTER_COLUMN_RE, "_alter_column"),
        (_PARTITION_FROM_RE, "_alter_partition_from"),
        (_DROP_DETACHED_RE, "_alter_drop_detached"),
        (_DROP_PARTITION_RE, "_alter_partition"),
        (_ALTER_PROJECTION_RE, "_alter_projection"),
        (_ALTER_INDEX_RE, "_alter_index"),
        (_MATERIALIZE_TTL_RE, "_alter_materialize_ttl"),
        (_MODIFY_ORDER_BY_RE, "_alter_order_by"),
        (_ALTER_TTL_RE, "_alter_ttl"),
        (_ALTER_CLEAR_COLUMN_RE, "_alter_clear_column"),
        (_ALTER_FREEZE_RE, "_alter_freeze"),
        (_ALTER_UNFREEZE_RE, "_alter_unfreeze"),
        (_ALTER_FETCH_RE, "_alter_fetch"),
        # the IN PARTITION fold runs before DELETE/UPDATE match
        (_IN_PARTITION_RE, "_alter_in_partition"),
        (_ALTER_DELETE_RE, "_alter_delete"),
        (_ALTER_UPDATE_RE, "_alter_update"),
        (_COMMENT_COLUMN_RE, "_alter_comment_column"),
        (_ALTER_SETTING_RE, "_alter_setting"),
    )

    def _alter_column(self, stmt, name, m, masked) -> _Logged:
        """CH column DDL. In CH these are metadata-only (old parts get
        the column materialized lazily on merge); here they rewrite
        storage eagerly — same observable semantics, mutation-cost
        model, and zero hidden per-file schema divergence (every
        backing file always matches the table schema, so plain
        parquet reads never need mergeSchema)."""
        op, col, rest = self._raw_groups(m, stmt.request.query)
        op = op.upper()
        self._attached_path_or_raise(name, f"ALTER TABLE {op} COLUMN")
        if self._attached[name][1] == "csv":
            raise ValueError(
                f"ALTER TABLE {op} COLUMN on a csv-attached table "
                "is not supported (the attach-time schema string "
                "would go stale); rewrite via INSERT INTO FUNCTION "
                "and re-ATTACH"
            )
        tbl = self.spark.table(name)
        from pyspark.sql import functions as F

        from bighouse_spark.dialect.schema import ch_type_to_spark

        # The recorded CH DDL (CREATE TABLE / ATTACH schema
        # string) must track column DDL, or the re-attach after
        # the storage rewrite pins the PRE-ALTER schema — an
        # added column was unreadable and positional INSERTs
        # mis-sized (round-13 probe). Edit the recorded items in
        # declared order; tables attached without a schema
        # string keep inferring (None stays None).
        old_ddl = self._ch_col_ddl.get(name) \
            or self._attached[name][2]
        ddl_items = (
            [it.strip() for it in split_top_level(old_ddl)]
            if old_ddl else None
        )

        def _item_name(it: str) -> str:
            m2 = re.match(r'^\s*(`[^`]+`|"[^"]+"|\S+)', it)
            return m2.group(1).strip('`"') if m2 else it

        if op == "ADD":
            dm = re.match(
                r"^([\w()\s,]+?)(?:\s+DEFAULT\s+(.+))?$", rest.strip()
            )
            if not dm or not dm.group(1).strip():
                raise ValueError(
                    f"ALTER TABLE ADD COLUMN {col}: need a type, got "
                    f"{rest!r}"
                )
            ch_type, default = dm.group(1).strip(), dm.group(2)
            dt = ch_type_to_spark(ch_type)
            expr = (
                self._transpile(f"SELECT {default}").sql
                .removeprefix("SELECT ")
                if default else "NULL"
            )
            df = tbl.withColumn(col, F.expr(expr).cast(dt))
            if default:
                # future partial INSERTs fill with this too (CH)
                self._column_defaults.setdefault(name, {})[col] = default
            if ddl_items is not None:
                ddl_items.append(
                    f"`{col}` {ch_type}"
                    + (f" DEFAULT {default}" if default else "")
                )
        elif op == "DROP":
            if col not in tbl.columns:
                raise ValueError(f"DROP COLUMN {col}: no such column")
            # CH refuses dropping key columns — and silently
            # keeping the stale record was worse: a dropped
            # ORDER BY column made _table_writer's all-present
            # guard skip the file sort ENTIRELY on every future
            # write (round-14 probe, live).
            if col in (self._partitioned.get(name) or []):
                raise ValueError(
                    f"DROP COLUMN {col}: column is the table's "
                    "PARTITION BY key (ClickHouse refuses "
                    "dropping key columns)"
                )
            if col in (self._ordered.get(name) or []):
                raise ValueError(
                    f"DROP COLUMN {col}: column is part of the "
                    "ORDER BY key (ClickHouse refuses dropping "
                    "key columns)"
                )
            self._refuse_referenced_column(
                name, col, "DROP", " (ClickHouse refuses too)"
            )
            df = tbl.drop(col)
            self._column_defaults.get(name, {}).pop(col, None)
            if ddl_items is not None:
                ddl_items = [it for it in ddl_items if _item_name(it) != col]
        elif op == "RENAME":
            rm = re.match(r"^TO\s+[`\"]?(\w+)[`\"]?$", rest.strip(),
                          re.IGNORECASE)
            if not rm:
                raise ValueError(
                    f"RENAME COLUMN {col}: expected TO <name>, got "
                    f"{rest!r}"
                )
            if col in (self._partitioned.get(name) or []):
                raise ValueError(
                    f"RENAME COLUMN {col}: column is the table's "
                    "PARTITION BY key (its name is baked into "
                    "every partition directory)"
                )
            self._refuse_referenced_column(name, col, "RENAME", "")
            df = tbl.withColumnRenamed(col, rm.group(1))
            dflts = self._column_defaults.get(name, {})
            if col in dflts:
                dflts[rm.group(1)] = dflts.pop(col)
            # the sorting-key record follows the rename, so
            # future writes keep sorting (a stale name silently
            # skipped the sort — same class as DROP above)
            ocols = self._ordered.get(name)
            if ocols and col in ocols:
                self._ordered[name] = [
                    rm.group(1) if c == col else c for c in ocols
                ]
            if ddl_items is not None:
                ddl_items = [
                    re.sub(r'^\s*(`[^`]+`|"[^"]+"|\S+)',
                           f"`{rm.group(1)}`", it, count=1)
                    if _item_name(it) == col else it
                    for it in ddl_items
                ]
        else:  # MODIFY: retype in place (optionally new DEFAULT)
            if re.fullmatch(r"REMOVE\s+DEFAULT", rest.strip(),
                            re.IGNORECASE):
                # metadata-only in CH too: stored values keep
                # their bytes; future fills revert to the type
                # default. The recorded DDL item sheds its
                # DEFAULT clause so SHOW CREATE stays truthful.
                self._column_defaults.get(name, {}).pop(col, None)
                self._strip_ddl_default(name, col)
                return QueryResult(
                    cols=["table", "column"], rows=[[name, col]]
                )
            from bighouse_spark.dialect.schema import (
                parse_column_item,
            )

            _nm, mod_type, mod_clauses = parse_column_item(
                f"`{col}` {rest.strip()}"
            )
            dt = ch_type_to_spark(mod_type)
            df = tbl.withColumn(col, F.col(col).cast(dt))
            if "DEFAULT" in mod_clauses:
                self._column_defaults.setdefault(name, {})[col] = (
                    mod_clauses["DEFAULT"]
                )
            if ddl_items is not None:
                ddl_items = [
                    f"`{col}` {mod_type}"
                    if _item_name(it) == col else it
                    for it in ddl_items
                ]
        if ddl_items is not None:
            new_ddl = ", ".join(ddl_items)
            path, fmt, _old = self._attached[name]
            self._attached[name] = (path, fmt, new_ddl)
            if name in self._ch_col_ddl:
                self._ch_col_ddl[name] = new_ddl
        return self._rewrite_attached(name, df, f"<alter {op.lower()} column>")

    def _refuse_referenced_column(
        self, name: str, col: str, op: str, tail: str,
    ) -> None:
        """Refuse DROP/RENAME COLUMN of a column that the table TTL, a
        skip index or another column's DEFAULT references; ``tail``
        ends each message."""
        ref = re.compile(rf"\b{re.escape(col)}\b")
        ttl = self._ttl.get(name)
        if ttl and ref.search(mask(ttl, strings_only=True)):
            raise ValueError(
                f"{op} COLUMN {col}: column is referenced by the table "
                f"TTL ({ttl}) — REMOVE TTL or MODIFY TTL first{tail}"
            )
        for iname, (iexpr, _ity) in (
            self._skip_indices.get(name) or {}
        ).items():
            if ref.search(mask(iexpr, strings_only=True)):
                raise ValueError(
                    f"{op} COLUMN {col}: column is used by index "
                    f"{iname} — DROP INDEX {iname} first{tail}"
                )
        for ocol, dexpr in (self._column_defaults.get(name) or {}).items():
            if ocol != col and ref.search(mask(dexpr, strings_only=True)):
                raise ValueError(
                    f"{op} COLUMN {col}: column is referenced by "
                    f"{ocol}'s DEFAULT ({dexpr}) — change that default "
                    f"first{tail}"
                )

    def _alter_partition_from(self, stmt, name, m, masked) -> _Logged:
        verb, pq, praw, other = self._raw_groups(m, stmt.request.query)
        return self._partition_from(
            name, verb.upper(),
            self._unquote_partition_id(pq) if pq is not None else praw,
            other,
        )

    def _alter_drop_detached(self, stmt, name, m, masked) -> _Logged:
        import os
        import shutil

        pq, praw = self._raw_groups(m, stmt.request.query)
        part_val = self._unquote_partition_id(pq) if pq is not None else praw
        local = self._attached_path_or_raise(
            name, "ALTER TABLE DROP DETACHED PARTITION"
        )
        pcols = self._partitioned.get(name)
        if not pcols or len(pcols) != 1:
            raise ValueError(
                f"ALTER TABLE {name} DROP DETACHED PARTITION: "
                "single-column partitioned tables only"
            )
        parked_dir = os.path.join(local, ".detached")
        removed = []
        # only the BARE token is the keyword — the quoted
        # spelling 'ALL' addresses the partition whose value is
        # the string ALL, like every other partition router
        is_all = praw is not None and praw.upper() == "ALL"
        if is_all:
            if os.path.isdir(parked_dir):
                for frag in sorted(os.listdir(parked_dir)):
                    fp = os.path.join(parked_dir, frag)
                    if os.path.isdir(fp):
                        shutil.rmtree(fp)
                        removed.append(frag)
        else:
            frag = (
                f"{pcols[0]}="
                f"{self._escape_partition_value(part_val)}"
            )
            fp = os.path.join(parked_dir, frag)
            if not os.path.isdir(fp):
                raise ValueError(
                    f"DROP DETACHED PARTITION {part_val!r}: no "
                    f"detached partition (expected {frag} under "
                    ".detached — see system.detached_parts)"
                )
            shutil.rmtree(fp)
            removed.append(frag)
        return _Logged(
            QueryResult(cols=["dropped"], rows=[[f] for f in removed]),
            "<drop detached partition>",
        )

    def _alter_partition(self, stmt, name, m, masked) -> _Logged:
        """CH partition management: DROP PARTITION deletes the
        partition DIRECTORY — an O(metadata) retention operation, no
        data rewrite (the reason MergeTree users partition by month;
        at 100 TB this is the difference between rm -r one dir and
        rewriting the table)."""
        verb, pq, praw = self._raw_groups(m, stmt.request.query)
        part_val = self._unquote_partition_id(pq) if pq is not None else praw
        local = self._attached_path_or_raise(
            name, f"ALTER TABLE {verb.upper()} PARTITION"
        )
        pcols = self._partitioned.get(name)
        if not pcols:
            raise ValueError(
                f"ALTER TABLE {name} {verb.upper()} PARTITION: "
                "table is not partitioned"
            )
        if len(pcols) != 1:
            raise ValueError(
                f"ALTER TABLE {name} {verb.upper()} PARTITION: "
                "single-column partition keys only "
                f"(table has {pcols})"
            )
        import os
        import shutil

        # Escaped directory spelling (ADVICE r13): a value like
        # "a:b" or "it's" lands on disk as a%3Ab / it%27s — the
        # raw join silently no-opped the DROP for partitions
        # that exist (found by the round-14 ledger-corner tests).
        frag = f"{pcols[0]}={self._escape_partition_value(part_val)}"
        live = os.path.join(local, frag)
        # Dot-prefixed so Spark's file listing ignores parked
        # partitions (same convention as _SUCCESS/_temporary).
        parked_dir = os.path.join(local, ".detached")
        parked = os.path.join(parked_dir, frag)
        verb = verb.upper()
        acted = False
        if verb == "DROP" and os.path.isdir(live):
            shutil.rmtree(live)
            acted = True
        elif verb == "DETACH" and os.path.isdir(live):
            if os.path.isdir(parked):
                # shutil.move into an existing dir would NEST the
                # partition inside it and corrupt the layout.
                raise ValueError(
                    f"DETACH PARTITION {part_val!r}: a detached "
                    "copy already exists; ATTACH or remove it first"
                )
            os.makedirs(parked_dir, exist_ok=True)
            shutil.move(live, parked)
            acted = True
        elif verb == "ATTACH" and os.path.isdir(parked):
            if os.path.isdir(live):
                raise ValueError(
                    f"ATTACH PARTITION {part_val!r}: live partition "
                    "already exists (INSERTed since the detach); "
                    "DROP it first or keep the live data"
                )
            # Column DDL may have run since the DETACH (the
            # whole-table rewrite skips parked partitions), so
            # the parked files can carry a STALE schema — a plain
            # move would hand readers missing columns (silent
            # NULLs instead of declared defaults) or type
            # mismatches. Reconcile like CH materializes defaults
            # for attached parts: fill added columns, drop
            # removed ones, cast changed types; identical schemas
            # keep the plain O(1) move.
            _, fmt_a, _ = self._attached[name]
            if fmt_a not in ("parquet", "orc"):
                # Only self-describing formats can DETECT drift —
                # a raw csv/json read infers _c0.. names, making
                # the compare always "different" and the
                # reconcile below would then replace real data
                # with defaults (review-found, round 14). Column
                # DDL is REFUSED for csv-attached tables, so
                # their parked schema cannot have drifted: the
                # plain move is correct.
                shutil.move(parked, live)
                acted = True
                parked = None
            if parked is not None:
                target = self._target_schema(name)
                want = [f for f in target.fields if f.name not in pcols]
                pf = self.spark.read.format(fmt_a).load(parked)
                same = list(pf.columns) == [
                    f.name for f in want
                ] and all(
                    pf.schema[f.name].dataType.simpleString()
                    == f.dataType.simpleString()
                    for f in want
                )
            if parked is not None and same:
                shutil.move(parked, live)
            elif parked is not None:
                from pyspark.sql import functions as F

                import uuid as _uuid

                aligned = pf.select(*[
                    (
                        F.col(f.name) if f.name in pf.columns
                        else self._missing_col_default(name, f)
                    ).cast(f.dataType).alias(f.name)
                    for f in want
                ])
                tmp = f"{local}.attp-{_uuid.uuid4().hex[:8]}"
                try:
                    self._table_writer(
                        aligned, name, fmt_a, "overwrite",
                        partition_in_path=True,
                    ).save(tmp)
                except BaseException:
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise
                shutil.move(tmp, live)
                shutil.rmtree(parked)
            acted = True
        if acted:
            self._commit()
            self.clear_cache()
            path, fmt, schema = self._attached[name]
            self.attach_table(name, path, fmt=fmt, schema=schema)
        return _Logged(
            QueryResult(
                cols=["partition"], rows=[[frag if acted else ""]]
            ),
            f"<{verb.lower()} partition>",
        )

    def _alter_projection(self, stmt, name, m, masked):
        raise ValueError(
            "PROJECTIONs are MergeTree-internal precomputations; "
            "CREATE MATERIALIZED VIEW <name> ENGINE = "
            "AggregatingMergeTree AS SELECT ... gives the same "
            "precomputed read path here"
        )

    def _alter_index(self, stmt, name, m_idx, masked):
        op, iname, rest = self._raw_groups(m_idx, stmt.request.query)
        op = op.upper()
        self._attached_path_or_raise(name, f"ALTER TABLE {op} INDEX")
        idx = self._skip_indices.setdefault(name, {})
        if op == "ADD":
            # masked locate: the index EXPR may hold literals
            # containing ' TYPE x' (round-14 router sweep)
            m = re.match(
                r"^(.*?)\s+TYPE\s+(\w+)(?:\s*\([^)]*\))?"
                r"(?:\s+GRANULARITY\s+\d+)?\s*$",
                masked[m_idx.start(3):m_idx.end(3)],
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(
                    "ALTER TABLE ADD INDEX <name> <expr> TYPE "
                    "{bloom_filter|tokenbf_v1|ngrambf_v1|minmax|"
                    "set} [GRANULARITY n]"
                )
            expr = rest[m.start(1):m.end(1)].strip()
            ityp = m.group(2).lower()
            if ityp not in (
                "bloom_filter", "tokenbf_v1", "ngrambf_v1",
                "minmax", "set",
            ):
                raise ValueError(
                    f"ADD INDEX: unsupported type {ityp!r} "
                    "(bloom_filter/tokenbf_v1/ngrambf_v1/minmax/"
                    "set are served)"
                )
            col = expr.strip().strip('`"')
            if ityp in (
                "bloom_filter", "tokenbf_v1", "ngrambf_v1"
            ) and not re.match(r"^\w+$", col):
                raise ValueError(
                    "bloom-family skip indices materialize as "
                    "parquet column-chunk bloom filters, which "
                    "need a PLAIN COLUMN — index the column "
                    "itself, not an expression"
                )
            idx[iname] = (col, ityp)
            return QueryResult(
                cols=["table", "index", "type"],
                rows=[[name, iname, ityp]],
            )
        if op == "DROP":
            idx.pop(iname, None)
            return QueryResult(
                cols=["table", "index"], rows=[[name, iname]],
            )
        if op == "MATERIALIZE":
            # rewrite every file so the blooms exist on disk for
            # data inserted BEFORE the index was added (CH's
            # MATERIALIZE INDEX backfill)
            if iname not in idx:
                raise ValueError(
                    f"MATERIALIZE INDEX {iname}: no such index "
                    f"on {name}"
                )
            return self._rewrite_attached(
                name, self.spark.table(name), "<materialize index>"
            )
        # CLEAR INDEX: parquet stats/blooms are part of the data
        # files — clearing is a no-op acknowledged like CH
        return QueryResult(cols=["table", "index"], rows=[[name, iname]])

    def _alter_materialize_ttl(self, stmt, name, m, masked) -> _Logged:
        # CH `ALTER TABLE t MATERIALIZE TTL`: apply the recorded
        # TTL filter NOW (a part rewrite), instead of waiting for
        # the next merge/OPTIMIZE.
        self._attached_path_or_raise(name, "ALTER TABLE MATERIALIZE TTL")
        ttl = self._ttl.get(name)
        if not ttl:
            raise ValueError(
                f"MATERIALIZE TTL: table {name} has no TTL — set "
                "one with ALTER TABLE ... MODIFY TTL <expr>"
            )
        sel = self._transpile(
            f"SELECT * FROM {name} WHERE "
            f"ifNull(({ttl}) > now(), true)"
        )
        self._record_mutation(name, "MATERIALIZE TTL")
        return self._rewrite_attached(name, self._sql(sel.sql), sel.sql)

    def _alter_order_by(self, stmt, name, m, masked) -> QueryResult:
        # CH `MODIFY ORDER BY`: metadata-only — the sorting key
        # may only be EXTENDED (CH requires appended expressions;
        # existing parts keep their old order until rewritten,
        # exactly as here: future writes sort by the new key).
        self._attached_path_or_raise(name, "ALTER TABLE MODIFY ORDER BY")
        raw_key = self._raw_groups(m, stmt.request.query)[0].strip()
        cols = [
            c.strip().strip('`"')
            for c in raw_key.strip("()").split(",")
            if c.strip()
        ]
        have = set(self.spark.table(name).columns)
        bad = [c for c in cols if c not in have]
        if bad:
            raise ValueError(
                f"MODIFY ORDER BY: unknown column(s) {bad} — "
                "expression keys are not supported here (use "
                "stored columns, as CREATE TABLE ORDER BY does)"
            )
        prev = self._ordered.get(name) or []
        if prev and cols[:len(prev)] != prev:
            raise ValueError(
                f"MODIFY ORDER BY: the new key must extend the "
                f"existing sorting key {prev} (ClickHouse only "
                "allows appending to ORDER BY)"
            )
        self._ordered[name] = cols
        return QueryResult(
            cols=["table", "order_by"],
            rows=[[name, ", ".join(cols)]],
        )

    def _alter_ttl(self, stmt, name, m, masked):
        remove, expr = self._raw_groups(m, stmt.request.query)
        self._attached_path_or_raise(name, "ALTER TABLE TTL")
        if remove:
            self._ttl.pop(name, None)
            return QueryResult(cols=["table"], rows=[[name]])
        expr = expr.strip()
        # validate now (typecheck via LIMIT 0), apply at OPTIMIZE
        probe = self._transpile(
            f"SELECT ifNull(({expr}) > now(), true) AS "
            f"__ttl_probe FROM {name} LIMIT 0"
        )
        self._sql(probe.sql).schema  # analysis-only
        self._ttl[name] = expr
        return QueryResult(cols=["table", "ttl"], rows=[[name, expr]])

    def _alter_clear_column(self, stmt, name, m, masked) -> _Logged:
        col, in_part = self._raw_groups(m, stmt.request.query)
        self._attached_path_or_raise(name, "ALTER TABLE CLEAR COLUMN")
        df = self.spark.table(name)
        if col not in df.columns:
            raise ValueError(f"CLEAR COLUMN: no column {col!r}")
        if in_part:
            return self._clear_column_in_partition(name, col, in_part)
        clear_sql = self._clear_column_sql(name, col)
        items = [
            f"{clear_sql} AS `{c}`" if c == col else f"`{c}`"
            for c in df.columns
        ]
        sel = f"SELECT {', '.join(items)} FROM {name}"
        return self._rewrite_attached(name, self._sql(sel), sel)

    def _alter_freeze(self, stmt, name, m, masked) -> _Logged:
        pq, praw, snap = self._raw_groups(m, stmt.request.query)
        return self._freeze_attached(
            name, self._unquote_partition_id(snap),
            partition_val=self._unquote_partition_id(pq)
            if pq is not None else praw,
        )

    def _alter_unfreeze(self, stmt, name, m, masked) -> QueryResult:
        # UNFREEZE removes the named FREEZE snapshot (CH 21.x+).
        # Snapshots here are whole shadow trees; the PARTITION
        # spelling removes the same named tree (a partition-
        # scoped FREEZE already wrote only that partition).
        import os
        import shutil

        (snap,) = self._raw_groups(m, stmt.request.query)
        snap = self._unquote_partition_id(snap)
        local = self._attached_path_or_raise(name, "ALTER TABLE UNFREEZE")
        self._check_snapshot_name(snap)
        dest = os.path.join(f"{local.rstrip('/')}.shadow", snap)
        if not os.path.isdir(dest):
            raise ValueError(
                f"UNFREEZE {name}: no snapshot named {snap!r}"
            )
        shutil.rmtree(dest)
        return QueryResult(cols=["unfrozen"], rows=[[snap]])

    def _alter_fetch(self, stmt, name, m, masked):
        raise ValueError(
            "FETCH PARTITION downloads a part from a ClickHouse "
            "replica's ZooKeeper path — replication-specific "
            "storage internals this engine does not serve; copy "
            "partitions between tables with ALTER TABLE ... "
            "ATTACH/REPLACE PARTITION <p> FROM <table> instead"
        )

    def _alter_in_partition(self, stmt, name, m, masked):
        """Fold ``IN PARTITION p`` into the mutation: a partition-local
        rewrite when the table allows one, else an ANDed partition-key
        predicate on the WHERE, after which the statement routes again
        (to DELETE or UPDATE)."""
        raw = stmt.request.query
        head = raw[:m.end(1)]
        pq, praw, cond = self._raw_groups(m, raw)[1:]
        scoped = self._mutation_in_partition(
            name, head, pq, praw, cond, masked[:m.end(1)]
        )
        if scoped is not None:
            return scoped
        stmt.request = replace(
            stmt.request,
            query=(
                f"{head} WHERE "
                f"({self._partition_predicate(name, pq, praw)}) "
                f"AND ({self._coerce_mutation_cond(cond)})"
            ),
        )
        return self._route_alter(
            stmt, mask(stmt.request.query, strings_only=True), None
        )

    def _alter_delete(self, stmt, name, m, masked) -> _Logged:
        (cond,) = self._raw_groups(m, stmt.request.query)
        cond = self._coerce_mutation_cond(cond)
        self._attached_path_or_raise(name, "ALTER TABLE DELETE")
        sel = self._transpile(
            f"SELECT * FROM {name} WHERE NOT ({cond})"
        )
        self._record_mutation(name, f"DELETE WHERE {cond}")
        return self._rewrite_attached(name, self._sql(sel.sql), sel.sql)

    def _alter_update(self, stmt, name, m, masked) -> _Logged:
        raw = stmt.request.query
        self._attached_path_or_raise(name, "ALTER TABLE UPDATE")
        split = self._first_toplevel_where(masked, m.end())
        if split is None:
            raise ValueError(
                f"ALTER TABLE {name} UPDATE: mutations require "
                "WHERE <condition> (use WHERE 1 for all rows, "
                "as in ClickHouse)"
            )
        assigns = raw[m.end():split[0]].strip()
        cond = self._coerce_mutation_cond(raw[split[1]:].strip())
        pairs = self._update_pairs(
            name, assigns, self.spark.table(name).columns
        )
        items = [
            f"CASE WHEN ({cond}) THEN ({pairs[c]}) ELSE `{c}` END"
            f" AS `{c}`" if c in pairs else f"`{c}`"
            for c in self.spark.table(name).columns
        ]
        sel = self._transpile(
            f"SELECT {', '.join(items)} FROM {name}"
        )
        self._record_mutation(name, f"UPDATE {assigns} WHERE {cond}")
        return self._rewrite_attached(name, self._sql(sel.sql), sel.sql)

    def _alter_comment_column(self, stmt, name, m, masked):
        if_exists, col, comment = self._raw_groups(m, stmt.request.query)
        try:
            cols = self.spark.table(name).columns
        except Exception:
            raise ValueError(
                f"COMMENT COLUMN: table {name} not found"
            )
        if col not in cols:
            if if_exists:
                return QueryResult(cols=["commented"], rows=[])
            raise ValueError(
                f"COMMENT COLUMN: {name} has no column {col}"
            )
        self._comments[(name, col)] = comment
        return _Logged(
            QueryResult(cols=["commented"], rows=[[f"{name}.{col}"]]),
            "<comment>",
        )

    def _alter_setting(self, stmt, name, m, masked) -> _Logged:
        # ALTER TABLE ... MODIFY/RESET SETTING: MergeTree storage
        # knobs — accepted and dropped like the CREATE-time SETTINGS
        # clause (parquet storage has no per-table knobs to honor).
        return _Logged(QueryResult(cols=["ok"], rows=[[1]]), "<alter-setting>")

    def _route_create(self, stmt: _Statement, masked: str, stream_to):
        self._refuse_access_ddl(masked)
        # CH CREATE TABLE (MergeTree/Memory/Log — the engine name only
        # affects CH-side storage internals, all of which parquet
        # subsumes here): materialize an empty engine-owned parquet
        # directory with the declared schema and attach it, so the
        # whole write surface (INSERT, mutations, OPTIMIZE, MVs,
        # system_parts) works on created tables exactly as on ATTACHed
        # ones. PARTITION BY <stored column(s)> is HONORED — data
        # lands in partition directories and partition-key predicates
        # prune at the scan (CH MergeTree partitioning, the
        # reference's main pruning lever; PartitionFilters proven in
        # test_plan_shapes). ORDER BY is HONORED too: every write to
        # the table sorts rows by the declared key before landing
        # (see _ordered / the table-meta order_by record below).
        # SETTINGS (MergeTree storage knobs) are accepted and
        # dropped — they have no Spark-side meaning.
        # CREATE OR REPLACE TABLE: drop-if-exists, then go on as a
        # plain CREATE (CH's atomic swap collapses to this in a
        # single-writer engine).
        m_cor = self._CREATE_OR_REPLACE_RE.match(masked)
        if m_cor:
            nm = m_cor.group(3)
            if nm in self._attached or self.spark.catalog.tableExists(nm):
                self.execute(f"DROP TABLE IF EXISTS {nm}")
            raw = stmt.request.query
            stmt.request = replace(
                stmt.request,
                query=raw[:m_cor.end(1)] + raw[m_cor.start(2):],
            )
            # the same cut on the masked copy keeps it aligned
            masked = masked[:m_cor.end(1)] + masked[m_cor.start(2):]
        # CTAS before the column-list form
        m = self._CTAS_RE.match(masked)
        if m and not self._CREATE_TABLE_HEAD_RE.match(masked):
            return self._create_table_as(stmt, m, masked)
        m = self._CREATE_VIEW_RE.match(masked)
        if m:
            # CH CREATE VIEW re-evaluates its SELECT per query — a
            # Spark temp view has identical semantics. Session-scoped,
            # like everything in this engine.
            name, select_sql = self._raw_groups(m, stmt.request.query)
            sel = self._transpile(select_sql, self.spark)
            self._publish(self.spark.sql(sel.sql), name)
            self._user_views[name] = sel.sql
            return _Logged(
                QueryResult(cols=["view"], rows=[[name]]), "<create view>"
            )
        m = self._CREATE_TABLE_HEAD_RE.match(masked)
        if m:
            return self._create_table(stmt, m, masked)
        m = self._CREATE_DICT_RE.match(masked)
        if m:
            return self._create_dictionary(stmt, m, masked)
        masked = self._bind_dict_calls(stmt, masked)
        m = self._CREATE_MV_RE.match(masked)
        if m:
            name, populate, select_sql = self._raw_groups(
                m, stmt.request.query
            )
            return self._create_materialized_view(
                name, bool(populate), select_sql
            )
        return self._route_query(stmt, masked, stream_to)

    def _create_table_as(self, stmt, m_ctas, masked) -> QueryResult | _Logged:
        """CTAS: materialize the SELECT into an engine-owned parquet
        directory and attach — the result is a real table with the
        full write surface, same as CREATE TABLE + INSERT."""
        if_not_exists, name, part_spec, order_spec, select_sql = (
            self._raw_groups(m_ctas, stmt.request.query)
        )
        if name in self._attached or name in self._mviews:
            if if_not_exists:
                return QueryResult(cols=["table"], rows=[[name]])
            raise ValueError(f"CREATE TABLE {name}: name in use")
        import tempfile

        sel = self._transpile(select_sql)
        df = self._sql(sel.sql)
        path = tempfile.mkdtemp(prefix=f"bh_tbl_{name}_")
        decl_schema = None
        if part_spec:
            pcols = self._parse_partition_by(part_spec, df.columns)
            self._partitioned[name] = pcols
            # Re-reads of a partitioned dir would otherwise infer
            # partition columns last (and the empty case not at
            # all): register with the declared column order/types.
            from bighouse_spark.dialect.schema import spark_type_to_ch

            decl_schema = ", ".join(
                f"`{f.name}` {spark_type_to_ch(f.dataType)}"
                for f in df.schema.fields
            )
        if order_spec:
            ocols = self._parse_order_by(order_spec, df.columns)
            if ocols:
                self._ordered[name] = ocols
        self._table_writer(df, name, "parquet", "overwrite").save(path)
        self._commit()
        self._mark_null_engine(name, masked)
        self.attach_table(name, path, schema=decl_schema)
        self._discard_if_null(name)  # CTAS into Null keeps nothing
        return _Logged(
            QueryResult(cols=["table"], rows=[[name]]),
            "<create table as>",
        )

    def _mark_null_engine(self, name: str, masked: str) -> None:
        """Record whether CREATE declared ``ENGINE = Null``. Searched on
        the masked statement: 'ENGINE = Null' inside a SELECT literal
        must not mark the table (silent data drop, found round 14)."""
        m_eng = re.search(r"ENGINE\s*=\s*(\w+)", masked, re.IGNORECASE)
        self._null_tables.discard(name)
        if m_eng and m_eng.group(1).lower() == "null":
            self._null_tables.add(name)

    def _create_table(self, stmt, m_ct, masked) -> QueryResult | _Logged:
        if_not_exists, name = m_ct.groups()
        # balanced-paren scan for the column list (types like
        # Decimal(20, 4) nest; a regex can't balance them)
        q = stmt.request.query
        close = close_paren(q, m_ct.end() - 1)
        i = len(q) + 1 if close is None else close + 1
        cols, tail = q[m_ct.end(): i - 1], q[i:]
        m_tail = (
            None if close is None
            else self._CREATE_TABLE_TAIL_RE.match(masked[i:])
        )
        if m_tail is None:
            raise ValueError(
                f"CREATE TABLE {name}: unsupported trailing clause "
                f"{tail.strip()[:60]!r} (PARTITION BY is honored; "
                "ENGINE/ORDER BY/PRIMARY KEY/SETTINGS are accepted "
                "and dropped)"
            )
        if name in self._attached or name in self._mviews:
            if if_not_exists:
                return QueryResult(cols=["table"], rows=[[name]])
            raise ValueError(f"CREATE TABLE {name}: name in use")
        import tempfile

        from bighouse_spark.dialect.schema import parse_schema_string

        schema = parse_schema_string(cols)
        path = tempfile.mkdtemp(prefix=f"bh_tbl_{name}_")
        decl_schema = None
        tail_part, tail_order = self._raw_groups(m_tail, tail)
        if tail_part:
            self._partitioned[name] = self._parse_partition_by(
                tail_part, [f.name for f in schema.fields]
            )
            # A partitioned dir stores partition values in dir
            # names, not files — keep the declared schema on the
            # registration so column order and types (and the
            # empty-table read) stay exactly as declared.
            decl_schema = cols
        if tail_order:
            ocols = self._parse_order_by(
                tail_order, [f.name for f in schema.fields]
            )
            if ocols:
                self._ordered[name] = ocols
        self._table_writer(
            self.spark.createDataFrame([], schema), name, "parquet",
            "overwrite",
        ).save(path)
        self._commit()
        self.attach_table(name, path, schema=decl_schema)
        self._ch_col_ddl[name] = cols
        self._column_defaults.pop(name, None)
        from bighouse_spark.dialect.schema import (
            parse_schema_defaults,
        )

        col_defaults = parse_schema_defaults(cols)
        if col_defaults:
            self._column_defaults[name] = col_defaults
        self._mark_null_engine(name, masked)
        return _Logged(
            QueryResult(cols=["table"], rows=[[name]]), "<create table>"
        )

    def _create_dictionary(self, stmt, m_dict, masked) -> _Logged:
        """CH dictionary DDL: the dictionary IS its source view + key;
        LAYOUT/LIFETIME are in-memory/refresh tuning, dropped."""
        name, pk, source = self._raw_groups(m_dict, stmt.request.query)
        # Masked locate, raw slice: another SOURCE arg's literal
        # (PASSWORD 'use TABLE x', QUERY '...') could otherwise
        # feed the sniff a phantom table name — and silently bind
        # the dictionary to the WRONG source if that name exists
        # (round-14 ledger corner, closed).
        sm = re.search(
            r"TABLE\s*\(?\s*(?:'([^']*)'|([\w.]+))",
            masked[m_dict.start(3):m_dict.end(3)], re.IGNORECASE,
        )
        if not sm:
            raise ValueError(
                f"CREATE DICTIONARY {name}: SOURCE must name a "
                "TABLE (SOURCE(CLICKHOUSE(TABLE 'x')))"
            )
        g = 1 if sm.group(1) is not None else 2
        src = source[sm.start(g):sm.end(g)].split(".")[-1]
        if pk not in self.spark.table(src).columns:
            raise ValueError(
                f"CREATE DICTIONARY {name}: key {pk!r} not in {src}"
            )
        self._dicts[name] = (src, pk)
        return _Logged(
            QueryResult(cols=["dictionary"], rows=[[name]]),
            "<create dictionary>",
        )

    def _route_drop(self, stmt: _Statement, masked: str, stream_to):
        m = self._DROP_VIEW_RE.match(masked)
        if m:
            name = m.group(1)
            self._unpublish(name)
            self._user_views.pop(name, None)
            return _Logged(
                QueryResult(cols=["dropped"], rows=[[name]]), "<drop view>"
            )
        self._refuse_access_ddl(masked)
        m = self._DROP_DICT_RE.match(masked)
        if m:
            self._dicts.pop(m.group(1), None)
            return QueryResult(cols=["dropped"], rows=[[m.group(1)]])
        m = self._DROP_TRUNCATE_RE.match(masked)
        if m:
            return self._drop_table(m)
        return self._route_query(stmt, masked, stream_to)

    def _drop_table(self, m_dt: "re.Match") -> QueryResult | _Logged:
        op, name = m_dt.group(1).upper(), m_dt.group(3)
        if_exists = m_dt.group(2) is not None
        # IF EXISTS silences the unknown-table case (CH
        # semantics); without it, an unknown name must raise
        # rather than acknowledge a drop that did nothing.
        known = (
            name in self._attached
            or self.spark.catalog.tableExists(name)
        )
        if not known:
            if if_exists:
                return QueryResult(cols=["ok"], rows=[])
            raise ValueError(
                f"{op} TABLE {name}: unknown table (spell "
                f"{op} TABLE IF EXISTS to ignore)"
            )
        if op == "TRUNCATE":
            self._attached_path_or_raise(name, "TRUNCATE TABLE")
            return self._rewrite_attached(
                name, self.spark.table(name).limit(0), "<truncate>"
            )
        # DROP detaches the view; the backing storage is shared
        # (the reference ATTACHes a common web disk) and is never
        # deleted from here — so park a tombstone for UNDROP.
        # Dropping a materialized view also discards its private
        # data/checkpoint dirs (they belong to the engine, not
        # the shared storage), so MVs are not undroppable.
        dropped_comments = {
            k: v for k, v in self._comments.items() if k[0] == name
        }
        if name in self._attached and name not in self._mviews:
            self._dropped_tables[name] = (
                self._attached[name],
                self._partitioned.get(name),
                self._ordered.get(name),
                dropped_comments,
                self._ch_col_ddl.get(name),
                self._column_defaults.get(name),
            )
        # Comments describe THIS table's columns — clear them so
        # a different dataset later attached under the same name
        # doesn't inherit stale metadata (UNDROP restores them
        # from the tombstone).
        for k in dropped_comments:
            self._comments.pop(k, None)
        self._unregister_table(name)
        # the declared-order / default records die with the
        # table: leaving them made the first positional INSERT
        # into a same-named REPLACEMENT table transpose columns
        # (round-14 probe — the r13 bug class, DROP+recreate axis)
        self._ch_col_ddl.pop(name, None)
        self._column_defaults.pop(name, None)
        self._user_views.pop(name, None)
        mv = self._mviews.pop(name, None)
        if mv is not None:
            import os
            import shutil

            shutil.rmtree(os.path.dirname(mv["data"]), ignore_errors=True)
        self.clear_cache()
        return _Logged(QueryResult(cols=["dropped"], rows=[[name]]), "<drop>")

    def _unregister_table(self, name: str) -> None:
        """Drop ``name``'s view, its catalog statistics and its
        per-table records (DROP and DETACH)."""
        self._unpublish(name)
        if name in self._analyzed:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}__bhcat")
            self._analyzed.discard(name)
        for records in (self._attached, self._partitioned,
                        self._skip_indices, self._ttl, self._ordered):
            records.pop(name, None)

    def _route_attach(self, stmt: _Statement, masked: str, stream_to):
        m_att = self._ATTACH_RE.match(masked)
        if m_att is None:
            return self._route_query(stmt, masked, stream_to)
        # ATTACH defines the table from storage — any stale
        # ENGINE=Null flag from a previously dropped/renamed name
        # must not survive onto the new attachment.
        self._null_tables.discard(m_att.group(2))
        return self._attach_statement(m_att, stmt.request.query)

    def _route_detach(self, stmt: _Statement, masked: str, stream_to):
        m_det = self._DETACH_RE.match(masked)
        if m_det is None:
            return self._route_query(stmt, masked, stream_to)
        name = m_det.group(1)
        if name in self._attached:
            self._detached[name] = (
                self._attached[name],
                self._partitioned.get(name),
                self._ordered.get(name),
            )
            self._unregister_table(name)
            self._null_tables.discard(name)
            self.clear_cache()
        return _Logged(
            QueryResult(cols=["detached"], rows=[[name]]), "<detach>"
        )

    def _route_undrop(self, stmt: _Statement, masked: str, stream_to):
        m_ud = self._UNDROP_RE.match(masked)
        if m_ud is None:
            return self._route_query(stmt, masked, stream_to)
        name = m_ud.group(1)
        if name not in self._dropped_tables:
            raise ValueError(
                f"UNDROP TABLE {name}: no dropped table of that "
                "name is restorable (materialized views and "
                "never-attached names cannot be undropped)"
            )
        # In-use check BEFORE consuming the tombstone — a failed
        # UNDROP must stay retryable — and covering every object
        # class that could occupy the name, not just attached
        # tables (CH errors whenever the name is taken).
        if (
            name in self._attached
            or name in self._user_views
            or name in self._mviews
            or name in self._detached
            or self.spark.catalog.tableExists(name)
        ):
            raise ValueError(
                f"UNDROP TABLE {name}: the name is in use"
            )
        parked = self._dropped_tables.pop(name)
        (path, fmt, schema), pcols, ocols, comments, col_ddl, \
            col_defaults = parked
        if pcols:
            self._partitioned[name] = pcols
        if ocols:
            self._ordered[name] = ocols
        self._comments.update(comments)
        self.attach_table(name, path, fmt=fmt, schema=schema)
        if col_ddl:
            self._ch_col_ddl[name] = col_ddl
        if col_defaults:
            self._column_defaults[name] = col_defaults
        return _Logged(
            QueryResult(cols=["undropped"], rows=[[name]]), "<undrop>"
        )

    def _route_rename(self, stmt: _Statement, masked: str, stream_to):
        m_rn = self._RENAME_RE.match(masked)
        if m_rn:
            old, new = m_rn.groups()
            self._rename_table(old, new)
            return _Logged(
                QueryResult(cols=["renamed"], rows=[[new]]), "<rename>"
            )
        m_ex = self._EXCHANGE_RE.match(masked)
        if m_ex is None:
            return self._route_query(stmt, masked, stream_to)
        a, b = m_ex.groups()
        if a == b:
            # degenerate self-exchange: a no-op, NOT the 3-step
            # rename (which would strand the table under its temp
            # name when step 2 finds the original gone)
            return _Logged(QueryResult(cols=["status"], rows=[["OK"]]), "")
        # Validate BOTH tables before any rename — the three-step
        # swap below mutates state, so a failure mid-way (e.g. b
        # is an MV, which _rename_table refuses) must be
        # impossible once it starts, or a would be stranded under
        # its temp name.
        for nm in (a, b):
            if nm in self._mviews:
                raise ValueError(
                    f"EXCHANGE TABLES: {nm} is a materialized view"
                )
            if not (
                nm in self._attached
                or self.spark.catalog.tableExists(nm)
            ):
                raise ValueError(f"EXCHANGE TABLES: {nm} not found")
        tmp = f"__bh_xchg_{a}"
        self._rename_table(a, tmp)
        self._rename_table(b, a)
        self._rename_table(tmp, b)
        return _Logged(
            QueryResult(cols=["exchanged"], rows=[[a, b]]), "<exchange>"
        )

    def _route_show(self, stmt: _Statement, masked: str, stream_to):
        def _show(pattern: str):
            return re.match(pattern, masked, re.IGNORECASE)

        rewrite = None
        if _show(r"^\s*SHOW\s+PROCESSLIST\s*$"):
            # CH lists in-flight queries — exactly the job-group
            # registry (killable query_ids + elapsed). The session's
            # scheduler counters stay available as system_profile.
            self.refresh_system_views({"system_processes"})
            rewrite = "SELECT * FROM system_processes"
        elif _show(r"^\s*SHOW\s+CREATE\s+DATABASE\b"):
            return QueryResult(
                cols=["statement"],
                rows=[["CREATE DATABASE default"]],
            )
        elif m := _show(
            r"^\s*SHOW\s+(CHANGED\s+)?SETTINGS\s+(?:(I)?LIKE\s+)?"
            r"'([^']*)'\s*$"
        ):
            self.refresh_system_views({"system_settings"})
            chg, ci, pat = self._raw_groups(m, stmt.request.query)
            cond = (
                f"lower(name) LIKE lower('{pat}')"
                if ci
                else f"name LIKE '{pat}'"
            )
            if chg:
                cond += " AND changed = 1"
            rewrite = f"SELECT * FROM system_settings WHERE {cond}"
        elif _show(r"^\s*SHOW\s+GRANTS\b"):
            # Trust auth model (documented in the wire modules): one
            # implicit all-privileges default user.
            return QueryResult(
                cols=["grants"],
                rows=[["GRANT ALL ON *.* TO default"]],
            )
        elif _show(r"^\s*SHOW\s+USERS\s*$") or _show(
            # Trust-model account listings: the single implicit
            # default entity per kind (round-12 statement sweep: these
            # parsed into Spark's SHOW and died with syntax errors).
            r"^\s*SHOW\s+(ROLES|QUOTAS|SETTINGS\s+PROFILES|PROFILES)\s*$"
        ):
            return QueryResult(cols=["name"], rows=[["default"]])
        elif _show(r"^\s*SHOW\s+CLUSTERS\s*$"):
            self.refresh_system_views({"system_clusters"})
            rewrite = ("SELECT DISTINCT cluster_name AS cluster "
                       "FROM system_clusters ORDER BY cluster")
        elif _show(r"^\s*SHOW\s+ENGINES\s*$"):
            self.refresh_system_views({"system_table_engines"})
            rewrite = "SELECT * FROM system_table_engines ORDER BY name"
        elif _show(r"^\s*SHOW\s+DICTIONARIES\s*$"):
            return QueryResult(
                cols=["name"], rows=[[n] for n in sorted(self._dicts)]
            )
        elif m := _show(
            r"^\s*SHOW\s+CREATE\s+(?:TABLE\s+)?[`\"]?([\w.]+)[`\"]?\s*$"
        ):
            # dotted system.X routes to its view twin (round 11)
            name = m.group(1)
            if name.startswith("system."):
                name = name.replace(".", "_")
                self.refresh_system_views({name})
            return self._show_create_table(name)
        if rewrite is not None:
            stmt.request = replace(stmt.request, query=rewrite)
            masked = mask(rewrite, strings_only=True)
        return self._route_query(stmt, masked, stream_to)

    # CH ops surface: SYSTEM ... maintenance statements map onto
    # the engine's own caches/views; mutations here are eager
    # (synchronous rewrites), so KILL MUTATION has nothing to
    # kill by construction.
    _SYSTEM_RE = re.compile(
        r"^\s*SYSTEM\s+(FLUSH\s+LOGS|DROP\s+QUERY\s+CACHE|"
        r"RELOAD\s+DICTIONAR(?:Y\s+\w+|IES)|DROP\s+MARK\s+CACHE|"
        r"DROP\s+UNCOMPRESSED\s+CACHE|DROP\s+FILESYSTEM\s+CACHE|"
        # background-process toggles: there ARE no background
        # merges/moves/fetches here (merges are explicit OPTIMIZE,
        # mutations synchronous) — acknowledged no-ops so ops
        # tooling scripts run through (round-11 probe)
        r"(?:STOP|START)\s+(?:TTL\s+)?MERGES(?:\s+\S+)?|"
        r"(?:STOP|START)\s+(?:MOVES|FETCHES|REPLICATION\s+QUEUES)"
        r"(?:\s+\S+)?)"
        r"\s*$",
        re.IGNORECASE,
    )

    def _route_system(self, stmt: _Statement, masked: str, stream_to):
        m_sys = self._SYSTEM_RE.match(masked)
        if m_sys is None:
            return self._route_query(stmt, masked, stream_to)
        action = re.sub(r"\s+", " ", m_sys.group(1).upper())
        if action == "FLUSH LOGS":
            self.refresh_system_views(spark=self.spark)
        elif action == "DROP QUERY CACHE":
            with self._cache_lock:
                self._result_cache.clear()
        elif action.startswith("RELOAD DICTIONAR"):
            pass  # dictGet reads live views — always current
        elif action.startswith(("STOP", "START")):
            pass  # no background merges/moves to toggle
        else:  # mark / uncompressed / filesystem cache analogs
            self.spark.catalog.clearCache()
        return _Logged(QueryResult(cols=["ok"], rows=[[1]]), "<system>")

    def _route_kill(self, stmt: _Statement, masked: str, stream_to):
        m_kill = re.match(
            r"^\s*KILL\s+QUERY\s+WHERE\s+query_id\s*=\s*'([^']+)'"
            r"\s*(?:SYNC|ASYNC)?\s*$",
            masked, re.IGNORECASE,
        )
        if m_kill:
            return self._kill_query(
                self._raw_groups(m_kill, stmt.request.query)[0]
            )
        if re.match(r"^\s*KILL\s+MUTATION\b", masked, re.IGNORECASE):
            return QueryResult(cols=["kill_status", "mutation_id"], rows=[])
        return self._route_query(stmt, masked, stream_to)

    def _kill_query(self, qid: str) -> QueryResult:
        return QueryResult(
            cols=["kill_status", "query_id"],
            rows=[["waiting", qid]] if self._cancel(qid) else [],
        )

    def _route_exists(self, stmt: _Statement, masked: str, stream_to):
        m_edb = re.match(
            r"^\s*EXISTS\s+DATABASE\s+[`\"]?(\w+)[`\"]?\s*$",
            masked, re.IGNORECASE,
        )
        if m_edb:
            known = m_edb.group(1).lower() in ("default", "system")
            return QueryResult(cols=["result"], rows=[[1 if known else 0]])
        m_exists = self._EXISTS_RE.match(masked)
        if m_exists is None:
            return self._route_query(stmt, masked, stream_to)
        name = m_exists.group(1)
        # system.one → the system_one view twin. The dotted→
        # underscore mapping applies ONLY to system.* (matching
        # SHOW CREATE / CHECK TABLE) — EXISTS TABLE a.b must not
        # return 1 because an unrelated table named a_b exists.
        candidates = {name}
        if name.startswith("system."):
            self.refresh_system_views({name.replace(".", "_")})
            candidates.add(name.replace(".", "_"))
        def _cat_exists(n: str) -> bool:
            try:
                return self._stmt_session.catalog.tableExists(n)
            except Exception:
                return False
        found = any(
            n in self._attached or n in self._mviews
            or _cat_exists(n)
            for n in candidates
        )
        return QueryResult(cols=["result"], rows=[[1 if found else 0]])

    def _route_check(self, stmt: _Statement, masked: str, stream_to):
        m_chk = re.match(
            r"^\s*CHECK\s+TABLE\s+[`\"]?([\w.]+)[`\"]?\s*$",
            masked, re.IGNORECASE,
        )
        if m_chk is None:
            return self._route_query(stmt, masked, stream_to)
        name = m_chk.group(1)
        if name.startswith("system."):
            name = name.replace(".", "_")
            self.refresh_system_views({name})
        try:
            # Decode-proving probe: per-column count() forces
            # every column's data pages to decode — a bare
            # count(*) on parquet is answered from footer
            # metadata and would miss corrupt pages.
            df = self._stmt_session.table(name)
            df.selectExpr(*[f"count(`{c}`)" for c in df.columns]).collect()
            ok = 1
        except Exception:
            ok = 0
        return QueryResult(cols=["result"], rows=[[ok]])

    def _route_optimize(self, stmt: _Statement, masked: str, stream_to):
        m_opt = self._OPTIMIZE_RE.match(masked)
        if m_opt is None:
            return self._route_query(stmt, masked, stream_to)
        name, pq, praw, _final, dedup = self._raw_groups(
            m_opt, stmt.request.query
        )
        if praw is not None and praw.upper() in (
            "FINAL", "DEDUPLICATE"
        ):
            # `OPTIMIZE ... PARTITION FINAL`: the token after
            # PARTITION is the keyword, not a partition id —
            # invalid in CH too; guide instead of "no such
            # partition FINAL" (r13 Next #5 probe)
            raise ValueError(
                f"OPTIMIZE TABLE {name} PARTITION: a partition "
                "value must precede FINAL/DEDUPLICATE — spell it "
                f"OPTIMIZE TABLE {name} PARTITION '<id>' "
                f"{praw.upper()}"
            )
        part_val = self._unquote_partition_id(pq) if pq is not None else praw
        return self._optimize_attached(
            name, bool(dedup), partition_val=part_val
        )

    def _route_analyze(self, stmt: _Statement, masked: str, stream_to):
        m_an = self._ANALYZE_RE.match(masked)
        if m_an is None:
            return self._route_query(stmt, masked, stream_to)
        return self._analyze_table(m_an.group(1), m_an.group(2))

    def _route_rbac(self, stmt: _Statement, masked: str, stream_to):
        """RBAC family under the trust model: GRANT and SET ROLE are
        vacuously true (the one user already holds ALL privileges,
        roles add nothing) and acknowledge so provisioning scripts
        run through; REVOKE refuses (``_refuse_access_ddl``)."""
        if re.match(r"^\s*(GRANT\b|SET\s+ROLE\b)", masked, re.IGNORECASE):
            return _Logged(QueryResult(cols=["ok"], rows=[[1]]), "<rbac ack>")
        self._refuse_access_ddl(masked)
        return self._route_query(stmt, masked, stream_to)

    def _refuse_access_ddl(self, masked: str) -> None:
        """REVOKE and CREATE/ALTER/DROP USER/ROLE/... REFUSE —
        silently accepting them would misrepresent an isolation
        boundary this engine does not enforce."""
        if self._ACCESS_DDL_RE.match(masked):
            raise ValueError(
                "this engine runs a trust auth model (one implicit "
                "all-privileges 'default' user, documented in the "
                "wire modules): REVOKE and user/role/quota DDL would "
                "claim an isolation boundary that is not enforced — "
                "put authentication in front of the server (TLS + "
                "network policy) instead"
            )

    def _bind_dict_calls(self, stmt: _Statement, masked: str) -> str:
        """dictGet/dictHas over registered dictionaries → scalar
        subqueries; returns the (re-)masked text."""
        rewritten = self._rewrite_dict_calls(stmt.request.query, masked)
        if rewritten == stmt.request.query:
            return masked
        stmt.request = replace(stmt.request, query=rewritten)
        return mask(rewritten, strings_only=True)

    def _bind_system_names(self, stmt: _Statement, masked: str) -> str:
        """CH's native dotted spelling for system tables: rewrite
        system.<name> to the registered system_<name> views (temp
        views can't hold dots) after refreshing them, and map the
        infinite system.numbers onto Spark's lazy range (LIMIT
        pushes into the first partition — nothing materializes).
        Quote-shielded (round 14): 'system.parts' inside a string
        literal is DATA. Returns the (re-)masked text."""
        if not re.search(r"\bsystem\.\w+", masked):
            return masked
        numbers_sub = (
            "(SELECT id AS number FROM range(9223372036854775807))"
        )
        rewritten = _sub_outside_quotes(
            r"\bsystem\.numbers(_mt)?\b", numbers_sub, stmt.request.query
        )
        masked_rw = mask(rewritten, strings_only=True)
        referenced = {
            "system_" + n
            for n in re.findall(r"\bsystem\.(\w+)", masked_rw)
        }
        # A statement can mix spellings (system.tables joined to
        # the registered system_columns view): underscore-spelled
        # KNOWN views must refresh too, or the scoped rebuild
        # leaves them unregistered on a fresh session — the
        # pre-r15 full rebuild registered everything.
        referenced |= {
            m
            for m in re.findall(r"\bsystem_\w+\b", masked_rw)
            if m in self._SYSTEM_VIEW_NAMES
        }
        if referenced:
            self.refresh_system_views(referenced)
        rewritten = _sub_outside_quotes(
            r"\bsystem\.(\w+)", r"system_\1", rewritten
        )
        stmt.request = replace(stmt.request, query=rewritten)
        return mask(rewritten, strings_only=True)

    def _route_set(self, stmt: _Statement, masked: str, stream_to):
        """``SET k = v[, …]`` answers Spark's ``key``/``value`` rows and
        writes nothing: the calling scope (an HTTP session, a wire
        connection, the CLI) keeps the pairs. A ``SET`` with no pairs
        (``SET -v``, ``SET spark.sql.shuffle.partitions``) reads conf
        on the query path."""
        if not (pairs := parse_set_statement(stmt.request.query)):
            return self._route_query(stmt, masked, stream_to)
        rows = [list(p) for p in pairs.items()]
        return _Logged(QueryResult(["key", "value"], rows,
                                   types=["String", "String"]),
                       "<set>", len(rows))

    def _route_query(self, stmt: _Statement, masked: str, stream_to):
        """The query path: transpile, then collect or stream."""
        masked = self._bind_dict_calls(stmt, masked)
        masked = self._bind_system_names(stmt, masked)
        request = stmt.request
        # Cache-hit fast path: the statement's settings with its
        # SETTINGS clause over them, read before transpile so a hit
        # skips view re-registration entirely.
        scope = _REQ_LOCAL.settings
        pairs = _strip_settings(request.query, scope)[1]
        use_cache = pairs.get("use_query_cache", "0").lower() in ("1", "true")
        key = (request.query, tuple(scope.items()))
        if use_cache and (hit := self._cache_get(key)) is not None:
            return _Logged(
                QueryResult(hit.cols, hit.rows, types=hit.types),
                "<cache hit>", len(hit.rows), cached=True,
            )
        # The clause's Spark conf reaches the session before transpile.
        self._settle(split_settings(pairs)[0])
        # DDL that reaches the query path (CREATE FUNCTION, Spark's own
        # DDL) outlives the statement: it runs on the base session.
        spark = self.spark if stmt.kind in self._DDL_KINDS else None
        result = self._transpile(request.query, spark)
        stmt.label = result.sql
        df = self._small_plan(
            self._sql_with_alias_fallback(result.sql, spark)
        )
        if spark is not None and self._TEMP_DDL_RE.match(result.sql) and (
            s := getattr(_REQ_LOCAL, "session", None)
        ) is not None:
            # A temp function or view is per session: the running
            # statement's gets it too, as _publish does for views.
            for v in result.views:
                create_view(s, self.spark.table(v), v)
            s.sql(result.sql)
        # CH renders interval values as plain numbers in their
        # own unit (Date - Date → Int32 days, DateTime - DateTime
        # → seconds, INTERVAL 3 HOUR → 3); Spark's interval cast
        # to BIGINT yields exactly that unit count (the type's
        # end field), so top-level interval columns normalize to
        # CH's numeric rendering.
        from pyspark.sql import types as _T

        if len(set(df.columns)) == len(df.columns) and any(
            isinstance(
                f.dataType,
                (_T.DayTimeIntervalType, _T.YearMonthIntervalType),
            )
            for f in df.schema.fields
        ):
            from pyspark.sql import functions as _F

            df = df.select(*[
                _F.col(f.name).cast("bigint").alias(f.name)
                if isinstance(
                    f.dataType,
                    (_T.DayTimeIntervalType, _T.YearMonthIntervalType),
                )
                else _F.col(f.name)
                for f in df.schema.fields
            ])
        cols = df.columns
        # max_result_rows (+ result_overflow_mode): enforced via
        # limit(N+1) so an oversized result never reaches the driver
        # — 'throw' (CH default) raises TOO_MANY_ROWS, 'break'
        # truncates to N. CH semantics: 0 means unlimited.
        try:
            max_rows = int(result.dropped_settings.get("max_result_rows", 0))
        except ValueError:
            max_rows = 0
        max_rows = max_rows if max_rows > 0 else None
        overflow_mode = result.dropped_settings.get(
            "result_overflow_mode", "throw"
        ).lower()
        if max_rows is not None:
            df = df.limit(max_rows + 1)
        from bighouse_spark.formats import ch_type_names

        types = ch_type_names(df.schema)
        # CalendarIntervalType has no Python converter (PySpark
        # raises NOT_IMPLEMENTED at collect) — render interval
        # columns as their string form, which is also how CH
        # prints Interval values.
        from pyspark.sql.types import CalendarIntervalType

        if any(
            isinstance(f.dataType, CalendarIntervalType)
            for f in df.schema.fields
        ):
            from pyspark.sql import functions as _F

            df = df.select(
                *[
                    _F.col(f.name).cast("string").alias(f.name)
                    if isinstance(f.dataType, CalendarIntervalType)
                    else _F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        # Stream when nothing forces driver materialization: the
        # result cache needs full rows and max_result_rows needs the
        # count before the first byte leaves.
        if stream_to is not None and not use_cache and max_rows is None:
            stream_to.start(cols, types)
            n_rows = 0
            for r in df.toLocalIterator(prefetchPartitions=True):
                stream_to.write_row(list(r))
                n_rows += 1
            rows = []
        else:
            rows = [list(r) for r in df.collect()]
            n_rows = len(rows)
        if max_rows is not None and len(rows) > max_rows:
            if overflow_mode == "break":
                rows = rows[:max_rows]
            else:
                raise ValueError(
                    f"result exceeds max_result_rows={max_rows} "
                    "(TOO_MANY_ROWS); set "
                    "result_overflow_mode='break' to truncate"
                )
        out = QueryResult(cols=cols, rows=rows, types=types)
        if use_cache:
            self._cache_put(key, out)
        return _Logged(out, result.sql, n_rows)

    def execute_to_sink(
        self,
        request: QueryRequest | str,
        path: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        order_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        bloom_filter_by: list[str] | None = None,
    ) -> dict[str, Any]:
        """Run the query and write the result to a parquet/csv/json
        directory instead of collecting — the reference's unbuilt
        "TODO: Return S3 url" result sink
        (``temporal/workflow_query_executor.go:94``).

        This is the 100 TB-safe result path: ``collect()`` caps results
        at driver memory; a distributed write doesn't. ``partition_by``
        lays out the result for downstream partition pruning.

        ``order_by`` is the MergeTree ``ORDER BY`` analog (the
        reference's ATTACH DDL declares ``ENGINE = MergeTree ORDER BY
        (event_type, repo_name, created_at)``,
        ``workflow_query_executor_test.go:85``): rows are
        range-repartitioned then sorted within each output file, so
        parquet row-group min/max statistics prune reads on the sort
        key — the same skip-index effect as a MergeTree primary key.
        """

        def run(stmt: _Statement) -> _Logged:
            result = self._transpile(stmt.request.query)
            stmt.label = result.sql
            df = self._sql(result.sql)
            if order_by and zorder_by:
                raise ValueError("order_by and zorder_by are exclusive")
            if order_by:
                # repartitionByRange clusters key ranges into files
                # (tight per-file min/max); sortWithinPartitions orders
                # row groups inside each file.
                df = df.repartitionByRange(*order_by).sortWithinPartitions(
                    *order_by
                )
            if zorder_by:
                # Multi-dimensional layout: interleaved-bit key →
                # min/max pruning on ANY of the listed dims (the
                # MergeTree-ORDER-BY story without the prefix-only
                # limitation). See sources/layout.py.
                from bighouse_spark.sources.layout import zorder_key

                df = (
                    df.withColumn("__bh_z", zorder_key(df, zorder_by))
                    .repartitionByRange("__bh_z")
                    .sortWithinPartitions("__bh_z")
                    .drop("__bh_z")
                )
            writer = df.write.format(fmt).mode(mode)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            if bloom_filter_by:
                # Parquet bloom filters: the point-lookup complement
                # to min/max stats — min/max prune RANGE predicates on
                # clustered columns; blooms prune EQUALITY probes on
                # high-cardinality unclustered ones (the CH skip-index
                # `bloom_filter` analog). Written per column chunk;
                # readers skip row groups whose bloom rejects the
                # probed value. parquet-mr correctly OMITS the bloom
                # for chunks whose dictionary encoding is complete
                # (the dictionary already answers membership exactly),
                # so tiny row groups may carry no bloom bytes.
                if fmt != "parquet":
                    raise ValueError("bloom_filter_by requires parquet")
                for c in bloom_filter_by:
                    writer = writer.option(
                        f"parquet.bloom.filter.enabled#{c}", "true"
                    )
            writer.save(path)
            self._commit()
            return _Logged(
                QueryResult(cols=df.columns, rows=[]), result.sql, -1
            )

        out = self._run(request, run)
        return {"path": path, "cols": out.cols, "elapsed_sec": out.elapsed_sec}

    _ATTACH_EXT_FMTS = (
        (".csv", "csv"), (".csv.gz", "csv"), (".tsv", "csv"),
        (".json", "json"), (".ndjson", "json"), (".jsonl", "json"),
        (".orc", "orc"),
    )

    def _attach_statement(self, m, query: str) -> QueryResult | _Logged:
        """``ATTACH TABLE [IF NOT EXISTS] name [(schema)] FROM
        '<path>' [FORMAT <fmt>] [ENGINE ...]`` — the SQL spelling of
        ``attach_table`` (the reference's init-queries are ATTACH DDL,
        ``workflow_query_executor_test.go:85``). A bare ``ATTACH TABLE
        name`` restores a DETACHed registration. The CH-native
        web-disk MergeTree form is refused with guidance: MergeTree
        part files belong to the delegated ClickHouse storage engine;
        this engine's shared storage is parquet/csv/json/orc."""
        # m matched a strings_only mask copy — slice raw (the
        # path/schema groups hold literal content the mask blanked)
        if_not_exists, name, rest = self._raw_groups(m, query)
        rest = (rest or "").strip()
        if name in self._attached:
            if if_not_exists:
                return QueryResult(cols=["attached"], rows=[[name]])
            raise ValueError(f"ATTACH TABLE {name}: already attached")
        if not rest:
            parked = self._detached.pop(name, None)
            if parked is None:
                raise ValueError(
                    f"ATTACH TABLE {name}: nothing to re-attach — "
                    f"use ATTACH TABLE {name} FROM '<path>'"
                )
            (path, fmt, schema), pcols, ocols = parked
            if pcols:
                self._partitioned[name] = pcols
            if ocols:
                self._ordered[name] = ocols
            self.attach_table(name, path, fmt=fmt, schema=schema)
            return _Logged(
                QueryResult(cols=["attached"], rows=[[name]]), "<attach>"
            )
        m_from = self._ATTACH_FROM_RE.match(mask(rest, strings_only=True))
        if m_from is None:
            if re.search(
                r"disk\s*\(\s*type\s*=\s*web", rest, re.IGNORECASE
            ) or "ENGINE" in rest.upper():
                raise ValueError(
                    f"ATTACH TABLE {name}: ClickHouse-native MergeTree "
                    "part storage is not readable by this engine — "
                    "point the shared storage at parquet/csv files and "
                    f"ATTACH TABLE {name} FROM '<path>' instead"
                )
            raise ValueError(
                f"ATTACH TABLE {name}: unsupported clause "
                f"{rest[:60]!r} (expected [(schema)] FROM '<path>' "
                "[FORMAT <fmt>])"
            )
        cols, path, fmt_name, tail = self._raw_groups(m_from, rest)
        m_tail = self._CREATE_TABLE_TAIL_RE.match(
            mask(tail or "", strings_only=True)
        )
        if m_tail is None:
            raise ValueError(
                f"ATTACH TABLE {name}: unsupported trailing clause "
                f"{(tail or '').strip()[:60]!r}"
            )
        if fmt_name:
            fmt = {
                "csv": "csv", "csvwithnames": "csv", "tsv": "csv",
                "tsvwithnames": "csv", "parquet": "parquet",
                "json": "json", "jsoneachrow": "json", "orc": "orc",
            }.get(fmt_name.lower())
            if fmt is None:
                raise ValueError(
                    f"ATTACH TABLE {name}: unknown FORMAT {fmt_name}"
                )
        else:
            low = path.lower()
            fmt = next(
                (f for ext, f in self._ATTACH_EXT_FMTS
                 if low.endswith(ext)),
                "parquet",
            )
        self.attach_table(name, path, fmt=fmt, schema=cols or None)
        # A fresh ATTACH points the name at NEW storage — any
        # CREATE-time column DDL (nullability for default fills) is
        # stale for it; the explicit (schema) clause, if given,
        # becomes the new record.
        self._ch_col_ddl.pop(name, None)
        self._column_defaults.pop(name, None)
        if cols:
            self._ch_col_ddl[name] = cols
            from bighouse_spark.dialect.schema import (
                parse_schema_defaults,
            )

            col_defaults = parse_schema_defaults(cols)
            if col_defaults:
                self._column_defaults[name] = col_defaults
        tail_part, tail_order = self._raw_groups(m_tail, tail or "")
        if tail_part:
            try:
                self._partitioned[name] = self._parse_partition_by(
                    tail_part, self.spark.table(name).columns
                )
            except ValueError:
                self._unpublish(name)
                self._attached.pop(name, None)
                raise
        if tail_order:
            ocols = self._parse_order_by(
                tail_order, self.spark.table(name).columns
            )
            if ocols:
                self._ordered[name] = ocols
        return _Logged(
            QueryResult(cols=["attached"], rows=[[name]]), "<attach>"
        )

    def _analyze_table(self, name: str, cols_clause: str | None) -> _Logged:
        """``ANALYZE TABLE <name> [COMPUTE STATISTICS [NOSCAN | FOR
        ALL COLUMNS | FOR COLUMNS c, ...]]`` — engine-owned table
        statistics for the cost-based optimizer.

        Temp views cannot carry statistics, so the first ANALYZE
        promotes the attached parquet directory to a session-catalog
        EXTERNAL table (same files, zero copy) and computes stats on
        it; with ``spark.sql.cbo.enabled`` Catalyst then plans from
        rowCount/column stats — join reordering and broadcast
        selection without manual ``F.broadcast`` hints. Writes keep
        the promotion (``attach_table`` refreshes + NOSCAN
        re-analyzes instead of re-registering a temp view)."""
        if name not in self._attached:
            raise ValueError(
                f"ANALYZE TABLE {name}: not an attached table"
            )
        path, fmt, schema = self._attached[name]
        if fmt != "parquet":
            raise ValueError(
                f"ANALYZE TABLE {name}: statistics are implemented "
                "for parquet-backed tables"
            )
        cat = f"{name}__bhcat"
        if name not in self._analyzed:
            # The registered view (temp, possibly schema-declared)
            # knows the declared column order — capture it BEFORE
            # re-registering.
            fields = list(self.spark.table(name).schema.fields)
            decl_order = [f.name for f in fields]
            self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
            pcols = self._partitioned.get(name)
            if pcols:
                # Partitioned external table: declare the layout
                # (data columns first, partition columns last — the
                # catalog DDL contract) and let MSCK REPAIR discover
                # the partition directories; catalog tables do not
                # auto-discover the way path reads do.
                part_set = {c.lower() for c in pcols}
                ordered = (
                    [f for f in fields if f.name.lower() not in part_set]
                    + [f for f in fields if f.name.lower() in part_set]
                )
                col_ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in ordered
                )
                self.spark.sql(
                    f"CREATE TABLE {cat} ({col_ddl}) USING parquet "
                    f"PARTITIONED BY ({', '.join(pcols)}) "
                    f"LOCATION '{path}'"
                )
                self.spark.sql(f"MSCK REPAIR TABLE {cat} SYNC PARTITIONS")
            else:
                self.spark.sql(
                    f"CREATE TABLE {cat} USING parquet LOCATION '{path}'"
                )
            self._analyzed.add(name)
        else:
            decl_order = list(self.spark.table(name).columns)
        stats = f"ANALYZE TABLE {cat} COMPUTE STATISTICS"
        if cols_clause:
            self.spark.sql(stats + " " + cols_clause.strip())
        else:
            # Default: row stats + all-column stats (histograms stay
            # off — spark.sql.statistics.histogram.enabled default).
            self.spark.sql(stats)
            self.spark.sql(stats + " FOR ALL COLUMNS")
        # The user-visible name stays a view selecting the pre-ANALYZE
        # column order from the catalog table (catalog tables force
        # partition columns last; statistics flow through the view to
        # its child relation) — ANALYZE must never change SELECT *
        # shape. Created AFTER the stats run: a temp view freezes its
        # relation snapshot, and a pre-stats snapshot would plan
        # without the statistics just computed.
        self._publish(self.spark.table(cat).select(*decl_order), name)
        return _Logged(
            QueryResult(cols=["analyzed"], rows=[[name]]), "<analyze>"
        )

    def _show_create_table(self, name: str) -> _Logged:
        """``SHOW CREATE TABLE`` (CH introspection family, B17): one
        row, one ``statement`` column holding a ClickHouse-flavor DDL
        reconstructed from live engine state — attached/created tables
        render their Spark schema as MergeTree DDL (round-trippable
        through the schema parser), materialized views render their
        stored SELECT, and any other registered view renders as a
        plain CREATE VIEW over its schema."""
        from bighouse_spark.dialect.schema import render_create_table

        if name in self._mviews:
            stmt = (
                f"CREATE MATERIALIZED VIEW {name}\n"
                "ENGINE = MergeTree\nORDER BY tuple()\nAS "
                f"{self._mviews[name]['select']}"
            )
        elif name in self._user_views:
            stmt = f"CREATE VIEW {name}\nAS {self._user_views[name]}"
        elif name in self._attached:
            stmt = render_create_table(
                name, self.spark.table(name).schema,
                partition_by=self._partitioned.get(name),
                order_by=self._ordered.get(name),
                defaults=self._column_defaults.get(name),
            )
        else:
            try:
                schema = self._stmt_session.table(name).schema
            except Exception:
                raise ValueError(f"SHOW CREATE TABLE {name}: not found")
            stmt = render_create_table(name, schema).replace(
                f"CREATE TABLE {name}", f"CREATE VIEW {name}", 1
            ).replace("\nENGINE = MergeTree\nORDER BY tuple()", "", 1)
        return _Logged(
            QueryResult(cols=["statement"], rows=[[stmt]]),
            "<show create table>", 1,
        )

    def health_check(self) -> bool:
        """``GET /hc`` analog (``http_server/http_server.go:50,83-85``)."""
        return self.spark.sql("SELECT 1").collect()[0][0] == 1
