"""Schema-on-read sources — the ``s3()/s3Cluster()/url()/urlCluster()``
capability (reference ``temporal/workflow_query_executor_test.go:41-70``,
``README.md:148-163``).

In the reference these ClickHouse table functions distribute file
splits across cluster nodes; Spark's file sources do that natively
(splits → tasks), so ``s3Cluster``'s ``{cluster}`` macro is vacuous
here. What we provide:

* format-dispatching reader with explicit-or-inferred schema
  (CSVWithNames ≈ ``header=True``; bare CSV schema strings parsed by
  ``dialect.schema``),
* glob support including ``{a..b}`` numeric ranges (expanded by
  ``dialect.globs`` before hitting the Hadoop FS),
* the ``_file`` virtual column (reference groups by it,
  ``workflow_query_executor_test.go:42-49``).

At 100 TB the scan plan matters more than anything else in this file:
always pass an explicit schema for CSV (inference is a full extra
scan), and keep projections/filters on the DataFrame so Catalyst
pushes them into the scan.
"""

from __future__ import annotations

import os
import re
import stat
import threading
import time
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bighouse_spark.session import base_session

FILE_COLUMN = "_file"

# Resolved-relation memo. Inference is a Spark job (parquet/ORC
# footers) or a full scan (CSV/JSON), and resolving a DataSource lists
# its files, which every ``file()`` statement paid before its own job:
# on a 4-CPU VM one local parquet file read in 109 ms with inference
# and 15 ms with its schema given. A hit returns the loaded relation
# itself (the same JVM ``LogicalRelation``, its listing included), so it
# resolves, lists and infers nothing; the key's fingerprint guards the
# listing, and no row is ever cached. It applies only when the caller
# gives no schema and every path is a local regular file or a local
# directory whose visible entries (Spark skips ``_``/``.`` names) are
# all regular files; globs, nested directories and remote schemes keep
# the uncached path. The key fingerprints each file by (path, inode,
# size, mtime_ns), a directory by its own stat plus each of its files',
# and a source in which any of these was modified less than _RACY_NS
# ago is read uncached (git's racy-timestamp rule: mtimes are
# tick-coarse, so a same-size rewrite within one tick would look
# unchanged). Entries are weakly keyed by the base session, as in
# ``catalog``, in a lock-guarded LRU of fixed size; they hold the JVM
# Dataset only, never the Python session they are keyed on. A relation
# plans its scans under its loading session's conf: a statement session
# holding Spark conf loads on itself, with that conf in the key.
SCHEMA_MEMO_MAX = 256
_RACY_NS = 1_000_000_000
# Session confs that change what inference returns for the same bytes.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.orc.mergeSchema",
    "spark.sql.timestampType",
    "spark.sql.caseSensitive",
)
_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_SCHEMA_MEMO_LOCK = threading.Lock()
_memo_counts = {"hits": 0, "misses": 0}


def schema_memo_counts() -> tuple[int, int]:
    """(hits, misses) of the resolved-relation memo since process
    start; a racy or ineligible read counts as neither."""
    with _SCHEMA_MEMO_LOCK:
        return _memo_counts["hits"], _memo_counts["misses"]


def _hidden(name: str) -> bool:
    """Spark's listing skips these names (``shouldFilterOutPathName``;
    a ``_k=v`` partition directory is read)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _local_files(paths: list[str]) -> list[tuple[str, os.stat_result]] | None:
    """Each path resolved with its stat, a directory followed by each
    of its visible files, or None unless every path is a plain local
    regular file or a directory of them (no glob, no remote scheme)."""
    out = []
    for p in paths:
        if p.startswith("file://"):
            p = p[len("file://"):]
            if not p.startswith("/"):
                return None
        elif _SCHEME.match(p):
            return None
        if any(c in p for c in "*?[{"):
            return None
        p = os.path.abspath(p)
        try:
            st = os.stat(p)
            listed = []
            if stat.S_ISDIR(st.st_mode):
                with os.scandir(p) as it:
                    listed = sorted(
                        (e.path, e.stat()) for e in it if not _hidden(e.name)
                    )
        except OSError:
            return None
        # a file checks itself; so does an empty directory, and fails
        if not all(stat.S_ISREG(s.st_mode) for _, s in listed or [(p, st)]):
            return None
        out += [(p, st), *listed]
    return out


def _read_inferred(
    spark: SparkSession, paths: list[str], fmt: str, opts: dict[str, str]
) -> DataFrame:
    """The schema-inferring read, served the memoized relation of
    ``paths`` when they qualify (see ``_SCHEMA_MEMO``). ``header`` and
    ``compression`` reach the reader, and so the key, through ``opts``."""
    files = _local_files(paths)
    # Judged at stat time, before the read: a later write lands in a
    # later tick, so it changes the mtime the key holds.
    if files is None or (
        time.time_ns() - max(st.st_mtime_ns for _, st in files) < _RACY_NS
    ):
        return spark.read.format(fmt).options(**opts).load(paths)
    home, held = base_session(spark), getattr(spark, "held", {})
    key = (
        tuple((p, st.st_ino, st.st_size, st.st_mtime_ns) for p, st in files),
        fmt, tuple(sorted(opts.items())),
        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS),
        tuple(sorted(held.items())),
    )
    with _SCHEMA_MEMO_LOCK:
        memo = _SCHEMA_MEMO.get(home)
        jdf = memo.get(key) if memo is not None else None
        if jdf is not None:
            memo.move_to_end(key)
            _memo_counts["hits"] += 1
        else:
            _memo_counts["misses"] += 1
    if jdf is not None:
        return DataFrame(jdf, spark)
    df = (spark if held else home).read.format(fmt).options(**opts).load(paths)
    with _SCHEMA_MEMO_LOCK:
        memo = _SCHEMA_MEMO.setdefault(home, OrderedDict())
        memo[key] = df._jdf
        while len(memo) > SCHEMA_MEMO_MAX:
            memo.popitem(last=False)
    return df


def with_file_column(df: DataFrame, column: str = FILE_COLUMN) -> DataFrame:
    """Attach the source-file basename of each row.

    ClickHouse's ``_file`` virtual column is the file name without the
    directory; ``F.input_file_name()`` returns the full URI, so take
    the last path segment. Evaluated at scan time — no shuffle.
    """
    return df.withColumn(
        column, F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def read_source(
    spark: SparkSession,
    paths: str | list[str],
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    header: bool = True,
    compression: str | None = None,
    add_file_column: bool = False,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read files of ``fmt`` from one or more (glob) paths.

    Maps the reference's table-function matrix:

    * ``s3(url, 'CSVWithNames', schema, 'gzip')`` →
      ``read_source(spark, url, 'csv', schema, header=True,
      compression='gzip')``
    * ``s3Cluster('{cluster}', ...)`` → identical (Spark distributes
      splits natively)
    * parquet with inferred schema → ``read_source(spark, url)``
    """
    if isinstance(paths, str):
        paths = [paths]
    opts = dict(options or {})
    if fmt == "csv":
        opts.setdefault("header", str(header).lower())
        if schema is None:
            opts.setdefault("inferSchema", "true")
        if compression:
            opts.setdefault("compression", compression)
    if schema is None:
        df = _read_inferred(spark, paths, fmt, opts)
    else:
        if isinstance(schema, str):
            from bighouse_spark.dialect.schema import parse_schema_string

            schema = parse_schema_string(schema)
        df = spark.read.schema(schema).format(fmt).options(**opts).load(paths)
    if add_file_column:
        df = with_file_column(df)
    return df
