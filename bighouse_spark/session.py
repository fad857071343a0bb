"""SparkSession lifecycle — the engine's "ephemeral cluster".

The reference spins up one ClickHouse cluster per query (Fly machine
fan-out in ``SpawnNodes``, reference
``temporal/workflow_query_executor.go:118-163``) and tears it down
after (``DeleteNodes``, ``:346-355``). Its own benchmarks show that
per-query coordination overhead *regresses* fast queries (reference
``README.md:58,104``), so the Spark-idiomatic mapping is a warm,
shared ``SparkSession`` whose parallelism is tuned per workload via
confs rather than machine counts.

Scale posture (100 TB / 1000-executor design targets):

* AQE on — runtime coalescing of shuffle partitions and skew-join
  splitting replace hand-tuned ``max_parallel_replicas``.
* ``spark.sql.shuffle.partitions`` defaults to cores locally but is a
  per-workload knob; at cluster scale AQE's coalescing makes a high
  initial value safe.
* File-split sizing (``spark.sql.files.maxPartitionBytes``) is left at
  128 MiB so a 100 TB scan fans out to ~800k tasks, which the Spark
  scheduler handles; do NOT collapse scans into fewer, larger splits.
* One session per statement: each outermost engine statement runs
  on its own ``cloneSession()`` of the base (``StatementSession``,
  about a millisecond), which holds its conf knobs and views and dies
  with it, so concurrent clients never share a conf or a view.
* Small served statements are planned small (``BigHouseEngine
  ._small_plan``): a knob-less query whose file inputs sum to less
  than one split, with no generator or subquery, runs with AQE off
  and one shuffle partition on its statement session. Below one split
  the scan is already one task, so one reduce partition is the right
  size, and AQE's re-planning, range sampling and coalescing only add
  jobs. Above one split the gate never fires, so a 100 TB plan keeps
  AQE and its partition count.
* Arrow enabled for the Pandas-UDF paths used by the dedup /
  similarity / multimodal operators.
* Driver↔Python channels (``collect``, ``toLocalIterator``,
  ``createDataFrame``, accumulators, Python workers) run over
  Unix-domain sockets, which have no Nagle or delayed-ACK stalls. This
  holds at 1000 executors: a UDS only joins a JVM to the Python
  processes on its own host (the driver, and each executor's
  workers), so shuffle and block transfer stay on the network.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

_DEFAULTS = {
    # Runtime re-planning: partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every pandas_udf / mapInPandas operator.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dimension tables (region/nation/supplier class).
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Columnar writes mirror the reference's LZ4/ZSTD storage codecs
    # (reference ch/config.xml:1128-1144).
    "spark.sql.parquet.compression.codec": "zstd",
    # Timestamps in the fixtures are TZ-naive (CH DateTime semantics);
    # pin the session to UTC so results don't depend on host TZ.
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "8g",
}


# Spark refuses a longer ``spark.python.unix.domain.socket.dir`` (the
# socket file name it appends must fit ``sun_path``). It checks at the
# first socket use, not at session start, so a longer directory would
# fail every statement.
UDS_DIR_MAX = 61

_socket_dir: str | None = None
_socket_dir_lock = threading.Lock()


def uds_conf(path: str) -> dict[str, str]:
    """The confs that put the driver's Python channels on Unix-domain
    sockets in ``path``; empty (UDS off: loopback TCP with a secret)
    when Spark would refuse the path."""
    if len(path) > UDS_DIR_MAX:
        return {}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": path,
    }


def _new_socket_dir() -> str | None:
    """A fresh ``0700`` directory for the session's sockets. PySpark
    sends no auth secret over a UDS, so the directory's permissions
    are the whole access check: only this uid can connect. When the
    temp dir is too deep for a socket path, fall back to ``/tmp`` (as
    CPython's multiprocessing does); None when neither fits."""
    for base in dict.fromkeys((tempfile.gettempdir(), "/tmp")):
        try:
            path = tempfile.mkdtemp(prefix="bh", dir=base)
        except OSError:
            continue
        if uds_conf(path):
            return path
        os.rmdir(path)
    return None


def _remove_socket_dir() -> None:
    global _socket_dir
    with _socket_dir_lock:
        if _socket_dir is not None and SparkContext._active_spark_context is None:
            shutil.rmtree(_socket_dir, ignore_errors=True)
            _socket_dir = None


atexit.register(lambda: shutil.rmtree(_socket_dir or "", ignore_errors=True))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "bighouse-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create the shared session.

    ``cpus``/``shuffle_partitions`` are the Spark analog of the
    reference's ``NumNodes``/``Cores`` request knobs
    (``temporal/workflow_query_executor.go:30-35``). The socket
    directory is made only when no SparkContext is live yet, so
    repeated calls against one context make no new directories.
    """
    global _socket_dir
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
    )
    conf = dict(_DEFAULTS)
    with _socket_dir_lock:
        if SparkContext._active_spark_context is None:
            if _socket_dir is None:
                _socket_dir = _new_socket_dir()
            if _socket_dir is not None:
                conf.update(uds_conf(_socket_dir))
        conf.update(extra_conf or {})
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Teardown — the analog of ``DeleteNodes`` (reference
    ``temporal/workflow_query_executor.go:346-355``)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    _remove_socket_dir()


class StatementSession(SparkSession):
    """A Python session over a JVM ``cloneSession()`` of ``base``: its
    own temp views, SQLConf and function registry, the base's
    SparkContext. ``held`` is the Spark conf it holds over the base.
    Process memos key on ``base`` (:func:`base_session`)."""

    def __init__(self, base: SparkSession) -> None:
        # Not SparkSession.__init__: it rebinds pyspark's process-wide
        # RDD.toDF to the session it builds.
        self.base, self.held = base, {}
        self._sc, self._jsc, self._jvm = base._sc, base._jsc, base._jvm
        self._profiler_collector = base._profiler_collector
        self._jsparkSession = base._jsparkSession.cloneSession()


def base_session(spark: SparkSession) -> SparkSession:
    """The session ``spark`` was cloned from, or ``spark`` itself."""
    return spark.base if isinstance(spark, StatementSession) else spark


def create_view(spark: SparkSession, df, name: str) -> None:
    """Register ``df`` as temp view ``name`` in ``spark``, which need
    not be the session that built ``df`` (a memoized relation's)."""
    jds = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
    jdf = jds.ofRows(spark._jsparkSession, df._jdf.logicalPlan())
    jdf.createOrReplaceTempView(name)
