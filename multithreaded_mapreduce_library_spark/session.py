"""SparkSession factory.

Local test harness runs ``local[N]`` (single JVM); the same configuration
is cluster-correct: AQE handles runtime partition coalescing and skew-join
splitting, shuffle parallelism scales with the cluster, and all operators in
this package are expressed declaratively so Catalyst chooses physical
strategies (broadcast vs sort-merge, codegen, pushdown) per deployment.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


# The directory holding this package; Python workers import from it.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_MODULE = "multithreaded_mapreduce_library_spark.pyworker"


_socket_dir: str | None = None


def socket_dir() -> str:
    """This process's directory for the Python workers' Unix domain sockets,
    made on first use and removed at exit.

    It is a ``mkdtemp`` directory under ``/tmp``, so it has mode 0700. That
    mode is the access control: Spark skips its socket-secret handshake on
    Unix sockets. ``/tmp`` and not ``$TMPDIR`` or ``java.io.tmpdir``,
    because Spark names each socket ``<dir>/.<uuid4>.sock`` (43 more bytes)
    and the whole path must fit ``sun_path``'s 107 bytes; a temp dir under
    a deep checkout does not.
    """
    global _socket_dir
    if _socket_dir is None:
        _socket_dir = tempfile.mkdtemp(prefix="sg-", dir="/tmp")
        atexit.register(shutil.rmtree, _socket_dir, ignore_errors=True)
    return _socket_dir


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    cpus = int(raw) if raw.strip().isdigit() else 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def get_spark(
    app_name: str = "multithreaded-mapreduce-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Notes on the knobs:
    - ``spark.sql.shuffle.partitions`` ≈ cores in local mode; on a real
      cluster this would be 2-3× total executor cores, and AQE coalesces
      small post-shuffle partitions automatically either way.
    - AQE + skewJoin: runtime re-planning; the scale story for skewed keys.
    - UTC session timezone: parquet fixtures are tz-naive; pinning UTC makes
      timestamp semantics match the DuckDB oracle byte-for-byte.
    - Arrow: vectorized toPandas/pandas-UDF transfer.
    - ``spark.python.daemon.module``: Python workers fork from the
      package's daemon (``pyworker.py``). PySpark's own daemon calls
      ``importlib.invalidate_caches()`` before every task, and on Python
      3.11 that re-parses the directories of ``pyspark.zip`` and the other
      archives on the workers' path once per zip importer (16 of them).
      The package daemon re-reads an archive only when its mtime or size
      changed. Measured on a 4-CPU host: worker CPU per trivial task
      230 → 20 ms, a 10-task trivial job 0.86 → 0.25 s, and the facade
      benchmark (``perfbench``, ``mr_zipf``) ``wall_s`` 2.10 → 1.01 s.
      Every Python-boundary query (RDD facade, pandas UDFs, cogroup,
      mapInPandas) saves the same per task.
    - ``spark.executorEnv.PYTHONPATH``: this package's parent directory,
      before any value passed in ``extra_conf``. ``local[N]`` workers
      share the driver's file system, so they import the package (and
      its daemon) from any working directory.
    - ``spark.python.unix.domain.socket.enabled``: the JVM talks to the
      Python workers over Unix domain sockets in :func:`socket_dir`, not
      over loopback TCP, where each task's input waited out a
      Nagle/delayed-ACK stall of about 40 ms. On a 4-CPU host
      (``local[4]``) a job of 40 empty Python tasks went 562 → 230 ms
      and one of 10 tasks 194 → 116 ms. ``local[N]`` workers share the
      driver's ``/tmp``.
    - ``spark.sql.legacy.parquet.nanosAsLong``: ``events`` may store
      nanosecond timestamps (``sources.normalize_events_ts``). Setting it
      here means loading ``events`` does not change the session's conf,
      nor the schema memo key of tables loaded after it.
    """
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r21 A/B note: coalescePartitions.parallelismFirst=false
        # (size-based post-shuffle coalescing, guide §2.2) was measured
        # against the default over two clean-canary-bracket bench runs
        # per arm — sum of per-query bests 7.722s vs 7.715s, a wash at
        # sf0.1 (AQE already coalesces the tiny local shuffles; the
        # post-shuffle stages here are small aggs either way), so the
        # Spark default stands. Revisit on a real cluster where reduce
        # partition sizing matters (OPTIMIZATION_r21.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    conf = dict(extra_conf or {})
    pythonpath = [PACKAGE_PARENT, conf.pop("spark.executorEnv.PYTHONPATH", "")]
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(filter(None, pythonpath)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
