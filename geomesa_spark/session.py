"""SparkSession factory with scale-aware defaults.

local[N] here stands in for an N-executor cluster; every knob is chosen so the
same code runs unchanged under spark-submit --py-files on a real cluster
(AQE, skew-join handling, Arrow batches, UTC timestamps)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Default ``spark.driver.memory``: half of physical memory, at most 48g.
    In local mode the driver JVM runs every task; the other half is left to
    the Python workers and the OS."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf (e.g. Windows)
        return "48g"
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(
    cpus: int | None = None,
    app: str = "geomesa-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a real cluster this scales with executors
        shuffle_partitions = max(cpus * 2, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # multi-KB binary payloads x 4096-row columnar batches produce G1
        # humongous allocations in the JVM vectorized parquet reader and
        # degrade scans ~10-100x (measured); 1024-row batches keep buffers
        # under the humongous threshold. Binary-heavy tables should prefer
        # sources.parquet_scan.scan_parquet_arrow, which bypasses the JVM
        # reader entirely.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
    )
    # Python workers fork from one daemon process per executor; that daemon
    # freezes the archives Spark ships (pyspark.zip, py4j, the spark-core
    # jar) so each task's importlib.invalidate_caches() stops re-reading
    # them (~0.2-0.25 CPU-s per task), and preloads the numpy/pandas/pyarrow
    # + engine imports so forked workers inherit them: see
    # geomesa_spark/worker_daemon.py. The daemon is started by the JVM with
    # its own environment, so finding the module on the driver's sys.path
    # is not enough: the package root goes onto the executors' PYTHONPATH
    # too. A multi-node deployment needs the package at that path on every
    # executor, or SPARK_GRAFT_NO_DAEMON_PRELOAD=1 for the stock daemon.
    import importlib.util

    extra_conf = dict(extra_conf or {})
    spec = None
    if os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD") != "1":
        spec = importlib.util.find_spec("geomesa_spark.worker_daemon")
    if spec is not None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(spec.origin)))
        key = "spark.executorEnv.PYTHONPATH"
        extra_conf[key] = os.pathsep.join(p for p in (root, extra_conf.get(key)) if p)
        b = b.config("spark.python.daemon.module", "geomesa_spark.worker_daemon")
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
