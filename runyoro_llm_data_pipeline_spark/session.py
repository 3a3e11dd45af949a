"""SparkSession factory — the one place the engine sets session conf, and
only at build time (input splits follow Spark's own split rule).

The reference has no session concept (single Python process,
``scripts/process_raw_data.py:46-54`` runs sources strictly sequentially);
here every job shares a tuned session. Scale knobs are explicit so the same
code runs in local mode and on a 1000-executor cluster via ``spark-submit
--py-files`` with ``--conf`` overrides. Local defaults are sized to the
host: ``local[<CPUs this process may use>]`` and a driver heap of at most
half the physical memory (``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM``
override them).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MB = 24 * 1024


def host_cpus() -> int:
    """CPUs this process may run on — ``$SPARK_GRAFT_CPUS`` if set, else
    the scheduler affinity mask (a container's CPU set, not the machine's
    core count). The default local parallelism of every harness."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEM`` if set, else half the physical memory, capped
    at 24 GB: a local-mode driver holds the executors too, and a heap
    larger than RAM ends in the OOM killer, not in a Java error."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, _MAX_DRIVER_MB)}m"


def get_spark(
    app_name: str = "runyoro-cdc-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Defaults: master ``local[host_cpus()]``, driver heap
    ``default_driver_memory()``, shuffle
    partitions ≈ cores (never the 200 default — wrong at both ends), AQE on
    with skew-join splitting, Arrow on for all pandas-UDF exchange, UTC
    session time zone (oracle comparisons are TZ-sensitive).
    """
    # Python workers must be able to import this package (UDF closures
    # reference it by module name). On a cluster that's `spark-submit
    # --py-files`; in local mode the workers inherit the driver's
    # PYTHONPATH, so pin the repo root onto it before the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    # Under spark-submit the JVM gateway already exists (PythonRunner
    # exports PYSPARK_GATEWAY_PORT) and spark.master was set by the
    # launcher — do NOT stomp it with the local default; an explicit
    # master= argument still wins (the CLI's --master override).
    under_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_spark_submit:
        master = f"local[{host_cpus()}]"
    if shuffle_partitions is None and under_spark_submit:
        # respect a launcher-provided --conf; fall through to our default
        # (NOT Spark's 200) only when the operator set nothing. SparkConf
        # reads the launcher's properties out of the JVM system
        # properties, so the gateway must be ATTACHED first: with no live
        # JVM, SparkConf() silently degrades to an empty local dict and
        # the lookup always misses — the builder would then stomp the
        # operator's --conf with our local default.
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized()  # attaches the existing gateway
        submitted = SparkConf().get("spark.sql.shuffle.partitions", None)
        if submitted is not None:
            shuffle_partitions = int(submitted)
    if shuffle_partitions is None:
        try:
            n = (
                int(master.split("[")[1].rstrip("]*"))
                if master and "[" in master
                else 32
            )
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
