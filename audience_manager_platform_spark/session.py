"""SparkSession factory tuned for the engine.

The reference launches one ``spark-submit`` subprocess per rule with a cold
JVM (reference ``backend/app/core/scheduler.py:90-114``) — ~10s of fixed
overhead per query. We instead keep ONE long-lived session; every rule and
analytics query runs as a job inside it.

Scale posture: AQE on (runtime coalescing, skew-join splitting), shuffle
partitions sized to the local core count (on a real cluster this would be
~2-3x total executor cores), UTC session timezone so results are stable
across environments and comparable to external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """A quarter of the machine's memory, between 1 and 8 GiB: enough
    heap for the local driver without letting it claim the whole box
    (perfbench sizes its sessions by the same rule)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


def get_spark(
    app_name: str = "audience_manager_platform_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In local mode the driver is the only JVM; ``spark.driver.memory`` is the
    single memory knob: ``SPARK_DRIVER_MEMORY`` when set, else
    :func:`default_driver_memory`. On a cluster the same configs apply
    unchanged — nothing here assumes local execution.

    The console progress bar is off: its carriage-return redraws land on
    stderr mid-line, so they would share a line with whatever a caller
    prints there (a tool's per-query result lines, a bench's per-sample
    records) and corrupt it.

    The driver JVM gets a fixed JIT budget of two compiler threads
    (``-XX:CICompilerCount=2``, one C1 and one C2). HotSpot otherwise
    sizes that pool from the core count (3 threads at 4 cores, 15 at 32),
    and in a session that lives for minutes most of that compiling never
    pays back: it is the bulk of a cold pass's CPU. The budget is a
    constant, not a function of the cores, because the code to compile
    does not grow with them. It goes in through
    ``spark.driver.defaultJavaOptions``, which the launcher puts in front
    of ``spark.driver.extraJavaOptions``, so a caller's extra options add
    to it instead of replacing it. Like every JVM option it takes effect
    only at launch: a JVM started before ``get_spark`` (a ``pyspark``
    shell, an earlier session in this process) keeps its own flags.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Keep broadcast threshold at default 10MB; dimension tables
        # (region/nation/customer at small SF) broadcast automatically, and
        # operators add explicit broadcast() hints where the small side is
        # known small at ANY scale (e.g. region: 5 rows).
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
