"""SparkSession factory with scale-oriented defaults.

The reference runs everything inside one PostgreSQL backend process
(``PARALLEL UNSAFE`` plpython functions, /root/reference/src/pg/sql/10_moran.sql:18).
Our engine is built for a multi-executor cluster; these configs encode the
physical-design decisions that matter at 100 TB:

  * AQE on (runtime coalescing + skew-join splitting for Zipf-hot cells);
  * Arrow on (every Python crossing is a vectorized batch, never per-row);
  * shuffle partition count sized for the local test harness but overridable
    via ``spark.sql.shuffle.partitions`` on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory in whole GB, from 1g up to 32g."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, phys // 2 ** 31))}g"


def session_conf(builder: SparkSession.Builder, shuffle_partitions: int = 32,
                 driver_memory: str | None = None):
    """Apply engine defaults to a SparkSession builder.

    ``driver_memory`` (env ``SPARK_GRAFT_DRIVER_MEM``, default half the
    host's physical memory, at most 32g): in local mode the driver JVM
    hosts every executor thread, so the heap must scale with the thread
    count — an undersized heap turns the string-heavy stages into a GC
    storm that flatlines core scaling.  The cap is not free: G1 grows the
    heap toward it rather than collecting, so a cap above the host's
    memory lets the JVM outgrow the host and be killed.
    """
    mem = (driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
           or _default_driver_memory())
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
    )


def _quiet_window_warnings(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" log spam.

    Every empty-partition window in this engine runs over a documented
    bounded set (the k-row ANN rerank, the sub-5M Jenks/quantile rank with
    the reference's own bailout above it, the guarded GWR predict ids) —
    the warning fires per task and floods driver logs.  Spark 4
    constant-folds a ``partitionBy(lit(1))`` key away, so the logger level
    is the only lever.  Unbounded single-reducer plans are still policed
    by the tools/explain.py audit (CLAUDE.md round-1 lesson)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # cosmetic only — never fail session creation over logging


def get_session(
    master: str = "local[*]",
    app_name: str = "crankshaft_spark",
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults."""
    builder = SparkSession.builder.master(master).appName(app_name)
    spark = session_conf(builder, shuffle_partitions).getOrCreate()
    _quiet_window_warnings(spark)
    return spark
