"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the config choices are the ones that carry
to a real cluster (AQE on, explicit shuffle partitioning, Arrow for the
Python boundary, UTC session timezone for deterministic time semantics).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def driver_memory(meminfo: str | None, env: Mapping[str, str] = os.environ) -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` when set, else
    min(16g, half of ``MemTotal`` in the given ``/proc/meminfo`` text)
    in ``m`` units, or 16g when ``MemTotal`` is unknown. A fixed 16g
    heap gets the JVM killed by the kernel on hosts with 16 GB or less."""
    if "SPARK_DRIVER_MEMORY" in env:
        return env["SPARK_DRIVER_MEMORY"]
    for line in (meminfo or "").splitlines():
        if line.startswith("MemTotal:"):
            return f"{min(16 * 1024, int(line.split()[1]) // 2048)}m"
    return "16g"


def _read_meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "movie_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores)
    and ``driver_memory`` sizes the driver heap. On a real cluster,
    master/memory come from spark-submit; everything set here is
    cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # match local cores, not the 200 default; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # serve COUNT/MIN/MAX-only scans from parquet footer statistics
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory(_read_meminfo()))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_parallelism(spark: SparkSession) -> int:
    """The session's shuffle width as an int, robust to non-numeric
    configs. ``spark.sql.shuffle.partitions`` may be ``"auto"`` (or any
    vendor string) outside this repo's controlled session; fall back to
    ``sparkContext.defaultParallelism`` rather than raising mid-plan.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def clear_state(spark: SparkSession) -> None:
    """Release ALL block-manager state: cached tables AND
    persisted/localCheckpointed RDD blocks.

    ``catalog.clearCache()`` alone misses RDD-level blocks, and
    operators that persist intermediates (the dedup family's shingle
    tables, connected components' per-round checkpoints) keep those
    blocks registered until explicit unpersist — in a long-lived
    session running many analyses the leak surfaces as multi-second
    GC pauses. Call between unrelated analyses (bench.py calls it
    between every timed query)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
