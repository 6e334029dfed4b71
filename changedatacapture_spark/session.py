"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same
configuration keys are the ones that matter on a real cluster
(AQE, shuffle partitions, UTC session time zone, Arrow transfers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory() -> str:
    """Default driver heap: a quarter of physical memory, clamped to
    1–4 GiB (the rule cdcbench applies to its own runs). In local mode
    the driver JVM runs every task, and a heap sized past the host lets
    it grow until the host runs out of memory."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(4096, mem_mb // 4))}m"


def get_spark(
    app_name: str = "changedatacapture_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on (runtime coalescing, skew-join handling) — at 100 TB the
      static partition count is always wrong somewhere; AQE re-plans.
    - ``spark.sql.shuffle.partitions`` sized to cores locally; on a
      cluster this is a starting point that AQE coalesces.
    - UTC session time zone so results are comparable across engines.
    - Arrow enabled for any pandas-interop path (vectorized UDFs).
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{n}]" if n else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Some producers (pandas/arrow) write TIMESTAMP(NANOS) parquet,
        # which Spark rejects by default; read as long and convert at
        # the source (sources/tables.py) to micros like other engines.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet timestamps without the UTC flag would infer as
        # TIMESTAMP_NTZ in Spark 4, which unix_millis/unix_micros
        # reject; read them as session-zone TIMESTAMP (tz is UTC above,
        # so epoch values match other engines bit-for-bit).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
