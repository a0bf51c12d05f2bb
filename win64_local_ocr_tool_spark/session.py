"""Tuned SparkSession builder.

Single place for the engine's Spark configuration so tests, bench, and
the driver entry all run with the same scale-aware settings:

- AQE on (runtime coalescing + skew-join splitting, SURVEY.md P11)
- Arrow on, bounded batches (caps executor RSS when a batch holds
  multi-MB ``html`` payloads, SURVEY.md P8)
- shuffle partitions ~ cores for local mode (guide pitfall: the default
  200 over-parallelizes small local runs; a real cluster job would set
  this to ~2-3x total cores or rely on AQE coalescing)
- UTC session timezone (DuckDB-oracle comparability)
- driver memory derived from host RAM (``default_driver_memory``),
  overridable with ``SPARK_GRAFT_DRIVER_MEM``
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's ``MemTotal``, at most 16g: in local mode the
    driver JVM holds every task, and the other half stays for the
    Python workers and the OS. A host without a readable ``MemTotal``
    gets the 16g cap."""
    cap_mib = 16 << 10
    try:
        with open(meminfo) as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mib}m"
    return f"{min(kib // 2048, cap_mib)}m"


def get_spark(
    app_name: str = "win64_local_ocr_tool_spark",
    master: str | None = None,
    *,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
    max_partition_bytes: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (
        cpus if master.startswith("local") else 3 * cpus
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batch size: one batch of mega-pages must fit in a
        # Python worker's memory (html can be 100s of KB per row).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    if max_partition_bytes is not None:
        # Match split granularity to task granularity: at 100 TB the
        # 128MB default yields ~800k tasks (plenty); local test corpora
        # are small-file, so shrink splits to keep all cores fed and
        # avoid straggler tails.
        b = b.config("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
        b = b.config("spark.sql.files.openCostInBytes", str(max_partition_bytes // 8))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
