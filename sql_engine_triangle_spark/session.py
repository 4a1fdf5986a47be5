"""SparkSession factory.

Mirrors the execution characteristics the reference lab measures
(vectorized scan, partial+final aggregation, runtime re-planning —
SURVEY.md §4) by enabling AQE, CBO, and the vectorized Parquet reader.

Scale notes (100 TB target):
- ``spark.sql.shuffle.partitions`` is a local-mode default only; on a
  real cluster AQE coalescing makes the initial number mostly
  irrelevant as long as it is high enough (set ~2-3x total cores).
- AQE skew-join handling is enabled so skewed group/join keys are
  split at runtime instead of stalling a single task.
- Partition directories are listed on the driver under a local
  master (``parallelPartitionDiscovery.threshold``); on a cluster the
  default parallel listing job stays.
- Text files split across every core under a local master
  (``local_master_conf``). Spark sizes a file split as
  ``min(maxPartitionBytes, max(openCost, (bytes + files * openCost) /
  cores))``; its 4 MB default open cost is the price of opening a file
  on a distributed store, and it cut a 6 MB CSV batch into 2 splits on
  4 cores. Opening a local file costs far less than reading 4 MB, so
  the open cost is 4 MB / cores there: a file of 4 MB or more splits
  into one piece per core. Scans of many small files (the month
  partitions) pack into about one partition per core either way. On a
  cluster the default stays.
- The driver heap defaults to half the host's physical memory, at
  most 16g (``default_driver_memory``); ``$SPARK_GRAFT_DRIVER_MEM``
  overrides it.
- Session timezone is pinned to UTC so timestamp semantics are stable
  across driver, executors, and the DuckDB oracle.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Spark's default ``spark.sql.files.openCostInBytes``.
DEFAULT_OPEN_COST = 4 << 20


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Half of ``physical_bytes`` (the host's RAM when None), at most
    16g, as a JVM size in megabytes: a fixed 16g would reserve most of
    a small host's memory for one test or bench process."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(physical_bytes // 2 >> 20, 16 << 10)}m"


def local_cores(master: str) -> int | None:
    """Task slots of a local master (``local``, ``local[N]``,
    ``local[*]``, ``local[N,F]``), None for any other master."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\d+)?\])?", master)
    if m is None:
        return None
    if m.group(1) is None:
        return 1
    return len(os.sched_getaffinity(0)) if m.group(1) == "*" else int(m.group(1))


def local_master_conf(master: str) -> dict[str, str]:
    """Settings that hold only when the tasks run in the driver's JVM
    on local disk; empty for a cluster master.

    - List partition directories on the driver: above the threshold
      Spark lists them with a job on the same task slots the queries
      need. Reads of ``sources.ddl.open_table`` (the reference queries)
      list only the partitions their filters keep, again on every
      open, so appended or compacted files are seen by the next read;
      their schema is fixed when the path is registered.
    - File open cost 4 MB / cores, so a text file of 4 MB or more
      splits into one piece per core. With Spark's default a file under
      4 MB x (cores - 1) splits into fewer pieces than there are cores,
      and a CSV or JSON-lines batch parses on part of them; a local file
      open costs far less than reading 4 MB."""
    cores = local_cores(master)
    if cores is None:
        return {}
    return {
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
        "spark.sql.files.openCostInBytes": str(DEFAULT_OPEN_COST // cores),
    }


def get_spark(
    app_name: str = "sql_engine_triangle_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``) so tests and bench share one code path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Match DuckDB/ANSI timestamp behavior for parquet written
        # without UTC adjustment (the driver fixtures).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Fixture `events.ts` is TIMESTAMP(NANOS) parquet, which the
        # Spark reader rejects by default; read as long, catalog layer
        # converts back to TimestampType (micros).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local-mode driver JVM == the executor: give the task threads
        # GC headroom (16g measured ~5% faster across the bench than 8g
        # on the 128 GiB test host).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for k, v in {**local_master_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
