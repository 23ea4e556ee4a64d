"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same conf scales to a multi-executor
cluster — AQE handles runtime re-planning (partition coalescing, skew-join
splitting), broadcast threshold covers dimension tables, and shuffle
partitions are set explicitly instead of the 200 default.

The reference pinned ``local[2]`` (task/mentoringExecution2.scala:23); we
instead take core count from the environment so the driver's
``SPARK_GRAFT_CPUS`` applies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str | None = None) -> str:
    """``spark.driver.memory`` for this box: half of ``MemTotal`` from
    ``/proc/meminfo`` (or the ``meminfo`` text given), at most 16g; 16g
    when MemTotal cannot be read.

    In local mode the driver JVM runs every task, and its heap shares the
    box with one Python worker per core, Arrow's off-heap buffers and the
    page cache the parquet scans read through. A heap that may grow to
    MemTotal (the old fixed 16g on a 15 GB box) lets the kernel kill the
    JVM, with no Java error, before the collector would raise
    ``OutOfMemoryError``; half leaves the other half for the rest."""
    if meminfo is None:
        try:
            with open("/proc/meminfo", encoding="ascii") as f:
                meminfo = f.read()
        except OSError:
            return "16g"
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return f"{min(16 << 10, int(line.split()[1]) // 2048)}m"
    return "16g"


# At 100 TB these move to cluster-level conf; the *ratios* are what matter:
# shuffle partitions sized so a partition fits comfortably in executor memory
# (~128-256 MB of shuffle data each), AQE coalescing the excess at runtime.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet stores TIMESTAMP(NANOS); read as long and let
    # the catalog convert to a proper timestamp column
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # the \r-refreshed console progress bar interleaves with anything the
    # driver prints (bench.py emits one machine-parsed JSON line) — off
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(),
    # Python workers fork from a daemon that skips PySpark's per-task
    # re-read of unchanged zip archives (worker_daemon.py): ~0.2 s of CPU
    # off every Python task
    "spark.python.daemon.module": "elevate_data_pipeline_spark.worker_daemon",
    # ...and can import that module whatever the driver's working directory
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def get_spark(app_name: str = "elevate_data_pipeline_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Core count comes from ``SPARK_GRAFT_CPUS`` (default ``*``). Any conf
    key can be overridden via ``overrides``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TARGET_SHUFFLE_PARTITION_BYTES = 192 << 20  # middle of the 128-256 MB band
MAX_SCAN_SPLIT_BYTES = 256 << 20
MIN_SCAN_SPLIT_BYTES = 16 << 20


def size_shuffle(
    input_bytes: int,
    n_executors: int = 1,
    cores_per_executor: int = 8,
    shuffle_fraction: float = 1.0,
    target_partition_bytes: int = TARGET_SHUFFLE_PARTITION_BYTES,
) -> dict:
    """Spill-aware conf sizing for a given input scale — the arithmetic
    behind "would this partition strategy hold at 1000x the data".

    - ``spark.sql.shuffle.partitions``: ceil(shuffle bytes /
      ``target_partition_bytes``), rounded UP to a whole number of task
      waves (a multiple of total cores, never below one wave). Each
      reduce partition then holds ~128-256 MB — comfortably inside
      executor memory, so sorts/aggregations stay in-memory instead of
      spilling; AQE coalesces the excess at runtime when the real
      post-filter volume is smaller.
    - ``spark.sql.files.maxPartitionBytes``: scan splits sized so the
      map stage runs at least two waves across the cluster (clamped to
      [16 MB, 256 MB]) — full parallelism without a per-file task storm.

    ``shuffle_fraction`` is the measured bytes-after-pruning ratio
    (projection + filter pushdown mean the shuffle usually carries far
    less than the scan); pass 1.0 when unknown for the safe bound.

    Returns ``{"shuffle_partitions", "max_partition_bytes", "waves",
    "conf"}`` where ``conf`` plugs straight into
    ``get_spark(**sized["conf"])``.
    """
    if input_bytes <= 0 or n_executors <= 0 or cores_per_executor <= 0:
        raise ValueError("input_bytes, n_executors, cores_per_executor must be > 0")
    if not 0.0 < shuffle_fraction <= 1.0:
        raise ValueError(f"shuffle_fraction must be in (0,1], got {shuffle_fraction}")
    total_cores = n_executors * cores_per_executor
    shuffle_bytes = int(input_bytes * shuffle_fraction)
    need = max(1, -(-shuffle_bytes // target_partition_bytes))
    waves = max(1, -(-need // total_cores))
    partitions = waves * total_cores
    scan_split = min(
        MAX_SCAN_SPLIT_BYTES,
        max(MIN_SCAN_SPLIT_BYTES, input_bytes // (total_cores * 2) or 1),
    )
    return {
        "shuffle_partitions": partitions,
        "max_partition_bytes": scan_split,
        "waves": waves,
        "conf": {
            "spark.sql.shuffle.partitions": str(partitions),
            "spark.sql.files.maxPartitionBytes": str(scan_split),
        },
    }
