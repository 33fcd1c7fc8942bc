"""SparkSession factory.

Scale posture: these settings are what we'd ship on a 1000-executor cluster;
``local[*]`` only changes the master. AQE is on so runtime statistics re-plan
shuffles (coalesce partitions, skew-join split, dynamic broadcast switch);
session timezone is pinned UTC to reproduce the reference's UTC RFC3339
timestamps (/root/reference/main.go:102) and keep DuckDB oracle parity.

Streaming checkpoints (offset log, commit log, file-sink metadata log) go
through Spark's FileSystem-based checkpoint manager, not its FileContext
default. Without libhadoop, Hadoop's local FileContext forks ``readlink``
eight times per rename: 24 processes per micro-batch of the listen-source
stream (three log renames), most of its ``walCommit`` and
``commitOffsets`` time. ``FileSystem.rename`` on a local path is a single
rename(2) with no fork. That holds because the master is always
``local[N]``, so every checkpoint sits on a local POSIX filesystem.

Python workers import the package's module-level functions (pandas UDFs,
``mapInArrow`` kernels) by name when they unpickle them, so the checkout
root is on their ``PYTHONPATH`` through ``spark.executorEnv.PYTHONPATH``.
PySpark prepends it to the worker's inherited ``PYTHONPATH``; a tool run
from any directory then works the same as one run from the checkout.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "data-ingestor-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At 100 TB, shuffle partitions would be sized to ~128-256 MB per task
    (tens of thousands of partitions); AQE coalesces small ones at runtime,
    so over-provisioning the static number is the safe direction.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp —
        # read as long (ns since epoch) and convert in io.table (µs floor,
        # matching DuckDB's read of the same file).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", CHECKOUT_ROOT)
        # Checkpoints are local (the master is local[N]): FileSystem.rename
        # is one rename(2), where FileContext forks readlink on every rename
        # (see the module docstring). Spark itself falls back to this manager
        # wherever FileContext is unavailable.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    # extra_conf only applies to the FIRST session in a process (getOrCreate
    # reuses an existing one). perfbench/run.py passes its warehouse dir and,
    # on a traced run, the UI settings whose REST API it reads per-layer
    # figures from; tools/scale_probe.py re-enables the UI REST API for
    # task-time skew measurements.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
