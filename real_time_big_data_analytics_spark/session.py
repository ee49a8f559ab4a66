"""SparkSession factory.

Mirrors the reference's session setup (local master + log suppression,
reference ConsumerESFinal.scala:18-19,30) but configured for the Spark-3
execution model:

- AQE on: runtime shuffle coalescing, skew-join splitting, and
  broadcast-join conversion — the scale levers Catalyst applies for us.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a real
  1000-executor cluster this would be ~2-3x total cores and AQE
  coalesces down from there.
- UTC session timezone so event-time semantics are oracle-comparable
  (DuckDB timestamps are naive/UTC).
- Arrow enabled for the (rare) pandas-UDF paths and fast toPandas.
- Streaming checkpoint files (offset, commit and file-source logs,
  state-store and RocksDB checkpoints) are committed through
  ``FileSystemBasedCheckpointFileManager`` rather than Spark's default
  ``FileContextBasedCheckpointFileManager``. Without Hadoop's native
  library, every ``FileContext.rename`` reaches
  ``RawLocalFileSystem.getFileLinkStatus``, which forks one ``readlink``
  for the source, the destination and each ``.crc`` file: 24 child
  processes per micro-batch over the three log writes of a trigger.
  ``FileSystem.rename`` on local disk is a plain ``File.renameTo``.
  The manager checks that the destination does not exist before it
  renames, so a second non-overwriting write of an existing batch file
  still fails; what is given up is only the guard against two
  processes committing the same batch of one checkpoint at the same
  instant. Spark already refuses two concurrent runs of one checkpoint
  within a session, and every engine checkpoint lives under a
  per-process temp dir. The driver-contract path (``__spark_entry__``)
  runs on the caller's session and keeps Spark's default manager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "rtba-spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is one JVM; on a cluster the same config applies, with
    ``spark.sql.adaptive`` doing the runtime re-planning that makes the
    static ``shuffle.partitions`` choice non-critical.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Streaming state at harness scale uses the default HDFS-backed
        # store; at 100 TB flip to RocksDB:
        # spark.sql.streaming.stateStore.providerClass=
        #   org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
