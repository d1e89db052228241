"""SparkSession construction with scale-appropriate defaults.

All knobs are chosen for the 100 TB design point and verified locally:
AQE on (runtime re-plan + skew-join splitting), Arrow batches sized so the
per-timestamp hoisting inside the position UDF amortizes (SURVEY.md §4),
UTC session timezone (the engine's timestamps are zone-less UTC instants;
output zone fidelity is carried in an explicit offset column).

Streaming checkpoints (offset and commit logs, state-store deltas,
snapshots and checksums) go through Hadoop's FileSystem API. On a JVM
without libhadoop, Spark's default FileContext manager forks a `readlink`
per stat. On `stream_join` (`perfbench/run.py`, 4 cores) the switch cut
the state-store commit from ~3,900 to ~270 ms per micro-batch and raised
the median `rows_per_s` of 10 runs from ~690 to ~990.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Arrow batch size for the vectorized UDF hot path. Large batches maximize
#: reuse of per-timestamp SPA terms inside one batch (lexsort grouping) and
#: amortize Arrow IPC overhead; 64k rows x ~80 B/row keeps a batch well under
#: executor memory pressure even with 32 concurrent tasks.
ARROW_MAX_RECORDS_PER_BATCH = 65536


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "solarpos-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # The FileContext default's rename stats source and target through
        # forked `readlink`s when libhadoop is missing (module docstring).
        # On `file:` both managers rename by exists-check + File.renameTo,
        # and the state stores still wrap this one in their checksum
        # manager.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager")
    )
    # Streaming state store seam: the stateful operators (stream-stream
    # join, funnel x3, quota, priority sampler, z-score) hold per-key
    # state that the default HDFS-backed store keeps ON-HEAP — at 100x
    # state volume that is executor GC pressure and restart latency.
    # RocksDB (bundled) moves state off-heap with incremental
    # checkpointing. The stream-stream join commits the same rows under
    # it (tests/test_streaming.py TestStreamStreamJoin). At bench size it
    # costs more per micro-batch: `stream_join` ran at 685-784 rows/s
    # against ~990 with the default store (4 cores), and RocksDB forks
    # ~340 `rm`s per run. Off by default.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
