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

Python workers are forked by `plans/pydaemon.py`, a wrapper of PySpark's
daemon. Every task starts with `importlib.invalidate_caches()`, and before
CPython 3.12 each `zipimporter` on the worker's path then re-parses its
archive's whole central directory in pure Python: the Spark core jar that
`PythonUtils.sparkPythonPath` adds, 13 importers on `pyspark.zip` and py4j,
140-240 ms per task, booked as Python-runner time, not worker
initialisation. The wrapper re-reads an archive only when its stamp moved
(CPython 3.12 made the re-read lazy and needs no patch). The daemon module
is named in a fixed conf; the package root is put on the workers'
`PYTHONPATH` so the daemon imports from any working directory and from a
`--py-files` zip. Shuffle partitions default to the core count: one task
wave, and four state stores per partition of a stream-stream join
(`max(cores, 8)` ran two waves and 32 stores per `stream_join` batch on
4 cores). A checkpoint keeps the count it was started with. Together, on
`stream_join` (4 cores, 10 interleaved fresh-process pairs), the median
`rows_per_s` went ~1,330 → ~1,800 and `batch_ms_p50` ~1,800 → ~1,290 ms;
the Python-runner time of a traced run fell from 3,445 to 781 ms.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Arrow batch size for the vectorized UDF hot path. Large batches maximize
#: reuse of per-timestamp SPA terms inside one batch (lexsort grouping) and
#: amortize Arrow IPC overhead; 64k rows x ~80 B/row keeps a batch well under
#: executor memory pressure even with 32 concurrent tasks.
ARROW_MAX_RECORDS_PER_BATCH = 65536

#: Directory (or --py-files zip) that holds the ``solarpos_spark`` package.
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "solarpos-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
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
        # no per-task re-read of unchanged archives (module docstring)
        .config("spark.python.daemon.module", "solarpos_spark.plans.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
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
