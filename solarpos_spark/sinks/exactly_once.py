"""Exactly-once sink without Iceberg jars (SURVEY.md §7: the fallback seam).

Recipe: ``foreachBatch`` + idempotent dynamic partition overwrite keyed by
the checkpointed ``batchId``. Structured Streaming guarantees a batch is
retried with the SAME id after failure; overwriting the ``batch_id=<id>``
partition makes the retry a no-op-equivalent, so committed output is
exactly-once even under crash/replay. Swap this module for the Iceberg
streaming sink (same epoch-atomic semantics) when runtime jars exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def exactly_once_parquet_sink(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    *,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Start an exactly-once parquet sink for ``stream_df``.

    Each micro-batch lands in its ``batch_id=<epoch>`` partition via a
    per-write dynamic partition overwrite — idempotent under Structured
    Streaming's batch-id replay, and invisible to other queries in the
    session (the session's ``partitionOverwriteMode`` is never touched).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(output_path))

    writer: DataStreamWriter = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(write_batch)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
