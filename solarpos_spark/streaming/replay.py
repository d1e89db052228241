"""Replayable file input and an awaited exactly-once commit.

Structured Streaming's end-to-end guarantee is a replayable source plus an
idempotent sink (Armbrust et al., SIGMOD 2018). For a fixed-order replay the
file source needs three things pinned: one file per part, a delivery order
(``FileStreamSource`` sorts new files by modification time) and one file per
trigger. :func:`ordered_file_stream` pins all three, :func:`time_slices` cuts
a frame into the event-time parts an ordered replay usually delivers, and
:func:`commit_available_now` runs the exactly-once sink to the end of the
input and hands back what it committed.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..sinks.exactly_once import exactly_once_parquet_sink

# Part k gets mtime _MTIME_BASE + 10 * k seconds: far from "now", distinct,
# and within the file source's default 7-day maxFileAge of one another.
_MTIME_BASE = 2_000_000_000
_COMMIT_TIMEOUT_S = 600


def ordered_file_stream(parts: list[DataFrame], path: str) -> DataFrame:
    """Write each of ``parts`` as one parquet file under ``path`` and return
    the stream that replays them in list order, one file per trigger.

    Parts appended to a directory that already holds replay parts continue
    after them, so a later call delivers its parts last. The stream carries
    the parts' schema; the caller applies its own watermark.
    """
    seen = set(glob.glob(f"{path}/part-*"))
    for k, part in enumerate(parts, start=len(seen)):
        part.coalesce(1).write.mode("append").parquet(path)
        new = set(glob.glob(f"{path}/part-*")) - seen
        mtime = _MTIME_BASE + 10 * k
        for p in new:
            os.utime(p, (mtime, mtime))
        seen |= new
    spark = parts[0].sparkSession
    return (spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1).parquet(path))


def time_slices(df: DataFrame, ts_col: str | Column, n: int) -> list[DataFrame]:
    """Split ``df`` into ``n`` equal-width slices of the integer event time
    ``ts_col``: slice i holds the rows with
    ``i <= (ts - min) / ((max - min) // n + 1) < i + 1``."""
    ts = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    lo, hi = df.agg(F.min(ts), F.max(ts)).collect()[0]
    width = (int(hi) - int(lo)) // n + 1
    pos = (ts - int(lo)) / width
    return [df.filter((pos >= i) & (pos < i + 1)) for i in range(n)]


def commit_available_now(stream_df: DataFrame, out_dir: str,
                         ckpt: str) -> DataFrame:
    """Run the exactly-once sink over everything ``stream_df`` has now and
    return the committed rows (with their ``batch_id``).

    A query that fails, or does not finish within the fixed timeout, is
    stopped and the error raised.
    """
    q = exactly_once_parquet_sink(stream_df, out_dir, ckpt,
                                  trigger_available_now=True)
    try:
        done = q.awaitTermination(_COMMIT_TIMEOUT_S)
    finally:
        if q.isActive:
            q.stop()
    if not done:
        raise TimeoutError(
            f"availableNow query did not finish in {_COMMIT_TIMEOUT_S} s")
    spark = stream_df.sparkSession
    if not glob.glob(f"{out_dir}/batch_id=*/*.parquet"):
        return spark.createDataFrame([], StructType(
            [*stream_df.schema.fields, StructField("batch_id", IntegerType())]))
    return spark.read.parquet(out_dir)
