"""Per-partition lineage + metrics for streaming queries (north_rule).

Two complementary mechanisms, both pure Spark:

* ``df.observe(...)`` — event-time/row metrics computed inside the query
  plan (the Spark-native version of the reference's --perf peek counter,
  PerformanceTracker.java:16-26), surfaced per micro-batch.
* ``LineageListener`` (StreamingQueryListener) — captures batch id, source
  offsets (the per-partition lineage: which files/offsets fed each epoch),
  rows/sec, batch phase durations, per-operator state sizes and commit
  times, and the observed metrics; appends one JSON line per batch to a
  sidecar log next to the sink.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

OBSERVATION_NAME = "solarpos_metrics"


def with_observed_metrics(df: DataFrame,
                          time_col: str = "event_time") -> DataFrame:
    """Attach in-plan metrics: row count + event-time extent per batch.
    Streams without an ``event_time`` column (e.g. the fused decode+position
    stage, which carries ``unix_sec``) fall back to any present time column
    or to count-only metrics."""
    if time_col not in df.columns:
        time_col = next((c for c in ("event_time", "unix_sec", "ts")
                         if c in df.columns), None)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if time_col is not None:
        metrics += [F.min(time_col).alias("min_event_time"),
                    F.max(time_col).alias("max_event_time")]
    return df.observe(OBSERVATION_NAME, *metrics)


class LineageListener(StreamingQueryListener):
    """Writes one JSON line per completed micro-batch:
    {batchId, sources:[{description, startOffset, endOffset, numInputRows}],
     inputRowsPerSecond, observedMetrics, watermark,
     durationMs:{addBatch, queryPlanning, walCommit, commitOffsets, ...},
     stateOperators:[{operatorName, numRowsTotal, numRowsUpdated,
                      numRowsRemoved, memoryUsedBytes,
                      numRowsDroppedByWatermark, commitTimeMs}]}."""

    STATE_FIELDS = ("operatorName", "numRowsTotal", "numRowsUpdated",
                    "numRowsRemoved", "memoryUsedBytes",
                    "numRowsDroppedByWatermark", "commitTimeMs")

    def __init__(self, log_path: str):
        self.log_path = log_path
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        try:
            obs = dict(p.observedMetrics.get(OBSERVATION_NAME).asDict()) \
                if p.observedMetrics and OBSERVATION_NAME in p.observedMetrics else {}
        except Exception:
            obs = {}
        rec = {
            "batchId": p.batchId,
            "timestamp": p.timestamp,
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "watermark": p.eventTime.get("watermark") if p.eventTime else None,
            "sources": [
                {
                    "description": s.description,
                    "startOffset": s.startOffset,
                    "endOffset": s.endOffset,
                    "numInputRows": s.numInputRows,
                }
                for s in p.sources
            ],
            "observedMetrics": {k: str(v) for k, v in obs.items()},
            "durationMs": dict(p.durationMs or {}),
            "stateOperators": [
                {f: getattr(s, f) for f in self.STATE_FIELDS}
                for s in p.stateOperators
            ],
        }
        with self._lock:
            os.makedirs(os.path.dirname(self.log_path), exist_ok=True)
            with open(self.log_path, "a") as f:
                f.write(json.dumps(rec, default=str) + "\n")

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def attach_lineage(spark: SparkSession, log_path: str) -> LineageListener:
    listener = LineageListener(log_path)
    spark.streams.addListener(listener)
    return listener
