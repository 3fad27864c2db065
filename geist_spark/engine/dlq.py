"""Dead-letter queue as a parquet-append table.

The reference routes unretryable events to a DLQ topic/stream
(HOUE 'dlq', entity/spec.go:21-26; executor.go:131-135). Here the DLQ
is a partition-parallel parquet table: failed raw events append
distributed (no driver-side collect), so the policy holds at any
scale. Schema: value, stream_id, reason, ts.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


class DeadLetterQueue:
    def __init__(self, spark: SparkSession, stream_id: str, path: str | None = None):
        self.spark = spark
        self.stream_id = stream_id
        self.path = path or os.path.join(
            tempfile.mkdtemp(prefix="geist_dlq_"), stream_id
        )

    def add_df(self, bad: DataFrame, value_col: str = "value", reason: str = "") -> int:
        """Append failed raw events; returns the number appended
        (needed for the events_failed metrics counter). Failures are
        rare: an isEmpty probe skips the write (and its empty file) for
        a clean batch. Callers that read `bad` from a persisted frame
        scan nothing twice."""
        if bad.isEmpty():
            return 0
        return self._append(bad, value_col, reason)

    def add_event(self, event: str, reason: str = "") -> None:
        """Single-event convenience (interactive publish path): one
        row, so no probe."""
        df = self.spark.createDataFrame([(event,)], "value string").coalesce(1)
        self._append(df, "value", reason)

    def _append(self, df: DataFrame, value_col: str, reason: str) -> int:
        """One parquet append; the row count is an Observation on the
        write itself, not an extra job."""
        obs = Observation()
        df.select(
            F.col(value_col).cast("string").alias("value"),
            F.lit(self.stream_id).alias("stream_id"),
            F.lit(reason).alias("reason"),
            F.current_timestamp().alias("ts"),
        ).observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
            self.path
        )
        return int(obs.get["n"])

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame(
                [], "value string, stream_id string, reason string, ts timestamp"
            )
        return self.spark.read.parquet(self.path)

    def values(self) -> list[str]:
        """Test helper: failed raw events in append order (ts asc)."""
        return [r["value"] for r in self.read().orderBy("ts").collect()]

    def count(self) -> int:
        return self.read().count()
