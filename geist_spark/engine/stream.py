"""Stream: one registered spec bound to source -> compiled transform ->
sink, plus the executor's event-processing semantics.

Mirrors internal/pkg/engine/stream.go:11-36 and executor.go:175-329:
hooks -> transform -> load-with-retry -> HOUE policy for unretryable
events. Both paths route every event once (`CompiledTransform.route`)
and read the sink records and the rejects from that one routed frame.
The publish (geistapi) path processes a single-event batch
synchronously — one collect of the routed row decides error / excluded
/ load — and returns the sink resource id, exactly the reference's
channel-source ack contract
(internal/pkg/entity/channel/extractor.go:46-98).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from geist_spark.compiler.transform import (
    OUTCOME_COL,
    OUTCOME_ERROR,
    OUTCOME_EXCLUDED,
    CompiledTransform,
)
from geist_spark.engine.hooks import (
    EventHolder,
    HookAction,
    PostTransformHook,
    PreTransformHook,
)
from geist_spark.engine.metrics import Metrics, Notifier
from geist_spark.sinks.base import Loader, SinkError
from geist_spark.spec.model import (
    HOUE_DISCARD,
    HOUE_DLQ,
    HOUE_FAIL,
    Spec,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


class StreamShutdown(Exception):
    pass


class UnretryableStreamError(Exception):
    pass


@dataclass
class Stream:
    spark: SparkSession
    spec: Spec
    transform: CompiledTransform
    loader: Loader
    sink_extractor: object = None
    pre_hook: PreTransformHook | None = None
    post_hook: PostTransformHook | None = None
    notifier: Notifier = field(default_factory=Notifier)
    dlq: "DeadLetterQueue | None" = None
    metrics: Metrics = field(default_factory=Metrics)

    def _dlq(self) -> "DeadLetterQueue":
        if self.dlq is None:
            from geist_spark.engine.dlq import DeadLetterQueue

            self.dlq = DeadLetterQueue(
                self.spark,
                self.spec.id,
                self.spec.ops.custom_properties.get("dlqPath"),
            )
        return self.dlq

    # -- publish path (geistapi): single-event sync batch ------------

    def publish(self, event: str | bytes) -> str:
        if isinstance(event, bytes):
            event = event.decode("utf-8")
        self.metrics.events_processed += 1
        self.metrics.bytes_processed += len(event)

        # pre-transform hook (executor.go:202-214)
        if self.pre_hook is not None:
            holder = EventHolder(event)
            action = self.pre_hook({"stream_id": self.spec.id}, holder)
            if action == HookAction.SKIP:
                return ""
            if action == HookAction.SHUTDOWN:
                raise StreamShutdown(self.spec.id)
            if action in (HookAction.RETRYABLE_ERROR, HookAction.UNRETRYABLE_ERROR):
                return self._handle_unretryable(event, f"pre-hook {action.name}")
            event = holder.data

        # single-event batch: keep it on ONE partition (default
        # parallelism would fan a 1-row plan out to N tasks)
        df = self.spark.createDataFrame(
            [(event, None, None)], EVENT_SCHEMA
        ).coalesce(1)
        # one routed row: its outcome and records in a single collect
        routed = self.transform.route(df)
        row = routed.collect()[0]
        if row[OUTCOME_COL] == OUTCOME_ERROR:
            return self._handle_unretryable(event, "transform error (regexp)")
        if row[OUTCOME_COL] == OUTCOME_EXCLUDED:
            self.metrics.events_excluded += 1
            return ""  # filtered -> nil,nil (transformer.go:41-43)
        out = self.transform.records(routed)

        # post-transform hook on materialized records (executor.go:216-234)
        if self.post_hook is not None:
            dicts = self.transform.row_records(row)
            action = self.post_hook({"stream_id": self.spec.id}, dicts)
            if action == HookAction.SKIP:
                return ""
            if action == HookAction.SHUTDOWN:
                raise StreamShutdown(self.spec.id)
            if action in (HookAction.RETRYABLE_ERROR, HookAction.UNRETRYABLE_ERROR):
                return self._handle_unretryable(event, f"post-hook {action.name}")
            out = self.spark.createDataFrame(dicts, out.schema)

        return self._load_with_retry(out, event)

    # -- batch path: run a whole DataFrame of events through ---------

    def process_batch(self, events_df: DataFrame, value_col: str = "value") -> str:
        """foreachBatch body: transform (+ analytics sections) + load
        one micro-batch. The geistapi single-event publish path skips
        analytics — dedup/aggregate are stream-level operators.

        The batch is routed once and persisted; under HOUE=fail a
        rejected event raises before the sink sees any row, under
        HOUE=dlq the rejects are appended after the sink load."""
        from geist_spark.compiler.analytics import apply_analytics

        self.metrics.microbatches += 1
        ct = self.transform
        houe = self.spec.ops.handling_of_unretryable_events
        routed = ct.route(events_df, value_col=value_col).persist()
        try:
            bad = ct.errors(routed, value_col=value_col)
            if houe == HOUE_FAIL and not bad.isEmpty():
                raise UnretryableStreamError(f"unretryable events in {self.spec.id}")
            out = apply_analytics(ct.records(routed), self.spec.transform)
            rid = self._load_with_retry(out, None)
            if houe == HOUE_DLQ:
                # distributed parquet append — no driver-side collect
                self.metrics.events_failed += self._dlq().add_df(
                    bad, value_col=value_col, reason="transform error"
                )
            return rid
        finally:
            routed.unpersist()

    # -- internals ---------------------------------------------------

    def _load_with_retry(self, out: DataFrame, event: str | None) -> str:
        """Retry loop per ops.maxEventProcessingRetries with backoff
        (executor.go:282-329; backoff shortened for tests via ops
        customProperties['retryBackoffMs'])."""
        retries = self.spec.ops.max_event_processing_retries
        backoff_ms = int(self.spec.ops.custom_properties.get("retryBackoffMs", "2000"))
        attempt = 0
        while True:
            try:
                t0 = time.perf_counter()
                rid = self.loader.stream_load(out)
                self.metrics.sink_operations += 1
                self.metrics.sink_processing_time_micros += int(
                    (time.perf_counter() - t0) * 1e6
                )
                self.metrics.events_stored_in_sink += 1
                return rid
            except SinkError as e:
                if not e.retryable:
                    return self._handle_unretryable(event, str(e))
                attempt += 1
                if attempt > retries:
                    raise
                time.sleep(backoff_ms / 1000.0 * (2 ** (attempt - 1)))

    def _handle_unretryable(self, event: str | None, reason: str) -> str:
        """HOUE policy (entity/spec.go:21-26,144-160)."""
        self.metrics.events_failed += 1
        houe = self.spec.ops.handling_of_unretryable_events
        if houe == HOUE_FAIL:
            raise UnretryableStreamError(f"{self.spec.id}: {reason}")
        if houe == HOUE_DLQ and event is not None:
            self._dlq().add_event(event, reason=reason)
        self.notifier.notify(
            "WARN", "executor", f"unretryable event: {reason}",
            stream=self.spec.id,
        )
        return ""
