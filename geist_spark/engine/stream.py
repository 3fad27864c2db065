"""Stream: one registered spec bound to source -> compiled transform ->
sink. The engine builds one per spec; publish, process_batch and the
spec's streaming query (streaming/runner.py) all run through it, so
they share its hooks, loader, executor, DLQ and Metrics.

Mirrors internal/pkg/engine/stream.go:11-36 and executor.go:175-329:
hooks -> transform -> load-with-retry -> HOUE. Every path routes each
event once (`CompiledTransform.route`) and runs the hooks; the
stream's `BatchExecutor` (engine/executor.py) owns the sink load, HOUE
and the DLQ. Publish (geistapi) runs the hooks per event and decides
error / excluded / load from one collect of its routed row,
dead-letters the raw event, and returns the sink resource id: the
reference's channel-source ack contract
(internal/pkg/entity/channel/extractor.go:46-98). The batch paths run
the hooks distributed: `route_batch` (pre-hook, then route) builds the
plan and `run_routed` loads one routed batch (post-hook, then analytics)
with the batch's epoch, or none for process_batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, types as T

from geist_spark.compiler.analytics import apply_analytics
from geist_spark.compiler.transform import (
    OUTCOME_COL,
    OUTCOME_ERROR,
    OUTCOME_EXCLUDED,
    CompiledTransform,
)
from geist_spark.engine.dlq import DeadLetterQueue
from geist_spark.engine.executor import BatchExecutor, UnretryableStreamError  # noqa: F401
from geist_spark.engine.hooks import (
    EventHolder,
    HookAction,
    PostTransformHook,
    PreTransformHook,
    apply_post_hook_distributed,
    apply_pre_hook_distributed,
)
from geist_spark.engine.metrics import Metrics, Notifier
from geist_spark.functions.localdf import local_df
from geist_spark.sinks.base import Loader
from geist_spark.spec.model import Spec

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType(), False),
        T.StructField("key", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)


class StreamShutdown(Exception):
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
    metrics: Metrics = field(default_factory=Metrics)

    def __post_init__(self) -> None:
        self.executor = BatchExecutor(
            self.spark, self.spec, self.loader, self.metrics, notifier=self.notifier
        )

    @property
    def dlq(self) -> DeadLetterQueue | None:
        return self.executor.dlq

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
                return self._reject(event, f"pre-hook {action.name}")
            event = holder.data

        # one routed row (a LocalTableScan: one partition, and no job
        # for the collect): its outcome and records in a single collect
        routed = self.transform.route(local_df(self.spark, [(event, None, None)], EVENT_SCHEMA))
        row = routed.collect()[0]
        if row[OUTCOME_COL] == OUTCOME_ERROR:
            return self._reject(event, "transform error")
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
                return self._reject(event, f"post-hook {action.name}")
            names = out.schema.fieldNames()
            out = local_df(self.spark, [tuple(d.get(n) for n in names) for d in dicts], out.schema)

        rid = self.executor.load(out, None, rejects=self._raw(event))
        self.metrics.events_stored_in_sink += int(rid is not None)
        return rid or ""

    def _raw(self, event: str) -> DataFrame:
        """The raw event as a one-row DLQ payload frame."""
        return local_df(self.spark, [(event,)], "value string")

    def _reject(self, event: str, reason: str) -> str:
        self.executor.unretryable(self._raw(event), reason)
        return ""

    # -- batch paths: process_batch and the streaming query ---------

    def route_batch(self, df: DataFrame, value_col: str = "value") -> DataFrame:
        """The distributed pre-hook, then `route`: a static batch, or a
        streaming source routed once at query start."""
        if self.pre_hook is not None:
            df = apply_pre_hook_distributed(df, self.pre_hook, self.spec.id, value_col)
        return self.transform.route(df, value_col=value_col)

    def shape(self, out: DataFrame, join_right_df: DataFrame | None = None) -> DataFrame:
        """Records -> sink rows: the distributed post-hook, then the
        analytics sections."""
        if self.post_hook is not None:
            out = apply_post_hook_distributed(out, self.post_hook, self.spec.id)
        return apply_analytics(out, self.spec.transform, join_right_df=join_right_df)

    def run_routed(self, routed: DataFrame, epoch_id=None, value_col: str = "value") -> str:
        """Load one routed batch; a streaming query's foreachBatch body
        (its epoch) and process_batch (none)."""
        return self.executor.run_batch(self.transform, routed, epoch_id, value_col, self.shape)

    def process_batch(self, events_df: DataFrame, value_col: str = "value") -> str:
        """Hooks + transform (+ analytics sections) + load of one static
        batch. The geistapi single-event publish path skips analytics:
        dedup/aggregate are stream-level operators."""
        return self.run_routed(self.route_batch(events_df, value_col), value_col=value_col)
