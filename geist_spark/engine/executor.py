"""Batch executor: the one owner of the sink load, the HOUE policy and
the dead-letter queue (executor.go:175-329: ProcessEvent -> loadToSink
with retry -> HOUE). Each spec's `Stream` builds one; publish,
process_batch and the spec's streaming query keep their hooks and
routing and call it. `load` retries a retryable `SinkError`
`ops.maxEventProcessingRetries` times with doubling backoff (ops
customProperties['retryBackoffMs'], default 2000 ms); an unretryable
one, or retries run out, goes to HOUE like a transform error
(entity/spec.go:21-26, 144-160):

  | HOUE    | unretryable events                                      |
  |---------|---------------------------------------------------------|
  | discard | dropped, counted in events_failed                       |
  | dlq     | appended to the DLQ, counted as the rows appended       |
  | fail    | `UnretryableStreamError`, not counted: the caller, or   |
  |         | the supervisor's restart replaying the batch, owns them |
  | default | a transform error is discarded on every path (a replay  |
  |         | would only repeat it); a failed load resolves from its  |
  |         | epoch: none (publish, process_batch) discards, an epoch |
  |         | (a streaming batch) fails the batch, so the restart     |
  |         | replays it once the sink is back                        |

Callers pass the DLQ payload as a frame: publish the raw event, the
batch paths the raw value of a transform error and `to_json(struct(*))`
of a failed load's records. events_failed counts payload rows, so a
failed batch load counts records (an event split by several blocks
counts once per record). Under discard the batch paths drop transform
errors uncounted (counting would cost a job per batch).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from geist_spark.engine.dlq import DeadLetterQueue
from geist_spark.engine.metrics import Metrics, Notifier
from geist_spark.sinks.base import Loader, SinkError
from geist_spark.spec.model import HOUE_DEFAULT, HOUE_DISCARD, HOUE_DLQ, HOUE_FAIL, Spec


class UnretryableStreamError(Exception):
    """HOUE=fail: an unretryable event stops the publish, the batch or
    the streaming query."""


@dataclass
class BatchExecutor:
    spark: SparkSession
    spec: Spec
    loader: Loader
    metrics: Metrics
    notifier: Notifier | None = None
    dlq: DeadLetterQueue | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        ops = self.spec.ops
        houe = ops.handling_of_unretryable_events
        # `default`: discard, except a failed load with an epoch (`load`)
        self.houe = HOUE_DISCARD if houe == HOUE_DEFAULT else houe
        self.replay_failed_loads = houe == HOUE_DEFAULT
        self.retries = ops.max_event_processing_retries
        self.backoff_s = int(ops.custom_properties.get("retryBackoffMs", "2000")) / 1000

    def run_batch(self, ct, routed, epoch_id=None, value_col="value", shape=None) -> str:
        """One routed batch (`CompiledTransform.route`), persisted once:
        HOUE=fail raises on a transform error before the sink sees any
        row, the records view (mapped lazily by `shape`: post-hook,
        analytics) is loaded, then the errors view is dead-lettered."""
        self.metrics.microbatches += 1
        routed.persist()
        try:
            bad = ct.errors(routed, value_col=value_col)
            if self.houe == HOUE_FAIL and not bad.isEmpty():
                raise UnretryableStreamError(f"unretryable events in {self.spec.id}: transform error")
            out = ct.records(routed)
            rid = self.load(out if shape is None else shape(out), epoch_id)
            if self.houe == HOUE_DLQ:
                self.dead_letter(bad, "transform error", value_col)
            return rid or ""
        finally:
            routed.unpersist()

    def load(self, out: DataFrame, epoch_id=None, rejects: DataFrame | None = None) -> str | None:
        """The sink's resource id, or None when the load failed and its
        events went to HOUE. `rejects`: the DLQ payload of a failed load
        in a `value` column (default: `out` as JSON strings)."""
        attempt = 0
        while True:
            t0 = time.perf_counter()
            try:
                rid = self.loader.stream_load(out, epoch_id)
            except SinkError as e:
                if e.retryable and attempt < self.retries:
                    attempt += 1
                    time.sleep(self.backoff_s * 2 ** (attempt - 1))
                    continue
                if rejects is None:
                    rejects = out.select(F.to_json(F.struct("*")).alias("value"))
                replay = self.replay_failed_loads and epoch_id is not None
                self.unretryable(rejects, f"sink error: {e}", HOUE_FAIL if replay else self.houe)
                return None
            self.metrics.sink_operations += 1
            self.metrics.sink_processing_time_micros += int((time.perf_counter() - t0) * 1e6)
            return rid

    def unretryable(self, rejects: DataFrame, reason: str, houe: str | None = None) -> None:
        """HOUE (default: the resolved policy) for a frame of payloads
        in a `value` column."""
        houe = houe or self.houe
        if houe == HOUE_FAIL:
            raise UnretryableStreamError(f"unretryable events in {self.spec.id}: {reason}")
        if houe == HOUE_DLQ:
            self.dead_letter(rejects, reason)
        else:
            # a driver-local frame (publish's raw event) counts without a job
            self.metrics.events_failed += len(rejects.collect()) if rejects.isLocal() else rejects.count()
        if self.notifier is not None:
            self.notifier.notify("WARN", "executor", f"unretryable event: {reason}",
                                 stream=self.spec.id)

    def dead_letter(self, rejects: DataFrame, reason: str, value_col="value") -> None:
        """Append to the stream's DLQ, built on first use."""
        if self.dlq is None:
            self.dlq = DeadLetterQueue(
                self.spark, self.spec.id, self.spec.ops.custom_properties.get("dlqPath")
            )
        self.metrics.events_failed += self.dlq.add_df(rejects, value_col, reason)
