"""Structured Streaming runner: spec -> readStream -> compiled
transform -> foreachBatch(loader), plus the supervisor that owns
StreamingQuery lifecycles.

Mirrors the reference's executor/supervisor semantics
(internal/pkg/engine/executor.go, supervisor.go) on Spark's engine:
- one StreamingQuery per stream (the reference's streamsPerPod
  goroutines map to source partitions — Spark's parallelism unit;
  README.md:406-415)
- at-least-once with ack-after-sink: checkpointed micro-batches +
  sink write inside foreachBatch (executor.go:168-170)
- one pass per micro-batch: the stream is routed once at query start
  (`CompiledTransform.route`); each batch body persists its routed
  frame, loads the `records()` view into the sink and appends the
  `errors()` view to the DLQ, so no event is scanned or parsed twice
- HOUE policy inside the batch body: discard / dlq table (after the
  sink load) / fail (before the sink sees any row) (entity/spec.go:21-26)
- supervisor handles create/replace-on-version-bump/disable/shutdown
  (supervisor.go:154-250)
"""

from __future__ import annotations

import logging
import os
import tempfile
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from geist_spark.compiler.analytics import apply_analytics, has_analytics
from geist_spark.compiler.transform import compile_transform
from geist_spark.engine.metrics import Metrics
from geist_spark.sinks.base import Loader, SinkError
from geist_spark.spec.model import (
    HOUE_DISCARD,
    HOUE_DLQ,
    HOUE_FAIL,
    Spec,
)

log = logging.getLogger(__name__)


def build_source_stream(
    spark: SparkSession,
    spec: Spec,
    env: str = "",
    source_factories: dict | None = None,
) -> DataFrame:
    """Source section -> streaming DataFrame with a `value` column.

    Custom source plugins (reference ExtractorFactory,
    entity/extractor.go:14-62) win over native types: a registered
    factory is any `(spark, spec) -> streaming DataFrame` callable."""
    stype = spec.source.type
    cc = spec.source.custom_config or {}
    if source_factories and stype in source_factories:
        return source_factories[stype](spark, spec)
    if stype == "eventsim":
        from geist_spark.sources.eventsim import EventSim, parse_sim_config

        seed = cc.get("seed")
        sim = EventSim(parse_sim_config(cc), seed=seed)
        return sim.stream(spark)
    if stype == "kafka":
        reader = spark.readStream.format("kafka").options(
            **kafka_reader_options(spec, env)
        )
        try:
            df = reader.load()
        except Exception as e:  # connector jar not on the classpath
            if "kafka" in str(e).lower():
                raise RuntimeError(
                    "kafka source needs the spark-sql-kafka connector on the "
                    "classpath (spark.jars.packages="
                    "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
                ) from e
            raise
        return df.select(
            df.value.cast("string").alias("value"),
            df.key.cast("string").alias("key"),
            "timestamp",
        )
    if stype == "pubsub":
        # no public Spark connector for GCP Pub/Sub (the reference keeps
        # the real one in an external plugin repo too, README.md:122-126)
        # — but reference pubsub specs run verbatim against the local
        # file-backed emulator (shared/unique subscription semantics,
        # ack-after-sink; sources/pubsub.py); a real connector can still
        # be registered as a source factory and wins above.
        from geist_spark.sources.pubsub import pubsub_stream_from_spec

        return pubsub_stream_from_spec(spark, spec, env)
    if stype in ("file", "parquet"):
        path = cc.get("path") or spec.source.prop("path")
        schema_df = spark.read.parquet(path)
        return spark.readStream.schema(schema_df.schema).parquet(path)
    raise ValueError(f"source type {stype} is not streamable")


def _exc_summary(q: StreamingQuery) -> str:
    try:
        e = q.exception()
        return str(e).splitlines()[0][:200] if e else "no exception"
    except Exception:
        return "unknown"


def kafka_reader_options(spec: Spec, env: str = "") -> dict[str, str]:
    """Kafka reader options from the spec's source section — pure and
    broker-free, so the full option contract is unit-testable without
    the connector jar (spec shape
    test/specs/kafkasrc-bigquerysink-fooevents.json:9-41):
    per-env topic subscription, consumer props under the `kafka.`
    prefix, ops.microBatchSize (entity/spec.go:12-18) as
    maxOffsetsPerTrigger — Spark's closest contract to the reference's
    event-count micro-batches."""
    cc = spec.source.custom_config or {}
    opts: dict[str, str] = {"subscribe": ",".join(_topics_for_env(cc, env))}
    for p in spec.source.properties:
        if p.key == "auto.offset.reset":
            # Spark's kafka source REJECTS kafka.auto.offset.reset with an
            # IllegalArgumentException (offsets are checkpoint-managed);
            # the reference spec carries it as a plain consumer prop
            # (test/specs/kafkasrc-bigquerysink-fooevents.json:30-33), so
            # translate to the equivalent startingOffsets — same
            # first-run semantics, checkpoint wins thereafter, exactly
            # like a committed consumer group ignores auto.offset.reset.
            # Only 'earliest'/'latest' have a startingOffsets equivalent;
            # Kafka's third legal value 'none' (throw when no committed
            # offset) has none — fail at spec level with a clear message
            # instead of letting Spark throw an opaque option error at
            # stream start.
            if p.value not in ("earliest", "latest"):
                raise ValueError(
                    f"auto.offset.reset={p.value!r} has no Spark "
                    "startingOffsets equivalent (use 'earliest' or "
                    "'latest'; Spark manages offsets via checkpoints)"
                )
            opts["startingOffsets"] = p.value
            continue
        opts[f"kafka.{p.key}"] = p.value
    if spec.ops.micro_batch and spec.ops.micro_batch_size:
        opts["maxOffsetsPerTrigger"] = str(spec.ops.micro_batch_size)
    opts["kafka.bootstrap.servers"] = cc.get(
        "bootstrapServers", "localhost:9092"
    )
    return opts


def _topics_for_env(cc: dict, env: str) -> list[str]:
    """Per-env topic names (spec shape
    test/specs/kafkasrc-bigquerysink-fooevents.json:9-41)."""
    for t in cc.get("topics") or []:
        t_env = t.get("env", "all")
        if t_env in ("all", env) or not env:
            return t.get("names") or t.get("topics") or []
    return []


@dataclass
class StreamingStream:
    """A deployed streaming pipeline: source -> transform -> sink."""

    spark: SparkSession
    spec: Spec
    loader: Loader
    env: str = ""
    checkpoint_root: str = ""
    value_col: str = "value"
    source_factories: dict | None = None
    pre_hook: object = None
    post_hook: object = None
    metrics: Metrics = dc_field(default_factory=Metrics)
    dlq: "DeadLetterQueue | None" = None
    query: StreamingQuery | None = None
    dlq_query: StreamingQuery | None = None

    def start(self) -> StreamingQuery:
        from geist_spark.engine.dlq import DeadLetterQueue

        if self.dlq is None:
            self.dlq = DeadLetterQueue(
                self.spark,
                self.spec.id,
                self.spec.ops.custom_properties.get("dlqPath"),
            )
        source = build_source_stream(
            self.spark, self.spec, self.env, self.source_factories
        )
        ct = compile_transform(self.spec)
        houe = self.spec.ops.handling_of_unretryable_events
        value_col = self.value_col

        retries = self.spec.ops.max_event_processing_retries
        retry_backoff_ms = int(
            self.spec.ops.custom_properties.get("retryBackoffMs", "2000")
        )

        def load_with_retry(out: DataFrame, epoch_id: int) -> None:
            """Sink retry loop (executor.go:282-329): retryable errors
            retried with doubling backoff; exhaustion or unretryable ->
            HOUE. A raise kills the query; the supervisor's restart loop
            + checkpoint replays the batch (at-least-once)."""
            import time as _t

            attempt = 0
            while True:
                try:
                    self.loader.stream_load(out, epoch_id)
                    self.metrics.sink_operations += 1
                    return
                except SinkError as e:
                    if e.retryable and attempt < retries:
                        attempt += 1
                        _t.sleep(retry_backoff_ms / 1000.0 * (2 ** (attempt - 1)))
                        continue
                    if houe == HOUE_DISCARD:
                        # count dropped EVENTS, not micro-batches, to
                        # match the DLQ branch and the reference's
                        # per-event counters (entity/common.go:36-62)
                        self.metrics.events_failed += out.count()
                        return
                    if houe == HOUE_DLQ:
                        self.metrics.events_failed += self.dlq.add_df(
                            out.select(F.to_json(F.struct("*")).alias(value_col)),
                            value_col=value_col,
                            reason=f"sink error: {e}",
                        )
                        return
                    raise

        post_hook = self.post_hook
        stream_id = self.spec.id

        def process(routed: DataFrame, epoch_id: int) -> None:
            """One routed micro-batch: persisted once, so the source is
            scanned and parsed once for the sink and the DLQ (Spark's
            foreachBatch pattern for several outputs)."""
            from geist_spark.engine.hooks import apply_post_hook_distributed

            self.metrics.microbatches += 1
            routed.persist()
            try:
                bad = ct.errors(routed, value_col=value_col)
                if houe == HOUE_FAIL and not bad.isEmpty():
                    # before the sink sees any row of the batch
                    raise RuntimeError(f"unretryable events in stream {stream_id}")
                out = ct.records(routed)
                if post_hook is not None:
                    out = apply_post_hook_distributed(out, post_hook, stream_id)
                load_with_retry(out, epoch_id)
                if houe == HOUE_DLQ:
                    # after the sink load; distributed parquet append
                    self.metrics.events_failed += self.dlq.add_df(
                        bad, value_col=value_col, reason="transform error"
                    )
            finally:
                routed.unpersist()

        checkpoint = os.path.join(
            self.checkpoint_root or tempfile.mkdtemp(prefix="geist_ckpt_"),
            self.spec.id,
            f"v{self.spec.version}",
        )
        if has_analytics(self.spec.transform):
            # analytics mode: the stateful operators (windowed agg,
            # watermark dedup, stream-stream join) must live on the
            # STREAMING DataFrame — inside foreachBatch they would only
            # see one micro-batch of state. The batch body just loads
            # results. Transform-error routing runs as a PARALLEL query
            # over a second read of the source (below): rejected events
            # can't be observed from inside the stateful plan.
            right = None
            j = self.spec.transform.join
            if j is not None and j.stream is not None:
                from geist_spark.spec.model import join_stream_spec

                rspec = join_stream_spec(self.spec)
                rsource = build_source_stream(
                    self.spark, rspec, self.env, self.source_factories
                )
                right = compile_transform(rspec).apply(
                    rsource, value_col=self.value_col
                )
            data = apply_analytics(
                ct.apply(source, value_col=value_col),
                self.spec.transform,
                join_right_df=right,
            )

            def process_analytics(batch_df: DataFrame, epoch_id: int) -> None:
                self.metrics.microbatches += 1
                load_with_retry(batch_df, epoch_id)

            agg = self.spec.transform.aggregate
            if agg is not None:
                mode = agg.output_mode
            elif j is not None and j.stream is not None:
                mode = "append"  # stream-stream joins emit append-only
            else:
                mode = "update"
            writer = (
                data.writeStream.foreachBatch(process_analytics).outputMode(mode)
            )
            if houe == HOUE_DLQ:
                # parallel DLQ query: re-read the source and route
                # transform-rejected raw events to the DLQ table. Own
                # checkpoint; kafka re-consumes under a shadow group —
                # the cost of keeping the main plan purely stateful.
                dlq_source = build_source_stream(
                    self.spark, self.spec, self.env, self.source_factories
                )

                def process_rejects(batch_df: DataFrame, epoch_id: int) -> None:
                    bad = ct.rejected(batch_df, value_col=value_col)
                    self.metrics.events_failed += self.dlq.add_df(
                        bad, value_col=value_col, reason="transform error"
                    )

                self.dlq_query = (
                    dlq_source.writeStream.foreachBatch(process_rejects)
                    .option("checkpointLocation", checkpoint + "_dlq")
                    .queryName(f"{self.spec.id}-dlq")
                    .start()
                )
        else:
            if self.pre_hook is not None:
                from geist_spark.engine.hooks import apply_pre_hook_distributed

                source = apply_pre_hook_distributed(
                    source, self.pre_hook, stream_id, value_col
                )
            # route once, at query start: every batch reuses the plan
            writer = ct.route(source, value_col=value_col).writeStream.foreachBatch(
                process
            )
        self.query = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{self.spec.ops.micro_batch_timeout_ms} milliseconds"
                     if self.spec.ops.micro_batch else "0 seconds")
            .queryName(self.spec.id)
            .start()
        )
        return self.query

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self.dlq_query is not None and self.dlq_query.isActive:
            self.dlq_query.stop()

    def await_batches(self, n: int = 1, timeout_s: float = 60.0) -> None:
        """Test helper: block until >= n micro-batches have been sunk.

        processAllAvailable() never returns for continuously-producing
        sources (rate-micro-batch always has a next batch), so poll the
        engine-side counter instead.
        """
        assert self.query is not None
        import time

        deadline = time.monotonic() + timeout_s
        while self.metrics.sink_operations < n:
            if not self.query.isActive:
                raise RuntimeError(f"query died: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"only {self.metrics.sink_operations}/{n} batches after {timeout_s}s"
                )
            time.sleep(0.1)


from pyspark.sql.streaming.listener import StreamingQueryListener


class _MetricsListener(StreamingQueryListener):
    """StreamingQueryListener folding lastProgress into the per-stream
    Metrics shape (reference entity/common.go:36-62 counters come from
    the engine; here Spark's progress events are the source of truth
    for input-row counts)."""

    def __init__(self, supervisor: "StreamingSupervisor"):
        self._sup = supervisor

    def _stream_for(self, name: str) -> "StreamingStream | None":
        return self._sup.get(name)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ss = self._stream_for(p.name)
        if ss is not None:
            ss.metrics.events_processed += int(p.numInputRows or 0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class StreamingSupervisor:
    """Owns all StreamingQuery objects (supervisor.go:61-177), with the
    reference executor's self-healing restart loop: a failed query is
    restarted with exponential backoff, initial 4 s doubling to a cap
    (executor.go:18-23,119-158; config.go:12-15). Backoff resets once a
    restarted query survives past the current interval."""

    RESTART_BACKOFF_INITIAL_S = 4.0
    RESTART_BACKOFF_CAP_S = 240.0

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_root: str | None = None,
        env: str = "",
        restart_backoff_initial_s: float | None = None,
        restart_backoff_cap_s: float | None = None,
    ):
        self.spark = spark
        self.env = env
        self.checkpoint_root = checkpoint_root or tempfile.mkdtemp(prefix="geist_ckpt_")
        self._streams: dict[str, StreamingStream] = {}
        self._backoff0 = restart_backoff_initial_s or self.RESTART_BACKOFF_INITIAL_S
        self._backoff_cap = restart_backoff_cap_s or self.RESTART_BACKOFF_CAP_S
        self._monitor: "threading.Thread | None" = None
        self._stop_monitor = False
        self._listener = _MetricsListener(self)
        spark.streams.addListener(self._listener)

    def deploy(
        self,
        spec: Spec,
        loader: Loader,
        source_factories: dict | None = None,
        pre_hook: object = None,
        post_hook: object = None,
    ) -> StreamingStream:
        """Create or replace (version upgrade) the stream for a spec
        (supervisor.go:220-250)."""
        old = self._streams.pop(spec.id, None)
        if old is not None:
            old.stop()
        if spec.disabled:
            return old
        ss = StreamingStream(
            spark=self.spark,
            spec=spec,
            loader=loader,
            env=self.env,
            checkpoint_root=self.checkpoint_root,
            source_factories=source_factories,
            pre_hook=pre_hook,
            post_hook=post_hook,
        )
        ss.start()
        self._streams[spec.id] = ss
        return ss

    def get(self, stream_id: str) -> StreamingStream | None:
        return self._streams.get(stream_id)

    # -- self-healing (executor.go:119-158) --------------------------

    def start_monitor(self, poll_s: float = 0.5) -> None:
        """Background thread: restart dead queries with backoff."""
        import threading

        if self._monitor is not None:
            return
        self._stop_monitor = False

        def loop() -> None:
            import time

            backoff: dict[str, float] = {}
            next_try: dict[str, float] = {}
            while not self._stop_monitor:
                now = time.monotonic()
                for sid, ss in list(self._streams.items()):
                    q = ss.query
                    if q is None or q.isActive:
                        # healthy past one interval -> reset backoff
                        if sid in next_try and now > next_try[sid]:
                            backoff.pop(sid, None)
                            next_try.pop(sid, None)
                        continue
                    if sid not in next_try:
                        b = backoff.get(sid, self._backoff0)
                        next_try[sid] = now + b
                        backoff[sid] = min(b * 2, self._backoff_cap)
                        ss.metrics.stream_restarts += 1
                        log.warning(
                            "stream %s died (%s); restart in %.1fs",
                            sid, _exc_summary(q), next_try[sid] - now,
                        )
                    elif now >= next_try[sid]:
                        # double on EVERY attempt (capped), mirroring the
                        # reference executor's per-retry doubling
                        # (executor.go:137-150) — a persistently failing
                        # query walks 4s -> 8s -> ... -> cap, not a
                        # fixed interval
                        b = backoff.get(sid, self._backoff0)
                        next_try[sid] = now + b
                        backoff[sid] = min(b * 2, self._backoff_cap)
                        try:
                            ss.start()
                        except Exception:
                            log.exception("restart of %s failed", sid)
                time.sleep(poll_s)

        self._monitor = threading.Thread(target=loop, daemon=True, name="geist-supervisor")
        self._monitor.start()

    def shutdown(self) -> None:
        self._stop_monitor = True
        if self._monitor is not None:
            self._monitor.join(timeout=5)
            self._monitor = None
        for ss in self._streams.values():
            ss.stop()
        self._streams.clear()
        if self._listener is not None:
            try:
                self.spark.streams.removeListener(self._listener)
            except Exception:
                pass
            self._listener = None

    def metrics(self) -> dict[str, Metrics]:
        return {sid: ss.metrics for sid, ss in self._streams.items()}
