"""Void sink: discard/log; test hooks for error simulation.

Mirrors the reference's void loader (internal/pkg/entity/void/loader.go:78-156):
- properties `logEventData` -> log rows
- `simulateError` ∈ {alwaysRetryable, alwaysUnretryable, firstRunOnly}
  with `maxErrors` — used by resilience tests
- mode `inMemRegistrySink`: parse the event as a stream spec and return
  its id as the resource id (loader.go:133-156) — backs the in-memory
  spec registry.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from geist_spark.sinks.base import Loader, SinkError
from geist_spark.spec.model import Spec, parse_spec

log = logging.getLogger(__name__)


class VoidLoader(Loader):
    def __init__(self, spark: SparkSession, spec: Spec):
        self.spec = spec
        self.log_event_data = (
            spec.sink.prop("logEventData") == "true" or spec.ops.log_event_data
        )
        self.simulate_error = spec.sink.prop("simulateError")
        self.max_errors = int(spec.sink.prop("maxErrors", "9223372036854775807"))
        self.mode = spec.sink.prop("mode")
        self._errors = 0
        self._runs = 0

    def stream_load(self, df: DataFrame, epoch_id: int | None = None) -> str:
        self._runs += 1
        if self.simulate_error and self._errors < self.max_errors:
            self._errors += 1
            if self.simulate_error == "alwaysRetryable":
                raise SinkError("simulated retryable error", retryable=True)
            if self.simulate_error == "alwaysUnretryable":
                raise SinkError("simulated unretryable error", retryable=False)
            if self.simulate_error == "firstRunOnly" and self._runs == 1:
                raise SinkError("simulated first-run error", retryable=True)

        if self.mode == "inMemRegistrySink":
            # event IS a stream spec; resource id = its stream id
            rows = df.collect()
            if rows:
                raw = rows[-1]["rawEvent"] if "rawEvent" in df.columns else rows[-1][0]
                return parse_spec(raw).id
            return ""

        if self.log_event_data:
            for row in df.limit(20).collect():
                log.info("void sink event: %s", row.asDict())
        else:
            # still materialize the plan (noop write) so the pipeline runs
            df.write.format("noop").mode("overwrite").save()
        return ""
