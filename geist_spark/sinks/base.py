"""Sink (loader) plugin API.

Mirrors the reference's LoaderFactory/Loader contract
(entity/loader.go:12-42): a loader receives the transformed DataFrame
of one micro-batch and returns a resource id. `retryable` on errors
drives the executor's retry loop (executor.go:282-329).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from geist_spark.spec.model import Spec


class SinkError(Exception):
    def __init__(self, msg: str, retryable: bool = False):
        super().__init__(msg)
        self.retryable = retryable


class Loader(ABC):
    """StreamLoad ≈ a foreachBatch body (reference entity/loader.go:29-33)."""

    @abstractmethod
    def stream_load(self, df: DataFrame, epoch_id: int | None = None) -> str:
        """Write one (micro-)batch; returns sink resource id. `epoch_id`
        is the streaming batch id, or None for a synchronous load
        (publish, process_batch) that has no replay to deduplicate."""

    def shutdown(self) -> None:  # noqa: B027
        pass


class SinkExtractor(ABC):
    """Sink readback: ExtractFromSink (entity/extractor.go:114-132)."""

    @abstractmethod
    def extract_all(self) -> DataFrame: ...

    @abstractmethod
    def extract_key_value(self, key: str) -> DataFrame: ...


@dataclass
class LoaderFactory:
    sink_id: str
    new_loader: object  # callable(spark, spec) -> Loader
    new_sink_extractor: object = None  # callable(spark, spec) -> SinkExtractor|None

    def create(self, spark: SparkSession, spec: Spec) -> Loader:
        return self.new_loader(spark, spec)

    def create_extractor(self, spark: SparkSession, spec: Spec):
        if self.new_sink_extractor is None:
            return None
        return self.new_sink_extractor(spark, spec)
