"""Kafka sink: produce transformed records to a topic.

Reference semantics (spec shape
test/specs/pubsubsrc-kafkasink-foologs.json:37-61): the message value
is either one extracted field (`message.payloadFromId`) or the whole
transformed record as JSON; topic names resolve per environment.
Topic creation (partitions/replication) is a cluster-admin concern
left to the deployment.

The actual produce needs the spark-sql-kafka connector jar (not
bundled with pyspark); payload projection is pure DataFrame code and
unit-tested without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from geist_spark.sinks.base import Loader, SinkError
from geist_spark.spec.model import Spec


def payload_df(df: DataFrame, payload_from_id: str | None, key_from_id: str | None = None) -> DataFrame:
    """Project the transformed record to Kafka's (key, value) shape."""
    if payload_from_id:
        if payload_from_id not in df.columns:
            raise SinkError(f"payloadFromId field not in record: {payload_from_id}")
        value = F.col(payload_from_id).cast("string")
    else:
        value = F.to_json(F.struct(*df.columns))
    cols = [value.alias("value")]
    if key_from_id:
        cols.insert(0, F.col(key_from_id).cast("string").alias("key"))
    return df.select(*cols)


def topic_for_env(cc: dict, env: str) -> str:
    for t in cc.get("topic") or []:
        t_env = t.get("env", "all")
        if t_env in ("all", env) or not env:
            return t.get("topicSpec", {}).get("name") or t.get("name", "")
    return ""


class KafkaLoader(Loader):
    def __init__(self, spark: SparkSession, spec: Spec, env: str = ""):
        self.spark = spark
        self.spec = spec
        cc = spec.sink.custom_config or {}
        msg = cc.get("message") or {}
        self.payload_from_id = msg.get("payloadFromId")
        self.key_from_id = msg.get("keyFromId")
        self.topic = topic_for_env(cc, env)
        self.servers = cc.get("bootstrapServers", "localhost:9092")
        if not self.topic:
            raise SinkError(f"kafka sink for {spec.id} resolved no topic")

    def stream_load(self, df: DataFrame, epoch_id: int | None = None) -> str:
        out = payload_df(df, self.payload_from_id, self.key_from_id)
        try:
            (
                out.write.format("kafka")
                .option("kafka.bootstrap.servers", self.servers)
                .option("topic", self.topic)
                .save()
            )
        except Exception as e:
            if "kafka" in str(e).lower():
                raise SinkError(
                    "kafka sink needs the spark-sql-kafka connector on the "
                    "classpath (spark.jars.packages="
                    "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)"
                ) from e
            raise
        return self.topic

    def shutdown(self) -> None:
        pass
