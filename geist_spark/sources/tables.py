"""Parquet table loader for the driver's test tables.

events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
rejects by default; `spark.sql.legacy.parquet.nanosAsLong` (runtime
settable) reads it as long nanos, and we truncate to micros exactly
like DuckDB does for its TIMESTAMP type — keeping oracle comparisons
bit-identical. Division is integer (`div`) to avoid double-precision
loss on 1.7e18 nanos."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# (sf_dir, name) -> (freshness token, inferred StructType). Schema
# inference on a parquet path runs a footer-reading Spark JOB per read
# (measured ~50x the cost of an explicit schema), and every query
# rebuild re-reads its tables — across a 279-query bench that is
# hundreds of redundant inference jobs. This caches METADATA only (a
# pure-Python StructType, no JVM references, safe across session
# restarts): every read still scans the parquet data itself. One entry
# per table: a rewrite replaces it instead of adding one.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    # freshness token: a fixture that rewrites a table at the same path
    # changes its mtime or size, invalidating the cached schema instead
    # of silently applying a stale one. One local stat() vs a
    # footer-reading Spark job per read.
    try:
        st = os.stat(path)
        token = (st.st_mtime_ns, st.st_size)
    except OSError:
        token = None
    hit = _SCHEMA_CACHE.get((sf_dir, name))
    if hit is None or hit[0] != token:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[(sf_dir, name)] = (token, df.schema)
    else:
        df = spark.read.schema(hit[1]).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
