"""One batch executor (engine/executor.py) behind publish, process_batch
and a streaming query: the same HOUE outcome for a failed sink load on
every path, synchronous loads appending to epochIdempotent tables, and
the benchmark's hook points on the engine."""

import importlib.util
import inspect
import json
import os

import pytest

from geist_spark.engine.api import Engine
from geist_spark.engine.stream import UnretryableStreamError

EVENTS = [json.dumps({"name": n}) for n in ("a", "b")]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


ONE_BLOCK = {"extractFields": [{"fields": [{"id": "name", "jsonPath": "name"}]}]}
# two blocks without forEventsWith: every event splits into 2 records
TWO_BLOCKS = {"extractFields": [
    {"fields": [{"id": "name", "jsonPath": "name"}]},
    {"fields": [{"id": "again", "jsonPath": "name"}]},
]}


def _spec(suffix, houe, error, dlq_path, source=None, transform=ONE_BLOCK):
    return {
        "namespace": "exec",
        "streamIdSuffix": suffix,
        "description": "executor HOUE matrix",
        "version": 1,
        "source": source or {"type": "geistapi"},
        "transform": transform,
        "sink": {"type": "void", "config": {"properties": [
            {"key": "simulateError", "value": error}]}},
        "ops": {
            "handlingOfUnretryableEvents": houe,
            "maxEventProcessingRetries": 1,
            "customProperties": {"retryBackoffMs": "1", "dlqPath": dlq_path},
        },
    }


def _raised(fn) -> str | None:
    try:
        fn()
    except UnretryableStreamError:
        return "UnretryableStreamError"
    except Exception as e:  # the streaming query wraps the Python error
        if "UnretryableStreamError" in str(e):
            return "UnretryableStreamError"
        raise
    return None


def _dlq_rows(spark, path) -> int:
    return spark.read.parquet(path).count() if os.path.exists(path) else 0


@pytest.mark.parametrize("houe,error,blocks", [
    *((h, e, 1) for h in ("discard", "dlq", "fail")
      for e in ("alwaysUnretryable", "alwaysRetryable")),
    *((h, "alwaysUnretryable", 2) for h in ("discard", "dlq", "fail")),
])
def test_failed_sink_load_same_houe_outcome_on_every_path(spark, tmp_path, houe, error, blocks):
    """events_failed counts the DLQ payload rows: publish's raw event,
    or each record of a failed batch load (2 per event for 2 blocks)."""
    eng = Engine(spark)
    transform = ONE_BLOCK if blocks == 1 else TWO_BLOCKS
    got = {}

    def outcome(path, metrics, raised):
        got[path] = (metrics.events_failed, metrics.sink_operations,
                     _dlq_rows(spark, str(tmp_path / path)), raised)

    sid = eng.register_stream(_spec("pub", houe, error, str(tmp_path / "publish"),
                                    transform=transform))
    raised = [_raised(lambda e=e: eng.publish(sid, e)) for e in EVENTS]
    outcome("publish", eng.metrics(sid), raised[0])

    sid = eng.register_stream(_spec("batch", houe, error, str(tmp_path / "batch"),
                                    transform=transform))
    df = spark.createDataFrame([(e,) for e in EVENTS], "value string")
    raised = _raised(lambda: eng.process_batch(sid, df))
    outcome("batch", eng.metrics(sid), raised)

    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    sid = eng.register_stream(_spec(
        "stream", houe, error, str(tmp_path / "stream"),
        source={"type": "file", "config": {"customConfig": {"path": src}}},
        transform=transform,
    ))
    ss = eng.start_streaming(sid)
    try:
        raised = _raised(ss.query.processAllAvailable)
    finally:
        eng.shutdown()
    outcome("stream", ss.metrics, raised)

    def want(rows):
        return {
            "discard": (rows, 0, 0, None),
            "dlq": (rows, 0, rows, None),
            # fail hands the events back to the caller: nothing is counted
            "fail": (0, 0, 0, "UnretryableStreamError"),
        }[houe]

    records = len(EVENTS) * blocks
    assert got == {"publish": want(len(EVENTS)), "batch": want(records),
                   "stream": want(records)}


def test_failed_batch_load_dead_letters_its_records(spark, tmp_path):
    """process_batch dead-letters the records of a failed load as JSON
    (publish dead-letters the raw event: test_engine's test_dlq_routing)."""
    eng = Engine(spark)
    bat = eng.register_stream(_spec("pbat", "dlq", "alwaysUnretryable", str(tmp_path / "b")))
    eng.process_batch(bat, spark.createDataFrame([(EVENTS[1],)], "value string"))
    row = eng.stream(bat).dlq.read().collect()[0]
    assert json.loads(row["value"]) == {"name": "b"}
    assert row["reason"].startswith("sink error")


def test_streaming_default_houe_drops_a_regexp_miss_and_keeps_running(spark, tmp_path):
    """A transform error is deterministic: under HOUE default a streaming
    query drops it (a replay would fail again), loads the other events
    and stays active."""
    src = str(tmp_path / "src")
    events = [json.dumps({"name": n}) for n in ("abc", "123", "de")]
    spark.createDataFrame([(e,) for e in events], "value string").coalesce(1) \
        .write.parquet(src)
    spec = _spec("dflt", "default", "", str(tmp_path / "dlq"),
                 source={"type": "file", "config": {"customConfig": {"path": src}}},
                 transform={**ONE_BLOCK, "regexp": {
                     "expression": "(?P<word>[a-z]+)", "field": "name"}})
    del spec["ops"]
    eng = Engine(spark)
    sid = eng.register_stream(spec)
    ss = eng.start_streaming(sid)
    try:
        ss.query.processAllAvailable()
        assert ss.query.isActive
    finally:
        eng.shutdown()
    m = ss.metrics
    assert (m.sink_operations, m.events_failed) == (1, 0)
    assert not os.path.exists(str(tmp_path / "dlq"))


def test_epoch_idempotent_table_keeps_every_synchronous_load(spark, tmp_path):
    """Synchronous loads carry no epoch, so they append: no publish or
    process_batch overwrites another's rows."""
    eng = Engine(spark)
    sid = eng.register_stream({
        "namespace": "exec", "streamIdSuffix": "idem", "version": 1,
        "description": "epochIdempotent synchronous loads",
        "source": {"type": "geistapi"},
        "transform": {"extractFields": [{"fields": [{"id": "name", "jsonPath": "name"}]}]},
        "sink": {"type": "keyedTable", "config": {"customConfig": {
            "path": str(tmp_path / "t"), "rowKeyFields": ["name"],
            "epochIdempotent": True}}},
    })
    for n in "abc":
        eng.publish(sid, json.dumps({"name": n}))
    for batch in ("de", "f"):
        eng.process_batch(sid, spark.createDataFrame(
            [(json.dumps({"name": n}),) for n in batch], "value string"))
    rows = eng.stream(sid).sink_extractor.extract_all().collect()
    assert sorted(r["name"] for r in rows) == list("abcdef")


def test_benchmark_hook_points_exist():
    """The benchmark wraps engine entry points by name (perfbench/
    harness.py install_layer_tracing) and the sink call by signature
    (perfbench/sinktap.py): every name must still resolve to a
    callable, and the sinks it wraps must take (df, epoch_id)."""
    from geist_spark.sinks.keyed_table import KeyedTableLoader
    from geist_spark.sinks.void import VoidLoader

    spec = importlib.util.spec_from_file_location(
        "perfbench_harness", os.path.join(ROOT, "perfbench", "harness.py")
    )
    harness = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(harness)

    patched = []

    class StubTracer:
        def patch(self, owner, attr, name, jobs=False, rows=None):
            assert callable(getattr(owner, attr)), (owner, attr)
            patched.append(name)

    harness.install_layer_tracing(StubTracer())
    assert "sinks.stream_load" in patched and "engine.dlq" in patched
    for loader in (VoidLoader, KeyedTableLoader):
        params = list(inspect.signature(loader.stream_load).parameters)
        assert params == ["self", "df", "epoch_id"], (loader, params)
