"""One Stream per spec: publish, process_batch and the spec's streaming
query run through the engine's `Stream`, so they share its hooks,
loader, executor, DLQ and Metrics; plus a source-level guard that no
second copy of those comes back."""

import ast
import datetime as dt
import json
import os
import re

import pytest

from geist_spark.engine.api import Engine
from geist_spark.engine.hooks import HookAction
from geist_spark.engine.registry import RegistryError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "geist_spark")
REGEXP = {"expression": "^(?P<verb>[A-Z]+) (?P<path>\\S+)$", "field": "ln"}


def _hooks() -> dict:
    """A pre-hook that SKIPs the event whose line is "SKIP /s" and a
    post-hook that sets `tag` on every record (closures, so the Python
    workers get them by value)."""

    def pre(ctx, holder):
        return HookAction.SKIP if json.loads(holder.data)["line"] == "SKIP /s" else HookAction.PROCEED

    def post(ctx, records):
        for r in records:
            r["tag"] = "post"
        return HookAction.PROCEED

    return {"pre_transform_hook": pre, "post_transform_hook": post}


def _lines(*lines):
    return [json.dumps({"line": ln}) for ln in lines]


def _sunk(spark, path) -> list[tuple]:
    """(regexp path, tag) of every sink row."""
    return sorted((json.loads(r["regexppayload"])["path"], r["tag"])
                  for r in spark.read.parquet(path).collect())


def _write_source(spark, path, events):
    spark.createDataFrame([(e,) for e in events], "value string").coalesce(1).write.parquet(path)


def _spec(suffix, src, out_path, transform=None, ops=None):
    return {
        "namespace": "one", "streamIdSuffix": suffix, "version": 1,
        "description": "one stream per spec",
        "source": {"type": "file", "config": {"customConfig": {"path": src}}},
        "transform": transform or {
            "extractFields": [{"fields": [
                {"id": "ln", "jsonPath": "line"},
                {"id": "tag", "jsonPath": "tag"},
            ]}],
            "regexp": REGEXP,
        },
        "sink": {"type": "keyedTable", "config": {"customConfig": {"path": out_path}}},
        "ops": ops or {"handlingOfUnretryableEvents": "dlq"},
    }


def test_publish_and_query_share_the_stream(spark, tmp_path):
    """HOUE=dlq without a dlqPath: the query's reject and publish's
    reject land in one DLQ, and eng.metrics / metrics_df count the
    query's sink loads and failures with publish's."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _write_source(spark, src, _lines("GET /a", "no-match", "SKIP /s"))
    eng = Engine(spark, **_hooks())
    sid = eng.register_stream(_spec("shared", src, out))
    ss = eng.start_streaming(sid)
    try:
        ss.query.processAllAvailable()
        assert ss.stream is eng.stream(sid)
        assert ss.loader is eng.stream(sid).loader
        m = eng.metrics(sid)
        assert (m.sink_operations, m.events_failed) == (1, 1)
        dlq = eng.stream(sid).dlq
        assert dlq is not None

        eng.publish(sid, _lines("PUT /b")[0])
        eng.publish(sid, _lines("also no match")[0])
        assert eng.stream(sid).dlq is dlq
        assert (m.sink_operations, m.events_failed) == (2, 2)
        row = {r["stream_id"]: r for r in eng.metrics_df().collect()}[sid]
        assert (row["sink_operations"], row["events_failed"]) == (2, 2)
        assert eng.all_metrics()[sid] is m
    finally:
        eng.shutdown()
    assert sorted(json.loads(v)["line"] for v in dlq.values()) == ["also no match", "no-match"]
    assert _sunk(spark, out) == [("/a", "post"), ("/b", "post")]


def test_process_batch_runs_the_hooks(spark, tmp_path):
    from geist_spark.sinks.keyed_table import new_temp_path

    out = new_temp_path()
    eng = Engine(spark, **_hooks())
    sid = eng.register_stream(_spec("batchhooks", str(tmp_path / "unused"), out))
    events = spark.createDataFrame([(e,) for e in _lines("GET /a", "SKIP /s")], "value string")
    eng.process_batch(sid, events)
    assert _sunk(spark, out) == [("/a", "post")]


def test_analytics_streaming_runs_the_hooks(spark, tmp_path):
    """A deduplicate spec runs the stateful plan on the streaming frame:
    the pre-hook's SKIP and the post-hook's field reach it too."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    t0 = dt.datetime(2024, 1, 1)
    _write_source(spark, src, [
        json.dumps({"line": ln, "ts": (t0 + dt.timedelta(seconds=s)).isoformat() + "Z"})
        for ln, s in (("GET /a", 0), ("SKIP /s", 1), ("GET /a", 2), ("GET /c", 3))
    ])
    eng = Engine(spark, **_hooks())
    sid = eng.register_stream(_spec("anhooks", src, out, transform={
        "extractFields": [{"fields": [
            {"id": "ln", "jsonPath": "line"},
            {"id": "ts", "jsonPath": "ts", "type": "isoTimestamp"},
            {"id": "tag", "jsonPath": "tag"},
        ]}],
        "deduplicate": {
            "fields": ["ln"],
            "withinWatermark": True,
            "watermark": {"field": "ts", "delay": "1 hour"},
        },
    }, ops={}))
    ss = eng.start_streaming(sid)
    try:
        ss.query.processAllAvailable()
    finally:
        eng.shutdown()
    rows = spark.read.parquet(out).collect()
    assert sorted((r["ln"], r["tag"]) for r in rows) == [("GET /a", "post"), ("GET /c", "post")]


def test_start_streaming_on_a_disabled_stream_raises(spark, tmp_path):
    eng = Engine(spark)
    spec = _spec("disabled", str(tmp_path / "src"), str(tmp_path / "out"))
    sid = eng.register_stream(spec)
    eng.register_stream({**spec, "version": 2, "disabled": True})
    with pytest.raises(RegistryError, match="disabled"):
        eng.start_streaming(sid)
    with pytest.raises(KeyError):
        eng.start_streaming("one-never-registered")
    assert eng.streaming_stream(sid) is None


def _source(rel: str) -> str:
    with open(os.path.join(PKG, rel)) as f:
        return f.read()


def _calls(pattern: str, dirs=("engine", "streaming")) -> dict[str, int]:
    """Files under `dirs` with a match of `pattern`, and the count."""
    out = {}
    for d in dirs:
        for name in sorted(os.listdir(os.path.join(PKG, d))):
            if name.endswith(".py"):
                n = len(re.findall(pattern, _source(os.path.join(d, name))))
                if n:
                    out[f"{d}/{name}"] = n
    return out


def test_one_executor_dlq_and_loader_call_site():
    """Spark-free: the executor is built once (by Stream), the DLQ once
    (by the executor), the sink is called once, and the query handle
    keeps no executor, counters, loader or hooks of its own."""
    assert _calls(r"\bBatchExecutor\(") == {"engine/stream.py": 1}
    assert _calls(r"\bDeadLetterQueue\(") == {"engine/executor.py": 1}
    assert sum(_calls(r"\.stream_load\(").values()) == 1
    assert _calls(r"\.create\(self\.spark") == {"engine/api.py": 1}  # _build_stream

    tree = ast.parse(_source("streaming/runner.py"))
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "StreamingStream")
    fields = {n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)}
    assert not fields & {"executor", "metrics", "loader", "pre_hook", "post_hook"}, fields
    assigned = {
        t.attr for n in ast.walk(cls) if isinstance(n, ast.Assign)
        for t in n.targets if isinstance(t, ast.Attribute)
    }
    assert not assigned & {"executor", "metrics", "loader", "pre_hook", "post_hook"}, assigned

    # the benchmark's tracer patches this name on the runner module
    assert re.search(r"^from geist_spark\.compiler\.transform import .*\bcompile_transform\b",
                     _source("streaming/runner.py"), re.M)
