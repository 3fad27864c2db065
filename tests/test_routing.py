"""One pass per micro-batch: `CompiledTransform.route` and the engine
paths that feed the sink and the DLQ from one routed frame.

- route outcomes partition the input, and the records / errors views
  of a persisted routed frame equal apply / rejected (differential
  over the transform and regexp golden fixtures);
- HOUE ordering: `fail` raises before the sink sees any row, `dlq`
  appends after the sink load, and a clean batch writes no DLQ file;
- structural guards that host noise cannot move: Spark jobs per
  batch, one `from_json` and one `RLIKE` in the routed plan, one
  source scan per streaming micro-batch.
"""

import glob
import json
import os
import time

import pytest

from geist_spark.compiler.transform import (
    OUTCOME_COL,
    OUTCOME_ERROR,
    OUTCOME_EXCLUDED,
    OUTCOME_OK,
    compile_transform,
)
from geist_spark.engine.api import Engine
from geist_spark.engine.stream import UnretryableStreamError
from geist_spark.spec.model import parse_spec

from tests import test_regexp as rxf
from tests import test_transform as tf

OK, EXCL, ERR = OUTCOME_OK, OUTCOME_EXCLUDED, OUTCOME_ERROR

LINE_RX = "^(?P<verb>[A-Z]+) (?P<path>\\S+) (?P<status>\\d+)$"
# exclude + field regexp + extractFields: the streaming benchmark's shape
LOG_TRANSFORM = {
    "excludeEventsWith": [{"key": "kind", "values": ["drop"]}],
    "extractFields": [{"fields": [
        {"id": "user", "jsonPath": "user", "type": "integer"},
        {"id": "ln", "jsonPath": "line"},
    ]}],
    "regexp": {"expression": LINE_RX, "field": "ln"},
}


def log_event(user, line="GET /a 200", kind="keep"):
    return json.dumps({"kind": kind, "line": line, "user": user})


# (transform, [(event, expected outcome)]) from the golden fixtures
FIXTURES = {
    "session_dispatch": (tf.SESSION_TRANSFORM, [
        (tf.BEGIN_EVENT, OK),
        (tf.END_EVENT, OK),
        (json.dumps({"foo": {"evtType": "SOMETHING_ELSE"}}), EXCL),
    ]),
    "event_split": ({"extractFields": [
        {"fields": [{"id": "a", "jsonPath": "x"}]},
        {"fields": [{"id": "b", "jsonPath": "y"}]},
    ]}, [('{"x": "1", "y": "2"}', OK), ("{}", OK)]),
    "gjson_query": (tf.XCH_TRANSFORM, [
        (json.dumps({"name": "XCH_RATES_UPDATED", "ts": "t",
                     "data": [{"base": "EUR", "rates": {"CHF": 1.08}}]}), OK),
        (json.dumps({"name": "XCH_RATES_UPDATED", "ts": "x",
                     "data": [{"base": "CHF", "rates": {}}]}), EXCL),
    ]),
    "array_items": ({"extractItemsFromArray": [{"id": "m", "items": {
        "jsonPathToArray": "coolArray",
        "idFromItemFields": {"delimiter": "#", "fields": ["fooId", "barId"]},
    }}]}, [(tf.ARRAY_EVENT, OK)]),
    "filters": (tf._filter_transform([
        {"key": "name", "values": ["x"]},
        {"key": "kind", "valueIsEmpty": True},
    ]), [
        ('{"name": "x", "kind": "k"}', EXCL),
        ('{"name": "y", "kind": "k"}', OK),
        ('{"name": "y"}', EXCL),
    ]),
    "regexp_access_log": (rxf._regexp_transform(rxf.ACCESS_LOG_RX, "02/Jan/2006:15:04:05 -0700"), [
        (rxf.ACCESS_EVENT, OK),
        ('{"textPayload": "not a log line at all"}', ERR),
        ("{}", ERR),
    ]),
    "regexp_app_log": (rxf._regexp_transform(rxf.APP_LOG_RX, "2006-01-02 15:04:05.999 -0700"), [
        (rxf.APP_EVENT, OK),
        (rxf.ACCESS_EVENT, ERR),
    ]),
    "regexp_raw_event": ({"regexp": {"expression": '"id":"(?P<id>[a-z0-9]+)"'}}, [
        ('{"id":"abc123","x":1}', OK),
        ('{"x":1}', ERR),
    ]),
    # field mode, one declaring and one non-declaring block: the raw
    # event takes the regexp when only the other block applies, and an
    # event no block applies to is an error ("field not extracted")
    "regexp_field_two_blocks": ({
        "extractFields": [
            {"forEventsWith": [{"key": "t", "value": "a"}],
             "fields": [{"id": "ln", "jsonPath": "line"}]},
            {"forEventsWith": [{"key": "t", "value": "b"}],
             "fields": [{"id": "other", "jsonPath": "x"}]},
        ],
        "regexp": {"expression": "(?P<word>[a-z]+)", "field": "ln"},
    }, [
        ('{"t": "a", "line": "hello"}', OK),
        ('{"t": "a", "line": "123"}', ERR),
        ('{"t": "b", "x": "1"}', OK),
        ('{"t": "c"}', ERR),
    ]),
    "exclude_and_field_regexp": (LOG_TRANSFORM, [
        (log_event(1), OK),
        (log_event(2, kind="drop"), EXCL),
        (log_event(3, line="bad line"), ERR),
        (log_event(4, line="bad line", kind="drop"), EXCL),
    ]),
}


def _spec(transform, suffix="r", sink=None, ops=None, source=None):
    d = {
        "namespace": "route",
        "streamIdSuffix": suffix,
        "description": "routing test",
        "version": 1,
        "source": source or {"type": "geistapi"},
        "transform": transform,
        "sink": sink or {"type": "void"},
    }
    if ops:
        d["ops"] = ops
    return d


def _rows(df):
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in df.collect()
    )


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_route_partitions_input_and_views_match(spark, name):
    transform, cases = FIXTURES[name]
    ct = compile_transform(parse_spec(_spec(transform)))
    df = spark.createDataFrame(
        [(i, ev) for i, (ev, _) in enumerate(cases)], "i int, value string"
    )
    routed = ct.route(df, keep_cols=("i",)).persist()
    try:
        got = {r["i"]: r[OUTCOME_COL] for r in routed.select("i", OUTCOME_COL).collect()}
        # one routed row per input row, each with exactly one outcome
        assert routed.count() == len(cases)
        assert got == {i: want for i, (_, want) in enumerate(cases)}

        # the persisted views equal the fresh apply / rejected plans
        recs = ct.records(routed)
        assert _rows(recs) == _rows(ct.apply(df, keep_cols=("i",)))
        errs = ct.errors(routed)
        assert _rows(errs) == _rows(ct.rejected(df))
        # ... and carry exactly the ok rows' records / error rows' values
        assert {r["i"] for r in recs.collect()} == {i for i, o in got.items() if o == OK}
        assert sorted(r["i"] for r in errs.collect()) == sorted(
            i for i, o in got.items() if o == ERR
        )
    finally:
        routed.unpersist()


def test_route_plan_parses_and_matches_once(spark):
    ct = compile_transform(parse_spec(_spec(LOG_TRANSFORM)))
    df = spark.createDataFrame([(log_event(1),)], "value string")
    plan = ct.route(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    assert plan.count("RLIKE(") == 1, plan


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_process_batch_job_count(spark, tmp_path):
    """Sink load + DLQ probe + DLQ write: at most 3 jobs with rejects,
    2 without (the probe finds nothing and no file is written)."""
    eng = Engine(spark)
    sid = eng.register_stream(_spec(
        LOG_TRANSFORM, suffix="jobs",
        ops={"handlingOfUnretryableEvents": "dlq",
             "customProperties": {"dlqPath": str(tmp_path / "dlq")}},
    ))
    evs = [log_event(1), log_event(2, kind="drop"), log_event(3, line="x"), log_event(4)]
    with_rejects = spark.createDataFrame([(e,) for e in evs], "value string")
    clean = spark.createDataFrame([(e,) for e in evs[:2]], "value string")
    n = _jobs(spark, "route-jobs-rejects", lambda: eng.process_batch(sid, with_rejects))
    assert n <= 3
    assert _jobs(spark, "route-jobs-clean", lambda: eng.process_batch(sid, clean)) <= 2
    assert eng.metrics(sid).events_failed == 1


def test_publish_job_count(spark):
    """The event row is a LocalTableScan, so the routed collect runs no
    job: a passing publish runs only the void sink's write, an excluded
    one none, and a rejected one (HOUE default = discard) counts its
    one-row payload frame without a job."""
    eng = Engine(spark)
    sid = eng.register_stream(_spec(LOG_TRANSFORM, suffix="pubjobs"))
    assert _jobs(spark, "route-publish-pass", lambda: eng.publish(sid, log_event(1))) == 1
    excluded = log_event(2, kind="drop")
    assert _jobs(spark, "route-publish-excluded", lambda: eng.publish(sid, excluded)) == 0
    rejected = log_event(3, line="bad line")
    assert _jobs(spark, "route-publish-rejected", lambda: eng.publish(sid, rejected)) == 0
    m = eng.metrics(sid)
    assert (m.events_excluded, m.events_failed) == (1, 1)


def test_dlq_clean_batch_writes_no_file_and_counts_written_rows(spark, tmp_path):
    dlq_path = str(tmp_path / "dlq")
    eng = Engine(spark)
    sid = eng.register_stream(_spec(
        LOG_TRANSFORM, suffix="dlqfiles",
        ops={"handlingOfUnretryableEvents": "dlq",
             "customProperties": {"dlqPath": dlq_path}},
    ))

    def batch(*evs):
        eng.process_batch(sid, spark.createDataFrame([(e,) for e in evs], "value string"))

    def files():
        return sorted(glob.glob(os.path.join(dlq_path, "*.parquet")))

    batch(log_event(1), log_event(2, kind="drop"))
    assert files() == []
    batch(log_event(3), log_event(4, line="x"), log_event(5, line="y"),
          log_event(6, line="z", kind="drop"))
    written = files()
    assert written
    batch(log_event(7))
    assert files() == written  # a clean batch appends no file
    dlq_rows = spark.read.parquet(dlq_path).collect()
    assert sorted(json.loads(r["value"])["user"] for r in dlq_rows) == [4, 5]
    assert eng.metrics(sid).events_failed == len(dlq_rows) == 2


def test_houe_fail_raises_before_the_sink_in_process_batch(spark, tmp_path):
    out_path = str(tmp_path / "out")
    eng = Engine(spark)
    sid = eng.register_stream(_spec(
        LOG_TRANSFORM, suffix="failb",
        sink={"type": "keyedTable", "config": {"customConfig": {"path": out_path}}},
        ops={"handlingOfUnretryableEvents": "fail"},
    ))
    df = spark.createDataFrame(
        [(log_event(1),), (log_event(2, line="bad line"),), (log_event(3),)], "value string"
    )
    with pytest.raises(UnretryableStreamError):
        eng.process_batch(sid, df)
    assert not glob.glob(os.path.join(out_path, "**", "*.parquet"), recursive=True)
    assert eng.metrics(sid).sink_operations == 0


def test_houe_fail_raises_before_the_sink_in_streaming(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    src, out_path = str(tmp_path / "src"), str(tmp_path / "out")
    spark.createDataFrame(
        [(log_event(1),), (log_event(2, line="bad line"),), (log_event(3),)], "value string"
    ).coalesce(1).write.parquet(src)
    eng = Engine(spark)
    sid = eng.register_stream(_spec(
        LOG_TRANSFORM, suffix="fails",
        source={"type": "file", "config": {"customConfig": {"path": src}}},
        sink={"type": "keyedTable", "config": {"customConfig": {"path": out_path}}},
        ops={"handlingOfUnretryableEvents": "fail"},
    ))
    ss = eng.start_streaming(sid)
    try:
        with pytest.raises(StreamingQueryException, match="unretryable events"):
            ss.query.processAllAvailable()
    finally:
        eng.shutdown()
    assert not glob.glob(os.path.join(out_path, "**", "*.parquet"), recursive=True)
    assert ss.metrics.sink_operations == 0


def test_streaming_batch_scans_source_once(spark, tmp_path):
    """numInputRows counts every scan of the source inside a batch, so
    one routed, persisted pass reads each event exactly once — and the
    events_processed counter (fed by numInputRows) tells the truth."""
    per_batch = 400
    eng = Engine(spark)
    sid = eng.register_stream(_spec(
        LOG_TRANSFORM, suffix="scan",
        source={"type": "eventsim", "config": {"customConfig": {
            "simResolutionMilliseconds": 1000, "seed": 5,
            "eventGeneration": {"type": "random", "minCount": per_batch,
                                "maxCount": per_batch},
            "eventSpec": {"fields": [
                {"field": "kind", "predefinedValues": [
                    {"value": "keep", "frequencyFactor": 9},
                    {"value": "drop", "frequencyFactor": 1}]},
                {"field": "line", "predefinedValues": [
                    {"value": "GET /a 200", "frequencyFactor": 9},
                    {"value": "bad line", "frequencyFactor": 1}]},
                {"field": "user", "randomizedValue": {"type": "int", "min": 0, "max": 99}},
            ]},
        }}},
        ops={"handlingOfUnretryableEvents": "dlq",
             "customProperties": {"dlqPath": str(tmp_path / "dlq")}},
    ))
    ss = eng.start_streaming(sid)
    try:
        deadline = time.monotonic() + 120
        while True:
            progress = [json.loads(p.json) for p in ss.query.recentProgress]
            rows = [p["numInputRows"] for p in progress if p["numInputRows"]]
            if len(rows) >= 3:
                break
            assert ss.query.isActive and time.monotonic() < deadline
            time.sleep(0.1)
        ss.query.stop()
        progress = [json.loads(p.json) for p in ss.query.recentProgress]
        rows = [p["numInputRows"] for p in progress if p["numInputRows"]]
        assert all(n == per_batch for n in rows), rows
        # the listener folds progress events asynchronously
        deadline = time.monotonic() + 30
        while ss.metrics.events_processed < sum(rows) and time.monotonic() < deadline:
            time.sleep(0.1)
        assert ss.metrics.events_processed == sum(rows)
    finally:
        eng.shutdown()


def test_merge_sink_keeps_untouched_buckets_across_routed_batches(spark, tmp_path):
    """writeMode=merge on top of the persisted routed batch: later
    batches rewrite only the buckets their keys hash to; every other
    bucket's files stay as they are and every key keeps its newest
    row. Rejects in the same batches go to the DLQ, not the table."""
    path = str(tmp_path / "table")
    eng = Engine(spark)
    sid = eng.register_stream(_spec(
        LOG_TRANSFORM, suffix="mrg",
        sink={"type": "keyedTable", "config": {"customConfig": {
            "path": path, "rowKeyFields": ["user"], "writeMode": "merge",
            "mergeBuckets": 8}}},
        ops={"handlingOfUnretryableEvents": "dlq",
             "customProperties": {"dlqPath": str(tmp_path / "dlq")}},
    ))

    def batch(evs):
        eng.process_batch(sid, spark.createDataFrame([(e,) for e in evs], "value string"))

    def bucket_files():
        out = {}
        for d in glob.glob(os.path.join(path, "__key_bucket=*")):
            out[os.path.basename(d)] = sorted(os.listdir(d))
        return out

    def table():
        rows = eng.stream(sid).sink_extractor.extract_all().collect()
        assert len(rows) == len({r["user"] for r in rows})
        return {r["user"]: r["regexppayload"] for r in rows}

    users = list(range(40))
    batch([log_event(u) for u in users] + [log_event(100, line="bad")])
    before = bucket_files()
    assert len(before) == 8  # 40 keys cover every bucket
    bucket_of = {
        r["user"]: r["__key_bucket"]
        for r in spark.read.parquet(path).select("user", "__key_bucket").collect()
    }
    touched = {bucket_of[0], bucket_of[1]}
    upd = [u for u in users if bucket_of[u] in touched]
    for rnd, line in enumerate(["PUT /b 201", "POST /c 503"]):
        batch([log_event(u, line=line) for u in upd]
              + [log_event(200 + rnd, line="bad"), log_event(300 + rnd, kind="drop")])
        after = bucket_files()
        for b, names in before.items():
            if int(b.split("=")[1]) not in touched:
                assert after[b] == names, f"untouched {b} was rewritten"
        got = table()
        assert set(got) == set(users)
        for u in users:
            want = line if u in upd else "GET /a 200"
            verb, p, status = want.split()
            assert json.loads(got[u]) == {"verb": verb, "path": p, "status": status}
    assert eng.metrics(sid).events_failed == 3
