"""`stream_void` and `stream_merge`: Engine.start_streaming over a
seeded eventsim source with a fixed event count per micro-batch.

Both use the same transform (exclude + field regexp + extractFields,
HOUE=dlq). stream_void writes to the `void` sink; stream_merge upserts
into a `keyedTable` with writeMode=merge over a bounded key space.
The first WARMUP_BATCHES batches are the warm-up (batch times fall by
a third over the first dozen batches while the JVM compiles the hot
paths) and count as set-up; the batches that complete in the next
--seconds are timed.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import duckdb

from events import eventsim_source, line_payloads, sim_reference_sql, spec
from harness import TAIL_PCT, median, metrics_truth, now, percentile
from sinktap import StopGate, VoidTap

PER_BATCH = 20_000
WARMUP_BATCHES = 10
SETUP_REPS = 3
MERGE_BUCKETS = 8
PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning",
          "walCommit", "commitOffsets", "triggerExecution")


def run(ctx, merge: bool) -> dict:
    from geist_spark import Engine

    table = os.path.join(ctx.work, "table")
    dlq = os.path.join(ctx.work, "dlq")
    if merge:
        sink = {"type": "keyedTable", "config": {"customConfig": {
            "path": table, "rowKeyFields": ["user"], "writeMode": "merge",
            "mergeBuckets": MERGE_BUCKETS}}}
    else:
        sink = {"type": "void"}
    s = spec("stream", eventsim_source(ctx.seed, PER_BATCH), sink, dlq)
    tap = None if merge else VoidTap()
    gate = StopGate(on_batch=ctx.on_batch)

    reps = []
    for _ in range(SETUP_REPS):
        t0 = now()
        eng = Engine(ctx.spark)
        sid = eng.register_stream(s)
        reps.append(now() - t0)
    setup_s = median(reps)

    t0 = now()
    ss = eng.start_streaming(sid)
    q = ss.query
    failed = 0
    while len(_progress(q)) < WARMUP_BATCHES and q.isActive:
        time.sleep(0.02)
    setup_s += now() - t0

    t_timed = now()
    ctx.timed_from = t_timed
    while now() - t_timed < ctx.seconds and q.isActive:
        time.sleep(0.05)
    held = gate.hold(timeout_s=120)
    progress = _progress(q)
    if not held:
        failed += 1
        ctx.log(f"stream did not reach the next batch: {q.exception()}")
    batches = len(progress)
    ctx.dump["progress"] = progress
    timed = [p for p in progress if p["batchId"] >= WARMUP_BATCHES]

    correct, detail, ref = check(ctx, merge, batches, table, dlq, tap)
    ctx.log(f"stream check ({batches} batches): {detail}")
    # the engine's counters while the query still exists
    reported = eng.all_metrics()

    # stop: the held batch raises BenchStop once the query is stopping
    stopper = threading.Thread(target=eng.shutdown)
    stopper.start()
    time.sleep(0.2)
    gate.release.set()
    stopper.join(120)
    exc = q.exception()
    if exc is not None and "perfbench stop" not in str(exc):
        failed += 1
        ctx.log(f"query ended with {exc}")

    trig = [p["durationMs"]["triggerExecution"] for p in timed]
    warm = [p["durationMs"]["triggerExecution"] for p in progress if p not in timed]
    ctx.log(f"batch ms: warm-up {warm}, timed {trig}")
    p50 = median(trig)
    out = {
        "correct": correct and held,
        "attempted": batches + (0 if held else 1),
        "failed": failed,
        "setup_s": setup_s,
        "op_p50_ms": p50,
        "e2e": {
            "batch_p50_ms": (p50, "ms"),
            "batch_tail_ms": (percentile(trig, TAIL_PCT), "ms"),
            # numInputRows counts every scan of the source in a batch (the
            # sink and the DLQ each read it), so events come from the fixed
            # batch size; the median batch keeps one stalled batch out
            "events_per_s": (PER_BATCH * 1000 / max(p50, 1e-9), "1/s"),
        },
        "layer": {},
    }
    if ctx.trace:
        out["layer"] = layer_metrics(ctx, timed, batches, table, merge, ref)
        out["layer"].update(metrics_truth(reported, truth(ctx, batches, progress, ref)))
    return out


def _progress(q) -> list[dict]:
    out = [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
    return [p for p in out if p["numInputRows"]]


def check(ctx, merge, batches, table, dlq, tap) -> tuple[bool, str, dict]:
    """Sink rows, DLQ rows and excluded counts of the completed batches
    against a DuckDB replay of the generator and the transform."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE ref AS {sim_reference_sql(ctx.seed, PER_BATCH, batches)}")
    con.execute("CREATE TABLE lines(line VARCHAR, verb VARCHAR, path VARCHAR, status VARCHAR)")
    con.executemany("INSERT INTO lines VALUES (?, ?, ?, ?)", line_payloads())
    problems = []
    counts = dict(con.execute("SELECT outcome, count(*) FROM ref GROUP BY 1").fetchall())
    # bytes of the generated JSON: {"kind":"..","line":"..","user":..,"amount":..}
    counts["bytes"] = con.execute(
        "SELECT coalesce(sum(39 + length(kind) + length(line) + length(\"user\"::VARCHAR)"
        " + length(amount::VARCHAR)), 0) FROM ref").fetchone()[0]

    dlq_files = glob.glob(f"{dlq}/*.parquet")
    con.execute(
        "CREATE TABLE dlq AS SELECT json_extract_string(value, '$.kind') kind,"
        " json_extract_string(value, '$.line') line,"
        " json_extract(value, '$.user')::BIGINT \"user\","
        " json_extract(value, '$.amount')::BIGINT amount"
        + (f" FROM read_parquet('{dlq}/*.parquet')" if dlq_files
           else " FROM (SELECT NULL::VARCHAR value) WHERE false")
    )
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT kind, line, \"user\", amount FROM dlq"
        " EXCEPT ALL SELECT kind, line, \"user\", amount FROM ref WHERE outcome = 'rejected')),"
        " (SELECT count(*) FROM (SELECT kind, line, \"user\", amount FROM ref"
        " WHERE outcome = 'rejected' EXCEPT ALL SELECT kind, line, \"user\", amount FROM dlq))"
    ).fetchone()
    if diff != (0, 0):
        problems.append(f"DLQ rows: {diff[0]} unexpected, {diff[1]} missing")

    if merge:
        con.execute(
            f"CREATE TABLE sink AS SELECT \"user\", amount,"
            " json_extract_string(regexppayload, '$.verb') verb,"
            " json_extract_string(regexppayload, '$.path') path,"
            " json_extract_string(regexppayload, '$.status') status"
            f" FROM read_parquet('{table}/*/*.parquet', hive_partitioning = true)"
        )
        # every user's row must be one of its passing events in the last
        # batch that carried the user (rows of one batch share an
        # ingestion time, so any of them may win the upsert)
        bad = con.execute(
            """
            WITH pas AS (SELECT r.*, l.verb, l.path, l.status FROM ref r
                         JOIN lines l USING (line) WHERE outcome = 'passed'),
                 last AS (SELECT "user", max(batch) b FROM pas GROUP BY 1),
                 cand AS (SELECT p.* FROM pas p JOIN last USING ("user")
                          WHERE p.batch = last.b)
            SELECT (SELECT count(*) FROM sink),
                   (SELECT count(DISTINCT "user") FROM sink),
                   (SELECT count(*) FROM last),
                   (SELECT count(*) FROM sink s WHERE NOT EXISTS (
                      SELECT 1 FROM cand c WHERE c."user" = s."user"
                        AND c.amount = s.amount AND c.verb = s.verb
                        AND c.path = s.path AND c.status = s.status))
            """
        ).fetchone()
        if not (bad[0] == bad[1] == bad[2] and bad[3] == 0):
            problems.append(
                f"merged table: {bad[0]} rows, {bad[1]} keys, {bad[2]} expected keys,"
                f" {bad[3]} rows not from the key's last batch")
    else:
        want = con.execute(
            "SELECT count(*), coalesce(sum(\"user\"), 0), coalesce(sum(amount), 0)"
            " FROM ref WHERE outcome = 'passed'"
        ).fetchone()
        if tap.totals() != tuple(want):
            problems.append(f"void sink rows/sums {tap.totals()} != {tuple(want)}")
    detail = ", ".join(f"{counts.get(k, 0)} {k}" for k in ("passed", "rejected", "excluded"))
    return not problems, "; ".join(problems) or detail, counts


def truth(ctx, batches, progress, ref) -> dict:
    """What the engine's Metrics fields should say after these batches.
    The held batch has entered the engine's batch body but loads nothing."""
    return {
        "sink_processing_time_micros": ctx.tracer.total_ms("sinks.stream_load") * 1000,
        "event_processing_time_micros": 1000 * sum(
            p["durationMs"]["triggerExecution"] for p in progress),
        "events_processed": PER_BATCH * batches,
        "microbatches": batches + 1,
        "sink_operations": batches,
        "events_stored_in_sink": ref.get("passed", 0),
        "events_excluded": ref.get("excluded", 0),
        "events_failed": ref.get("rejected", 0),
        "bytes_ingested": ref["bytes"],
        "bytes_processed": ref["bytes"],
    }


def layer_metrics(ctx, timed, batches, table, merge, ref) -> dict:
    per = max(len(timed), 1)
    dur = {k: median([p["durationMs"].get(k, 0) for p in timed]) for k in PHASES}
    counts = [ctx.jobs.summary(f"perfbench-batch-{p['batchId']}") for p in timed]
    out = {
        "sources.latestOffset_ms": dur["latestOffset"],
        "sources.getBatch_ms": dur["getBatch"],
        "sources.gen_ms_per_batch": source_gen_ms(ctx),
        "streaming.batches": float(len(timed)),
        "streaming.trigger_ms": dur["triggerExecution"],
        "streaming.addBatch_ms": dur["addBatch"],
        "streaming.queryPlanning_ms": dur["queryPlanning"],
        "streaming.walCommit_ms": dur["walCommit"],
        "streaming.commitOffsets_ms": dur["commitOffsets"],
        "streaming.jobs_per_batch": sum(c["jobs"] for c in counts) / per,
        "streaming.stages_per_batch": sum(c["stages"] for c in counts) / per,
        "streaming.failed_tasks": float(sum(c["failed_tasks"] for c in counts)),
        # Spark's input rows: one source scan per action in the batch
        "streaming.rows_per_batch": sum(p["numInputRows"] for p in timed) / per,
        "streaming.idle_ms": _idle_ms(timed),
        "sinks.table_files": float(len(glob.glob(f"{table}/*/*.parquet"))) if merge else 0.0,
    }
    # rows handed to the sink per batch (the checked reference count)
    out["sinks.rows_out"] = ref.get("passed", 0) / batches
    out.update(ctx.common_layers(per))
    return out


def _idle_ms(timed) -> float:
    """Median gap between one batch's end and the next batch's start."""
    import datetime as dt

    def ts(p):
        return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    gaps = [
        (ts(b) - ts(a)) * 1000 - a["durationMs"]["triggerExecution"]
        for a, b in zip(timed, timed[1:])
    ]
    return max(median(gaps), 0.0)


def source_gen_ms(ctx) -> float:
    """The eventsim generator alone: one batch worth of events into a
    noop write, median of three (runs after the stream has stopped)."""
    from geist_spark.sources.eventsim import EventSim, parse_sim_config

    cc = eventsim_source(ctx.seed, PER_BATCH)["config"]["customConfig"]
    sim = EventSim(parse_sim_config(cc), seed=ctx.seed)
    times = []
    for _ in range(3):
        t0 = now()
        sim.batch(ctx.spark, PER_BATCH).write.format("noop").mode("overwrite").save()
        times.append((now() - t0) * 1000)
    return median(times)
