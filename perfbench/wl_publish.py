"""`publish`: one client calling Engine.publish in a closed loop.

Events alternate between two geistapi streams, one with a `void` sink
and one with a `keyedTable` append sink. Both exclude `kind == drop`
and send regexp failures to the DLQ. The class pattern is fixed
(events.PUBLISH_BLOCK); the seed picks the event contents.
"""

from __future__ import annotations

import glob
import os

import duckdb

from events import (
    EXCLUDED,
    PASSED,
    REJECTED,
    encode,
    outcome,
    payload,
    publish_events,
    spec,
)
from harness import TAIL_PCT, median, metrics_truth, now, percentile
from sinktap import VoidTap

WARMUP = 6  # untimed publishes: every class on both streams
SETUP_REPS = 3


def run(ctx) -> dict:
    from geist_spark import Engine

    spark, work = ctx.spark, ctx.work
    paths = {s: os.path.join(work, s) for s in ("kt", "dlq_void", "dlq_keyed")}
    specs = [
        spec("void", {"type": "geistapi"}, {"type": "void"}, paths["dlq_void"]),
        spec(
            "keyed",
            {"type": "geistapi"},
            {"type": "keyedTable", "config": {"customConfig": {
                "path": paths["kt"], "rowKeyFields": ["user"]}}},
            paths["dlq_keyed"],
        ),
    ]
    tap = VoidTap()

    # set-up: a fresh engine with both streams registered, several times
    reps = []
    for _ in range(SETUP_REPS):
        t0 = now()
        eng = Engine(spark)
        sids = [eng.register_stream(s) for s in specs]
        reps.append(now() - t0)
    setup_s = median(reps)

    events = publish_events(ctx.seed, 4000)
    lat_ms: list[float] = []
    results: list[tuple[int, str]] = []
    failed = 0
    op_groups: list[str] = []

    def publish(i: int) -> None:
        nonlocal failed
        group = f"perfbench-publish-{i}"
        ctx.begin_op(f"publish-{i}", group)
        op_groups.append(group)
        t0 = now()
        try:
            rid = eng.publish(sids[i % 2], encode(events[i]))
        except Exception as e:  # one failed operation, keep going
            failed += 1
            ctx.log(f"publish {i} failed: {e!r}")
            rid = None
        lat = (now() - t0) * 1000
        results.append((i, rid))
        if i >= WARMUP:
            lat_ms.append(lat)

    t0 = now()
    for i in range(WARMUP):
        publish(i)
    setup_s += now() - t0

    t0 = ctx.timed_from = now()
    i = WARMUP
    while now() - t0 < ctx.seconds:
        publish(i)
        i += 1
    n = i

    correct, detail = check(events[:n], results, paths, tap)
    ctx.log(f"publish check: {detail}")

    layer = {}
    if ctx.trace:
        layer = layer_metrics(ctx, op_groups[WARMUP:], events[WARMUP:n], paths["kt"])
        layer.update(metrics_truth(eng.all_metrics(), truth(ctx, events[:n])))
    eng.shutdown()
    return {
        "correct": correct,
        "attempted": n,
        "failed": failed,
        "setup_s": setup_s,
        "op_p50_ms": median(lat_ms),
        "e2e": {
            "publish_p50_ms": (median(lat_ms), "ms"),
            "publish_tail_ms": (percentile(lat_ms, TAIL_PCT), "ms"),
        },
        "layer": layer,
    }


def check(events: list[dict], results, paths, tap: VoidTap) -> tuple[bool, str]:
    """Sink rows, DLQ rows, excluded events and publish acks against the
    transform's reference outcome."""
    exp = {"void": [], "keyed": []}
    exp_dlq = {"void": [], "keyed": []}
    problems = []
    for i, rid in results:
        ev = events[i]
        name = ("void", "keyed")[i % 2]
        oc = outcome(ev)
        if oc == PASSED:
            p = payload(ev["line"])
            exp[name].append((ev["user"], ev["amount"], p["verb"], p["path"], p["status"]))
        elif oc == REJECTED:
            exp_dlq[name].append(encode(ev))
        want_rid = "kt" if (oc == PASSED and name == "keyed") else ""
        if rid != want_rid:
            problems.append(f"publish {i} ({name}, {oc}) acked {rid!r}")
    con = duckdb.connect()
    got_keyed = sorted(
        con.execute(
            "SELECT user, amount, json_extract_string(regexppayload, '$.verb'),"
            " json_extract_string(regexppayload, '$.path'),"
            " json_extract_string(regexppayload, '$.status')"
            f" FROM read_parquet('{paths['kt']}/*.parquet')"
        ).fetchall()
    ) if exp["keyed"] else []
    if got_keyed != sorted(exp["keyed"]):
        problems.append(f"keyed sink rows {len(got_keyed)} != {len(exp['keyed'])}")
    want_void = (len(exp["void"]), sum(r[0] for r in exp["void"]),
                 sum(r[1] for r in exp["void"]))
    if tap.totals() != want_void:
        problems.append(f"void sink rows/sums {tap.totals()} != {want_void}")
    for name in ("void", "keyed"):
        path = paths[f"dlq_{name}"]
        got = sorted(
            r[0] for r in con.execute(
                f"SELECT value FROM read_parquet('{path}/*.parquet')"
            ).fetchall()
        ) if exp_dlq[name] else []
        if got != sorted(exp_dlq[name]):
            problems.append(f"{name} DLQ rows {len(got)} != {len(exp_dlq[name])}")
    n_excl = sum(outcome(events[i]) == EXCLUDED for i, _ in results)
    detail = (f"{len(results)} publishes, {sum(map(len, exp.values()))} stored, "
              f"{sum(map(len, exp_dlq.values()))} to DLQ, {n_excl} excluded")
    return not problems, "; ".join(problems) or detail


def truth(ctx, events: list[dict]) -> dict:
    """What the engine's Metrics fields should say after these publishes."""
    ocs = [outcome(e) for e in events]
    return {
        "sink_processing_time_micros": ctx.tracer.total_ms("sinks.stream_load") * 1000,
        "event_processing_time_micros": ctx.tracer.total_ms("engine.publish") * 1000,
        "events_processed": len(events),
        "bytes_processed": sum(len(encode(e)) for e in events),
        "bytes_ingested": sum(len(encode(e)) for e in events),
        "events_stored_in_sink": ocs.count(PASSED),
        "sink_operations": ocs.count(PASSED),
        "events_excluded": ocs.count(EXCLUDED),
        "events_failed": ocs.count(REJECTED),
    }


def layer_metrics(ctx, groups: list[str], timed: list[dict], table: str) -> dict:
    """Spark jobs and stages per timed publish, and the publish span's
    self time (outside the compiler, sink and DLQ spans)."""
    per = max(len(groups), 1)
    counts = [ctx.jobs.summary(g) for g in groups]
    pubs = [s for s in ctx.tracer.named("engine.publish") if s["start"] >= ctx.timed_from]
    out = {
        "engine.publish.jobs": sum(c["jobs"] for c in counts) / per,
        "engine.publish.stages": sum(c["stages"] for c in counts) / per,
        "engine.publish.failed_tasks": float(sum(c["failed_tasks"] for c in counts)),
        "engine.publish.self_ms": ctx.tracer.self_ms(pubs) / per,
    }
    out.update(ctx.common_layers(per))
    # rows handed to a sink per publish (the checked reference count)
    out["sinks.rows_out"] = sum(outcome(e) == PASSED for e in timed) / per
    out["sinks.table_files"] = float(len(glob.glob(f"{table}/*.parquet")))
    return out
