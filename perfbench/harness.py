"""Shared benchmark plumbing: run directory, Spark session, statistics,
host accounting, Spark job counts and the span tracer.

Nothing here changes the engine. The tracer wraps public layer entry
points from the outside (module attributes and class methods) and only
when a traced run asks for it.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time

# The tail percentile of every workload (`batch_tail_ms`,
# `publish_tail_ms`). A run times 15-35 micro-batches; p75 is the
# highest percentile with several samples beyond it in each run.
TAIL_PCT = 75


def now() -> float:
    return time.perf_counter()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], pct: int) -> float:
    """Inclusive (linear-interpolation) percentile; one sample is its
    own percentile."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 8.0


def default_driver_mem() -> str:
    """Driver heap sized to the host: a sixth of RAM, 1-4 GiB. The
    engine's own default (48g) assumes a large dedicated box."""
    return f"{max(1, min(4, int(host_memory_gb() / 6)))}g"


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def host_info() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", ""),
        "loadavg": list(os.getloadavg()),
    }


def start_session(work: str):
    """The engine's tuned session, with every scratch path inside the
    run directory and no console progress bars on stdout/stderr."""
    from geist_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait until it has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class JobCounter:
    """Jobs, stages and failed tasks per job group, read from the
    status tracker (no UI needed)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def job_ids(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def summary(self, group: str) -> dict:
        jobs = stages = failed_tasks = 0
        for jid in self.job_ids(group):
            info = self.tracker.getJobInfo(jid)
            jobs += 1
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                stages += 1
                if st is not None:
                    failed_tasks += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "failed_tasks": failed_tasks}


class Tracer:
    """In-memory spans (name, start, end, parent, request id) recorded
    by wrappers around layer entry points. Spans stay in memory until
    the run ends; self time is derived from them afterwards.

    `request` and `group` are per thread: the workload sets them before
    each operation (a publish or a micro-batch), and wrappers
    with `jobs=True` record how many Spark jobs of that group started
    inside the span."""

    def __init__(self, jobs: JobCounter | None = None):
        self.spans: list[dict] = []
        self.jobs = jobs
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- per-thread operation context ---------------------------------

    def begin_op(self, request: str, group: str | None = None) -> None:
        self._local.request = request
        self._local.group = group
        if group and self.jobs is not None:
            self.jobs.set_group(group)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -- spans --------------------------------------------------------

    def call(self, name: str, fn, args, kwargs, jobs: bool = False, rows=None):
        t0 = now()
        stack = self._stack()
        group = getattr(self._local, "group", None)
        count_jobs = jobs and group and self.jobs is not None
        span = {
            "name": name,
            "parent": stack[-1] if stack else None,
            "request": getattr(self._local, "request", ""),
        }
        if count_jobs:
            before = len(self.jobs.job_ids(group))
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        t1 = now()
        span["start"] = t1
        try:
            out = fn(*args, **kwargs)
        except BaseException as e:
            span["error"] = type(e).__name__
            raise
        finally:
            t2 = now()
            span["end"] = t2
            stack.pop()
            if count_jobs:
                span["jobs"] = len(self.jobs.job_ids(group)) - before
            self.overhead_s += (t1 - t0) + (now() - t2)
        if rows is not None:
            span["rows"] = rows(out)
        return out

    def patch(self, owner, attr: str, name: str, jobs: bool = False, rows=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(name, orig, args, kwargs, jobs=jobs, rows=rows)

        setattr(owner, attr, wrapper)

    # -- derived figures ------------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def total_ms(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name)) * 1000

    def self_ms(self, spans: list[dict]) -> float:
        """Time inside these spans not covered by their child spans."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.get("parent") is not None and "end" in s:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        index = {id(s): i for i, s in enumerate(self.spans)}
        return 1000 * sum(
            (s["end"] - s["start"]) - child_s.get(index[id(s)], 0.0) for s in spans
        )


def install_layer_tracing(tracer: Tracer) -> None:
    """Wrap the public entry points of the engine's layers."""
    import geist_spark.engine.api as api
    import geist_spark.engine.registry as registry
    import geist_spark.streaming.runner as runner
    from geist_spark.compiler.transform import CompiledTransform
    from geist_spark.engine.dlq import DeadLetterQueue
    from geist_spark.sinks.keyed_table import KeyedTableLoader
    from geist_spark.sinks.void import VoidLoader

    tracer.patch(registry, "parse_spec", "spec.parse")
    tracer.patch(api.Engine, "register_stream", "engine.register")
    tracer.patch(api.Engine, "publish", "engine.publish", jobs=True)
    tracer.patch(api, "compile_transform", "compiler.compile")
    tracer.patch(runner, "compile_transform", "compiler.compile")
    tracer.patch(CompiledTransform, "apply", "compiler.apply")
    tracer.patch(CompiledTransform, "rejected", "compiler.rejected")
    for loader in (VoidLoader, KeyedTableLoader):
        tracer.patch(loader, "stream_load", "sinks.stream_load", jobs=True)
    tracer.patch(
        DeadLetterQueue, "add_df", "engine.dlq", jobs=True, rows=lambda n: n
    )
    tracer.patch(DeadLetterQueue, "add_event", "engine.dlq.event")


def metrics_truth(engine_metrics: dict, truth: dict) -> dict:
    """Signed difference engine-reported minus benchmark-counted, per
    Metrics field, summed over the workload's streams."""
    from dataclasses import asdict, fields

    from geist_spark.engine.metrics import Metrics

    reported = {f.name: 0 for f in fields(Metrics)}
    for m in engine_metrics.values():
        for k, v in asdict(m).items():
            reported[k] += v
    return {
        f"engine.metrics_drift.{k}": float(reported[k] - truth.get(k, 0))
        for k in reported
    }
