"""geist engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One Spark session
(local[$SPARK_GRAFT_CPUS], default: every CPU of the host) and one
client thread. The run builds its inputs from --seed, measures for
--seconds, checks the outputs against a reference that does not use
the engine, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
the layer entry points are wrapped, and the metrics are the per-layer
ones (the spans go to .perfbench_run/trace-<workload>-<seed>.json).
Exits 1 when the outputs are wrong, 2 when the checkout is incomplete.

The `publish` workload runs the same way (it prints publish_p50_ms
and publish_tail_ms) but is not listed in BENCHMARK.json: at about 2 s
per publish a run times only a handful of publishes, and its
run-to-run spread exceeds the regression bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

WORKLOADS = ("publish", "stream_void", "stream_merge")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geist_spark", "__init__.py")):
        return fail("run from the root of a repository checkout (geist_spark/ not found)")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            config = json.load(f)
    except (OSError, ValueError) as e:
        return fail(f"cannot read BENCHMARK.json: {e}")

    base = os.path.join(root, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch file of Python, Spark and the JVM stays in the run dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )

    import harness

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", harness.default_driver_mem())
    # the JVM inherits stderr: keep its log in the run dir and count the
    # stack overflows it prints when a streaming query is stopped
    log_path = os.path.join(base, f"{args.workload}-{args.seed}.log")
    stderr_fd = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    try:
        result = run(args, work, config, log_path)
    finally:
        os.dup2(stderr_fd, 2)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        return 1
    print(json.dumps(result, separators=(",", ":")))
    return 0 if result["correct"] else 1


class Context:
    """What a workload gets: the session, its inputs and the hooks."""

    def __init__(self, args, spark, work, tracer, jobs):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.jobs = jobs
        self.timed_from = 0.0
        self.dump: dict = {}  # extra workload detail for the trace file
        self.on_batch = (
            (lambda epoch: self.begin_op(f"batch-{epoch}", f"perfbench-batch-{epoch}"))
            if self.trace else None
        )

    def log(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    def begin_op(self, request: str, group: str) -> None:
        if self.tracer is not None:
            self.tracer.begin_op(request, group)

    def common_layers(self, ops: int) -> dict:
        """Compiler, sink and DLQ figures per timed operation, from the
        spans that started after the timed phase began."""
        tr = self.tracer
        timed = [s for s in tr.spans if "end" in s and s["start"] >= self.timed_from]

        def pick(name):
            return [s for s in timed if s["name"] == name]

        def ms(spans):
            return sum(s["end"] - s["start"] for s in spans) * 1000 / ops

        loads, dlq = pick("sinks.stream_load"), pick("engine.dlq")
        return {
            "compiler.apply.calls": len(pick("compiler.apply")) / ops,
            "compiler.apply.build_ms": ms(pick("compiler.apply")),
            "compiler.rejected.calls": len(pick("compiler.rejected")) / ops,
            "compiler.rejected.build_ms": ms(pick("compiler.rejected")),
            "sinks.stream_load.calls": len(loads) / ops,
            "sinks.stream_load_ms": ms(loads),
            "sinks.jobs_per_load": sum(s.get("jobs", 0) for s in loads) / max(len(loads), 1),
            "sinks.retries": float(sum(1 for s in loads if s.get("error"))),
            "engine.dlq.calls": len(dlq) / ops,
            "engine.dlq.ms": ms(dlq),
            "engine.dlq.rows": sum(s.get("rows") or 0 for s in dlq) / ops,
            "engine.dlq.jobs": sum(s.get("jobs", 0) for s in dlq) / ops,
        }


def run(args, work, config, log_path):
    import harness

    load_before = os.getloadavg()
    t0 = harness.now()
    spark = harness.start_session(work)
    session_s = harness.now() - t0
    jobs = harness.JobCounter(spark)
    tracer = harness.Tracer(jobs) if args.trace else None
    if tracer is not None:
        harness.install_layer_tracing(tracer)
    ctx = Context(args, spark, work, tracer, jobs)
    try:
        if args.workload == "publish":
            import wl_publish

            out = wl_publish.run(ctx)
        else:
            import wl_stream

            out = wl_stream.run(ctx, merge=args.workload == "stream_merge")
        rss_mb = harness.vm_hwm_mb(os.getpid()) + harness.vm_hwm_mb(harness.jvm_pid(spark))
    except Exception as e:
        import traceback

        traceback.print_exc()
        ctx.log(f"run failed: {e!r}")
        return None
    finally:
        harness.stop_session(spark)
    host = harness.host_info()
    host["loadavg_before"] = list(load_before)
    print("# host " + json.dumps(host), flush=True)

    # name -> (value, unit); the workload adds its own timings
    e2e = {"setup_s": (session_s + out["setup_s"], "s"), **out["e2e"],
           "peak_rss_mb": (rss_mb, "MB")}
    if args.trace:
        layer = dict(out["layer"])
        layer.update(setup_layers(tracer, session_s))
        layer["trace.op_p50_ms"] = out["op_p50_ms"]
        layer["trace.overhead_ms_per_op"] = tracer.overhead_s * 1000 / max(out["attempted"], 1)
        with open(log_path, errors="replace") as f:
            layer["streaming.shutdown_errors"] = float(f.read().count("StackOverflowError"))
        layer["host.load1_before"] = load_before[0]
        layer["host.load1_after"] = host["loadavg"][0]
        layer["host.nproc"] = float(host["nproc"])
        layer["host.spark_cpus"] = float(host["spark_graft_cpus"] or 0)
        wanted = config["per_layer"]
        dump = os.path.join(os.path.dirname(log_path), f"trace-{args.workload}-{args.seed}.json")
        with open(dump, "w") as f:
            json.dump({"e2e": e2e, "layer": layer, "spans": tracer.spans, **ctx.dump}, f)
        unknown = sorted(set(layer) - {m["name"] for m in wanted})
        if unknown:
            ctx.log(f"metrics not in BENCHMARK.json: {unknown}")
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    return {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }


def setup_layers(tracer, session_s) -> dict:
    parses = tracer.named("spec.parse")
    regs = tracer.named("engine.register")
    compiles = tracer.named("compiler.compile")
    return {
        "session.start_s": session_s,
        "spec.parse_ms": tracer.total_ms("spec.parse") / max(len(parses), 1),
        "engine.register_ms": tracer.total_ms("engine.register") / max(len(regs), 1),
        "compiler.compile_ms": tracer.total_ms("compiler.compile") / max(len(compiles), 1),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
