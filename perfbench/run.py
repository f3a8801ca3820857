#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 20 --trace 0

The load is a closed loop with one client: passes over the workload's op
list run one after another for ``--seconds`` after an untimed warm pass.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is the run's context
record, which also holds every pass's wall time and CPU.  ``--trace 0``
reports the end-to-end metrics.  ``--trace 1`` alternates untraced and traced
passes and reports the per-layer metrics of the fastest traced pass,
the self time of every layer and the tracing overhead; its spans go to
``.perfbench/out/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bi_etl_and_integration_spark"
# the sf0.01 corpus fixture tables the workloads read
DATA = os.path.join(HERE, "data")
PREPARE_REPEATS = 3

LAYERS = ["bench", "trace", "queries", "catalyst", "exec", "pipeline",
          "sources.readers", "operators.cleanse", "operators.cdc",
          "operators.dimensional", "sources.writers", "streaming.runner"]
PER_LAYER = {
    "session.start_s": "s", "queries.build_s": "s",
    "queries.build_jobs": "count", "queries.build_cpu_s": "s",
    "catalyst.plan_s": "s", "codegen.compiles": "count",
    "codegen.compile_s": "s", "exec.s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "pyworkers.cpu_s": "s", "storage.cached_mb": "MB",
    **{f"pipeline.stage_s.{s}": "s"
       for s in ("extract", "validate", "apply", "scd2", "publish")},
    "pipeline.attempts": "count", "sources.write_s": "s",
    "sources.written_mb": "MB", "sources.files_written": "count",
    "sources.write_amp": "ratio", "streaming.batches": "count",
    "streaming.batch_s": "s", "trace.pass_s": "s", "trace.overhead_s": "s",
    **{f"trace.self_s.{layer}": "s" for layer in LAYERS},
}
END_TO_END = {"setup_s": "s", "retained_heap_mb": "MB"}


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start = int(stat[stat.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def failed_ops(workload: str, stats, expected: dict) -> set[str]:
    """Ops of one pass that raised or whose digest differs from the
    expected one.  ``etl_load`` ops are checked through the tables they
    produce: the batch runs through ``orders``, ``dim_customer`` and
    ``quarantine``, the stream through ``stream_orders``."""
    bad = set(stats.errors)
    if workload != "etl_load":
        return bad | {op for op, d in stats.digests.items()
                      if expected.get(op) != list(d)}
    batches = {op for op in stats.ops if op.startswith("batch_")}
    for table, d in stats.digests.items():
        if expected.get(table) != list(d):
            bad |= {"stream"} if table == "stream_orders" else batches
    return bad


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_env(work: str, trace: int) -> int:
    """Create the run's scratch directory and point the engine at it:
    the JVM's and Python's temp files, Spark's local dirs and the
    warehouse all land inside it.  Returns the CPU count pinned."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = json.loads(os.environ.get("SPARK_GRAFT_CONF_JSON") or "{}")
    # no hsperfdata file: HotSpot would write it under /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf.update({"spark.driver.extraJavaOptions": " ".join(
        [conf.get("spark.driver.extraJavaOptions", ""), java_opts]).strip(),
                 "spark.local.dir": tmp})
    os.environ.update({
        # one task thread per CPU; the package default is 32
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_GRAFT_CONF_JSON": json.dumps(conf),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)
    os.chdir(work)
    return nproc


def run(args, work: str, nproc: int) -> tuple[dict, dict]:
    """Start the engine, measure, and stop the engine whatever happens."""
    steal0 = steal_s()
    t0 = time.monotonic()
    from bi_etl_and_integration_spark import get_session
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - t0
    launch_s = process_age()
    try:
        return _measure(args, work, nproc, spark, session_s, launch_s, steal0)
    finally:
        stop_engine(spark)


def _measure(args, work, nproc, spark, session_s, launch_s, steal0):
    from layers import Probe, jit_delta, tree_cpu
    from spans import Tracer
    from workloads import WORKLOADS, PassStats

    probe = Probe(spark)
    tracer = Tracer(False)
    run_span = tracer.open("run", "bench") if args.trace else None

    wl = WORKLOADS[args.workload](spark, work, args.seed)
    prepare = []
    for _ in range(PREPARE_REPEATS):
        t0 = time.monotonic()
        wl.prepare(DATA)
        prepare.append(time.monotonic() - t0)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[args.workload]
    if args.workload == "etl_load":
        # a seed without committed digests is checked against its first
        # warm pass here and against the DuckDB replay at the end
        expected = expected.get(str(args.seed))
    # one untimed warm pass: the first pass runs ~1.5x a later one
    # (class loading, the first JIT tiers, the Python workers' start)
    t0 = time.monotonic()
    wl.reset()
    warm = PassStats(wl.ops)
    wl.run_pass(tracer, warm, "warm")
    warm_s = time.monotonic() - t0
    setup_s = launch_s + statistics.median(prepare) + warm_s
    if args.workload == "etl_load":
        wl.output_stats(warm)
        expected = expected or {k: list(v) for k, v in warm.digests.items()}
    failed = len(failed_ops(args.workload, warm, expected))
    errors = dict(warm.errors)
    n_ops = len(wl.ops)

    # passes run while the next one is expected to end within --seconds
    passes = []
    deadline = time.monotonic() + args.seconds
    min_passes = 4 if args.trace else 2
    while (len(passes) < min_passes or time.monotonic()
           + min(p["pass_s"] for p in passes) <= deadline):
        traced = bool(args.trace) and len(passes) % 2 == 1
        wl.reset()
        stats = PassStats(wl.ops)
        tracer.enabled = traced
        cg0, gc0 = probe.codegen(), probe.gc_s()
        cpu0 = tree_cpu()
        t0 = time.monotonic()
        span = tracer.open("pass", "bench", t0) if traced else None
        wl.run_pass(tracer, stats, f"p{len(passes)}")
        t1 = time.monotonic()
        cpu1 = tree_cpu()
        if span is not None:
            tracer.close(span, t1)
        tracer.enabled = False
        cg1, gc1 = probe.codegen(), probe.gc_s()
        if args.workload == "etl_load":
            wl.output_stats(stats)
        stats.values.update({
            "codegen.compiles": cg1[0] - cg0[0],
            "codegen.compile_s": cg1[1] - cg0[1],
            "exec.gc_s": gc1 - gc0,
            "pyworkers.cpu_s": cpu1["pyworkers"] - cpu0["pyworkers"],
            "jvm.jit_cpu_s": jit_delta(cpu0["jit"], cpu1["jit"])})
        failed += len(failed_ops(args.workload, stats, expected))
        errors.update(stats.errors)
        # JIT compilation is warm-up the JVM amortises over its life; on
        # passes this short it would dominate the figure
        passes.append({"traced": traced, "pass_s": t1 - t0,
                       "cpu_s": cpu1["total"] - cpu0["total"]
                       - stats.values["jvm.jit_cpu_s"],
                       "stats": stats, "span": span})

    attempted = n_ops * (1 + len(passes))
    replay_ok = wl.finish()
    if not replay_ok:
        failed += n_ops
    heap_mb = probe.heap_after_gc_mb()
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "master": spark.sparkContext.master,
        "loadavg": list(os.getloadavg()), "steal_s": steal_s() - steal0,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "passes": [{"traced": p["traced"], "pass_s": p["pass_s"],
                    "cpu_s": p["cpu_s"],
                    **{k: p["stats"].values[k] for k in (
                        "jvm.jit_cpu_s", "exec.gc_s", "codegen.compiles")},
                    "op_s": p["stats"].op_s}
                   for p in passes],
        "setup": {"launch_s": launch_s, "prepare_s": prepare,
                  "warm_s": warm_s},
        "errors": errors,
    }

    if not args.trace:
        metrics = {"setup_s": setup_s, "retained_heap_mb": heap_mb}
        units = END_TO_END
        trace_ok = True
    else:
        best = min((p for p in passes if p["traced"]),
                   key=lambda p: p["pass_s"])
        self_s = tracer.self_times(best["span"])
        tracer.close(run_span)
        # the self times partition a pass only if its spans nest
        problems = tracer.check(run_span) + sorted(
            f"unknown layer {layer}" for layer in set(self_s) - set(LAYERS))
        context["trace_problems"] = problems
        trace_ok = not problems
        metrics = {k: best["stats"].values.get(k, 0.0) for k in PER_LAYER}
        metrics.update({
            "session.start_s": session_s,
            "trace.pass_s": best["pass_s"],
            "trace.overhead_s": best["pass_s"] - min(
                p["pass_s"] for p in passes if not p["traced"]),
            **{f"trace.self_s.{layer}": self_s.get(layer, 0.0)
               for layer in LAYERS}})
        units = PER_LAYER
        out = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(
            out, f"spans-{args.workload}-{args.seed}.json"))
    result = {
        "correct": failed == 0 and replay_ok and trace_ok,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}
    return context, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["llm_curation", "etl_load"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    nproc = setup_env(work, args.trace)
    try:
        context, result = run(args, work, nproc)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
