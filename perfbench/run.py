"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload taxi_etl_sql --seed 1 --seconds 10 --trace 0

The run starts a Spark session at ``local[<cpus>]`` (the session layer's
own builder), prepares the workload's seeded inputs under
``.perfbench/work/`` in the checkout, runs one warm-up pass, then runs
whole passes of the workload's operations until they have taken
``--seconds`` and the workload's minimum number of passes is done.  After
each pass, warm-up included, every output of the pass is checked against
an answer the engine did not produce; the checks are not timed.  The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The lines before
it are a human-readable report; a traced run also writes its spans to
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from typing import Any

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program under test and the repo's oracle hash come from this checkout
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from counters import (  # noqa: E402
    Tracer, cpu_steal_ticks, descendants, jvm_peak_rss_mb, python_worker_cpu_s)
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "1g"
YOUNG_GEN = "128m"


@dataclass
class Outcome:
    kind: str
    label: str
    latency: float
    result: Any
    ok: bool
    phase: str
    counters: dict


@dataclass
class Ctx:
    seed: int
    work: str
    warehouse_dir: str
    tracer: Any
    spark: Any = None


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM, Spark and Derby
    into ``work``, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # recomputed from TMPDIR on next use
    # no hsperfdata files under the system temp dir for either JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)


def start_spark(ctx: Ctx):
    from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

    # A heap fixed at its maximum from the start keeps the peak resident set
    # from depending on when the JVM chose to grow it, and a fixed young
    # generation keeps young collections cycling through the same memory,
    # so the peak grows with what the driver promotes and holds rather than
    # with how much of the heap the collector has passed through.
    java_opts = (f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={os.environ['TMPDIR']} "
                 f"-Dderby.system.home={ctx.work} "
                 f"-Dderby.stream.error.file={os.path.join(ctx.work, 'derby.log')}")
    with ctx.tracer.span("session.start"):
        spark = get_spark(
            app_name="perfbench",
            cpus=cpus(),
            warehouse_dir=ctx.warehouse_dir,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.catalogImplementation": "in-memory",
                "spark.ui.showConsoleProgress": "false",
            },
        )
    ctx.tracer.attach(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run_op(ctx: Ctx, wl, op, phase: str, steal: list) -> Outcome:
    tracer = ctx.tracer
    jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
    s0, tot0 = cpu_steal_ticks()
    pw0 = worker_cpu(tracer, jvm_pid)
    ok, result = True, None
    with tracer.span(f"op.{op.kind}") as span:
        py0 = time.process_time()
        try:
            result = op.run()
        except Exception as e:  # one failing operation must not end the run
            ok = False
            log_failure(wl.name, op, e)
        py_cpu = time.process_time() - py0
    counters = tracer.collect(span)
    if tracer.enabled:
        counters["python_worker_cpu_s"] = span.counters["python_worker_cpu_s"] = (
            worker_cpu(tracer, jvm_pid) - pw0)
        counters["python_driver_cpu_s"] = span.counters["python_driver_cpu_s"] = py_cpu
    s1, tot1 = cpu_steal_ticks()
    steal.append(100.0 * (s1 - s0) / max(1, tot1 - tot0))
    return Outcome(op.kind, op.label, span.wall, result, ok, phase, counters)


def worker_cpu(tracer, jvm_pid: int) -> float:
    """Python-worker CPU seconds so far when tracing (the /proc scan is
    tracer cost), else 0."""
    if not tracer.enabled:
        return 0.0
    t = time.perf_counter()
    cpu = python_worker_cpu_s(jvm_pid)
    tracer.overhead_s += time.perf_counter() - t
    return cpu


def run_pass(ctx: Ctx, wl, k: int, phase: str, steal: list) -> tuple[list, list[Outcome], float]:
    """Run pass ``k``: its operations, their outcomes and its wall time."""
    p0 = time.perf_counter()
    ops = wl.passes(k)
    outcomes = [run_op(ctx, wl, op, phase, steal) for op in ops]
    return ops, outcomes, time.perf_counter() - p0


def check_pass(wl, k: int, ops, outcomes) -> bool:
    """Check pass ``k``'s outputs, then let the workload release what the
    pass left behind."""
    correct = check_outcomes(wl, ops, outcomes)
    wl.end_pass(k)
    return correct


def check_outcomes(wl, ops, outcomes) -> bool:
    """Check each finished operation's output; a mismatch (or a check that
    cannot run) turns the operation into a failed one.  True if all pass."""
    correct = True
    for op, o in zip(ops, outcomes):
        if not o.ok:
            continue
        try:
            wl.check(op, o.result)
        except Exception as e:  # a mismatch or a failed check query
            o.ok = correct = False
            log_failure(wl.name, op, e)
    return correct


def log_failure(workload: str, op, e: BaseException) -> None:
    print(f"FAILED workload={workload} op={op.kind}:{op.label} exception={type(e).__name__}: "
          f"{str(e).splitlines()[0][:300] if str(e) else ''}", file=sys.stderr)
    traceback.print_exc(limit=3, file=sys.stderr)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    import glue_etl_nyc_yellow_taxi_analysis_spark as program

    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        sys.exit(f"the program under test was imported from {program.__file__}, "
                 f"not from this checkout ({ROOT})")
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    os.makedirs(work)
    isolate(work)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args.seed, work, os.path.join(work, "warehouse"), tracer)
    spark = None
    try:
        ctx.spark = spark = start_spark(ctx)
        wl = WORKLOADS[args.workload](ctx)
        with tracer.span("setup") as setup_span:
            wl.setup()
        tracer.collect(setup_span)
        steal: list[float] = []
        with tracer.span("warmup"):
            ops, outcomes, _ = run_pass(ctx, wl, 0, "warmup", steal)
        setup_s = time.perf_counter() - T0
        correct = check_pass(wl, 0, ops, outcomes)

        steal.clear()
        pass_walls, measured = [], []
        trace_overhead_s = 0.0
        while len(pass_walls) < wl.MIN_PASSES or sum(pass_walls) < args.seconds:
            k = len(pass_walls) + 1
            overhead0 = tracer.overhead_s
            ops, done, wall = run_pass(ctx, wl, k, "window", steal)
            trace_overhead_s += tracer.overhead_s - overhead0
            pass_walls.append(wall)
            correct = check_pass(wl, k, ops, done) and correct
            measured += done
            if k == wl.MIN_PASSES:
                peak_rss = jvm_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        window_s = sum(pass_walls)
        outcomes += measured

        wl.probe_known_defects()
        wl.close()
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)

    report = wl.report(measured, window_s)
    print(f"workload={wl.name} seed={args.seed} cpus={cpus()} ops={len(measured)} "
          f"window_s={window_s:.3f} pass_walls_s={[round(w, 3) for w in pass_walls]}")
    for k_, v in report.items():
        print(f"  {k_} = {v:.6g}")
    for d in wl.known_defects:
        print(f"  known_defect {d}")

    if args.trace:
        metrics = layer_metrics(tracer, measured, steal, trace_overhead_s)
        path = os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json")
        tracer.write(path)
        print_layer_table(tracer)
        print(f"  tracing overhead: {trace_overhead_s:.3f} s of the {window_s:.3f} s window "
              f"({100 * trace_overhead_s / window_s:.2f}%) spent in the tracer")
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (statistics.median(pass_walls), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    failed = sum(not o.ok for o in outcomes)
    print(json.dumps({
        "correct": correct and failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k_: {"value": v, "unit": u} for k_, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(tracer, measured, steal, overhead_s) -> dict:
    start = next(s for s in tracer.spans if s.name == "session.start")

    def per_op(key):
        return statistics.fmean(o.counters.get(key, 0.0) for o in measured)

    return {
        "session.start_s": (start.wall, "s"),
        "op.jobs": (per_op("jobs"), "count"),
        "op.stages": (per_op("stages"), "count"),
        "op.tasks": (per_op("tasks"), "count"),
        "op.executor_cpu_s": (per_op("executor_cpu_s"), "s"),
        "op.jobs_s": (per_op("jobs_s"), "s"),
        "op.driver_idle_s": (per_op("driver_idle_s"), "s"),
        "op.shuffle_write_mb": (per_op("shuffle_write_mb"), "MB"),
        "op.input_mb": (per_op("input_mb"), "MB"),
        "op.python_driver_cpu_s": (per_op("python_driver_cpu_s"), "s"),
        "trace.overhead_s": (overhead_s / len(measured), "s"),
        "box.steal_pct_mean": (statistics.fmean(steal), "%"),
        "box.steal_pct_max": (max(steal, default=0.0), "%"),
    }


def print_layer_table(tracer) -> None:
    """Per span name: calls, wall, self time and the Spark work it caused."""
    rows: dict[str, dict] = {}
    for s in tracer.spans:
        r = rows.setdefault(s.name, dict(calls=0, wall_s=0.0, self_s=0.0))
        r["calls"] += 1
        r["wall_s"] += s.wall
        r["self_s"] += tracer.self_time(s)
        for k_, v in s.counters.items():
            r[k_] = r.get(k_, 0) + v
    print("  layer spans (totals over the run, warm-up included):")
    for name, r in sorted(rows.items()):
        extra = " ".join(f"{k_}={v:.4g}" for k_, v in r.items() if k_ not in ("calls", "wall_s", "self_s"))
        print(f"    {name}: calls={r['calls']} wall_s={r['wall_s']:.3f} self_s={r['self_s']:.3f} {extra}")


if __name__ == "__main__":
    sys.exit(main())
