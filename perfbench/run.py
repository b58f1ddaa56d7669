#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline-sf0.01 --seed 1 \\
        --seconds 10 --trace 0

Drives the engine from outside through each layer's public functions:
one client, a closed loop, one operation at a time, on
``local[<cores>]`` at the engine's default settings. Only the
deployment settings tier-1 also sets are set (``SPARK_GRAFT_CPUS``,
``SPARK_LOCAL_DIRS``), plus temp directories, so everything written
stays under ``perfbench/_work``.

A run: builds missing inputs (not timed), starts the session, measures
set-up as the median of several session restarts, runs one untimed
warm-up pass (JIT compilation and code generation of a fresh JVM), then
timed passes until ``--seconds`` have passed (at least three). ``pass_s``
is the sum over operations of each one's median wall in the timed
passes. Every output of every pass is checked after that pass.
With ``--trace 1`` the passes run traced and the per-layer metrics are
reported instead of the end-to-end ones; the tracing overhead is that
run's ``trace.pass_s`` minus ``pass_s`` of the untraced run with the
same seed. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds per-operation walls and failure causes. A failed operation,
including a check mismatch or a lost JVM, counts against ``attempted``;
a lost JVM fails every operation still to run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "_work"
SETUP_SAMPLES = 5
MIN_TIMED_PASSES = 3


def _deployment_env() -> None:
    """Settings every Spark and Python worker process inherits."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # java.io.tmpdir does not move the JVM's perf-data file, which
    # HotSpot writes to /tmp/hsperfdata_<user> on Linux: turn it off.
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path.insert(0, str(ROOT))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss_mb(self) -> float:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:  # exited meanwhile
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            pid = int(entry)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21])
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo += children.get(pid, [])
        return total * self._page / 2**20

    def run(self) -> None:
        while not self._stop_event.wait(0.2):
            self.peak_mb = max(self.peak_mb, self.tree_rss_mb())

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return max(self.peak_mb, self.tree_rss_mb())


def jvm_exit_code() -> int | None:
    """Exit code of the session's JVM, or None while it runs."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.poll()


class Outcome:
    """Operation accounting that survives a dead JVM: once the JVM is
    lost, every later operation counts as attempted and failed."""

    def __init__(self, jvm_exit=jvm_exit_code):
        self.attempted = 0
        self.failed = 0
        self.causes: list[str] = []
        self.jvm_lost = False
        self._jvm_exit = jvm_exit

    def fail(self, op: str, cause: str) -> None:
        self.failed += 1
        self.causes.append(f"{op}: {cause}")

    def attempt(self, op: str, fn, prepare=lambda: None) -> float | None:
        """Wall seconds of ``fn()`` (``prepare()`` runs first, untimed),
        or None if either failed."""
        self.attempted += 1
        if self.jvm_lost:
            self.fail(op, "not run: JVM lost")
            return None
        try:
            prepare()
            t0 = time.perf_counter()
            fn()
        except Exception as e:  # an operation failing is a measurement
            code = self._jvm_exit()
            if code is not None:
                self.jvm_lost = True
                kill = " (SIGKILL: kernel OOM killer?)" if code == -9 else ""
                self.fail(op, f"JVM exited with code {code}{kill}: "
                              f"{type(e).__name__}")
            else:
                first = (str(e).strip().splitlines() or [""])[0]
                self.fail(op, f"{type(e).__name__}: {first[:300]}")
            return None
        return time.perf_counter() - t0


def release(spark) -> None:
    """bench.py's discipline between operations: pop the range-device
    caches, drop every persisted subtree, collect garbage."""
    from new_data_pipeline_spark.sources import tensorize
    tensorize.release_range_caches()
    spark.catalog.clearCache()
    gc.collect()


def run_pass(spark, ops, outcome: Outcome, tracer) -> dict:
    """{op name: wall seconds or None} for one sweep, checks applied."""
    walls = {}
    for op in ops:
        walls[op.name] = outcome.attempt(
            op.name, lambda op=op: op.run(tracer), lambda: release(spark))
        if not outcome.jvm_lost:
            tracer.collect(op.name)
    for op in ops:
        if op.check is None or walls[op.name] is None:
            continue
        try:
            ok = op.check()
        except Exception as e:  # a check that cannot run is a failure
            ok, why = False, f"check raised {type(e).__name__}: {e}"
        else:
            why = "output differs from the expected answer"
        if not ok:
            walls[op.name] = None
            outcome.fail(op.name, why)
    return walls


def start_session():
    from new_data_pipeline_spark.session import get_spark
    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    return spark


def stop_session() -> None:
    """Stop Spark and wait for the JVM to exit; never raises, so that a
    run whose JVM died still reports."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
    except Exception as e:  # JVM already gone: nothing left to stop
        print(f"session stop: {type(e).__name__}: {e}", file=sys.stderr)
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(workload, seconds: float, trace: bool, outcome: Outcome):
    """Set-up samples, then an untimed warm-up pass, then timed passes
    until ``seconds`` have passed (at least ``MIN_TIMED_PASSES``). A lost
    JVM (at start-up included) still sweeps one pass, so every
    operation it cut short counts failed."""
    from perfbench import metrics
    from perfbench.trace import NullTracer, Tracer
    spark = None
    run = {"first_start": None, "setup": [], "passes": [], "tracer": None}
    try:
        t0 = time.perf_counter()
        spark = start_session()
        run["first_start"] = time.perf_counter() - t0
        for _ in range(SETUP_SAMPLES):
            spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            run["setup"].append(time.perf_counter() - t0)
    except Exception as e:  # no session: every operation fails below
        outcome.jvm_lost = True
        outcome.causes.append(f"session: {type(e).__name__}: {e}")

    tracer = Tracer(spark) if trace and spark else NullTracer()
    passes = run["passes"]
    with tracer.instrument():
        while not (outcome.jvm_lost and passes):
            if len(passes) == metrics.WARMUP_PASSES:
                deadline = time.perf_counter() + seconds
            elif (len(passes) >= metrics.WARMUP_PASSES + MIN_TIMED_PASSES
                  and time.perf_counter() >= deadline):
                break
            tracer.pass_index = len(passes)
            ops = workload.pass_ops(spark, len(passes))
            passes.append(run_pass(spark, ops, outcome, tracer))
    run["tracer"] = tracer
    return run


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    _deployment_env()
    from perfbench import layers, metrics, workloads
    if args.workload not in metrics.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"known: {sorted(metrics.WORKLOADS)}")

    workload = workloads.make(args.workload, args.seed)
    sampler = RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    outcome = Outcome()
    try:
        run = measure(workload, args.seconds, bool(args.trace), outcome)
    finally:
        stop_session()
        peak_mb = sampler.stop() if sampler else None

    passes = run["passes"]
    pass_s = metrics.wall_or_failed(
        list(metrics.median_walls(passes).values()))
    if args.trace:
        values = layers.per_layer(args.workload, workload.families, passes,
                                  run["tracer"], run["first_start"])
        values["trace.pass_s"] = pass_s
        values["process.peak_rss_mb"] = peak_mb
        if hasattr(run["tracer"], "dump"):
            run["tracer"].dump(
                WORK / f"trace-{args.workload}-{args.seed}.json")
        wanted = metrics.PER_LAYER
    else:
        values = {
            "setup_s": (statistics.median(run["setup"]) if run["setup"]
                        else metrics.FAILED_WALL),
            "pass_s": pass_s,
            "ok_ratio": 1 - outcome.failed / outcome.attempted,
        }
        wanted = metrics.END_TO_END
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "causes": outcome.causes, "pass_walls": passes}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {m.name: {"value": values[m.name], "unit": m.unit}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
