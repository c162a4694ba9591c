#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed three times (set-up takes the median), then runs operations in a
closed loop for ``--seconds``, at least one, and grades every one. Times
that are gated are processor seconds of the whole process tree, which
CPU time the hypervisor takes from the machine does not inflate.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. A traced
run also writes its spans to
``.perfbench_work/trace-<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import NamedTuple

import tracing
from tracing import host_cpu_s, jvm_retained_mb, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SLOTS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# operations a run makes at least, untraced and traced. One untraced
# operation per run: a run of either workload already spends 25-50 s on
# Spark start-up and set-up, and a full comparison of about 50 runs has
# to fit in under an hour.
MIN_OPS = (1, 3)
WORKLOAD_NAMES = ("link_pages", "persons_reference")

perf = time.perf_counter
T0 = perf()


class Op(NamedTuple):
    wall_s: float
    cpu_s: float  # processor time of the whole process tree
    rows: int
    traced: bool
    steal_frac: float  # share of the machine's CPU time its hypervisor took


def log(msg: str) -> None:
    print(f"perfbench {perf() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Settings for a small box: a small driver heap, at most as many task
    slots as CPUs, Spark scratch inside the run's directory, and the
    repository root on the Python workers' path. Program switches
    (``SPARK_GRAFT_*``) are cleared so every run measures the defaults."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM that spark-submit runs to assemble the driver command;
        # no perf-data file, which the JVM would write under /tmp
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def start_session(run_dir: str):
    from rlerrorgenerator_spark.session import get_spark

    # A fixed heap size, so that how G1 sizes its generations, and with
    # them the peak heap use, does not depend on when it grew the heap.
    spark = get_spark("perfbench", cores=SLOTS, extra_conf={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, and with it the Python workers,
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Run:
    def __init__(self, args, spark, tracer, null_tracer, run_dir, store):
        from workloads import WORKLOADS

        self.args, self.spark = args, spark
        self.tracer, self.null = tracer, null_tracer
        self.wl = WORKLOADS[args.workload](spark, tracer, args.seed, run_dir,
                                           store)
        self.problems: list[str] = []
        self.ops: list[Op] = []
        self.attempted = self.failed = 0
        self.jvm_mb = 0.0

    def setup(self, session_cpu: float) -> float:
        """Generate the inputs ``SETUP_REPS`` times; set-up processor time
        is session start + the median generation + the one-off part."""
        wl, tracer = self.wl, self.tracer
        gen = []
        for _ in range(SETUP_REPS):
            with tracer.span("setup.inputs") as unit:
                t, c = perf(), tree_cpu_s()
                wl.setup_inputs()
                gen.append(tree_cpu_s() - c)
            log(f"input generation {perf() - t:.2f}s, {gen[-1]:.2f} CPU s")
            bad, counts = wl.check_inputs()
            self.problems += bad
            if unit is not None:
                unit.counts.update(counts)
        t, c = perf(), tree_cpu_s()
        with tracer.span("setup.once"):
            wl.setup_once()
        once_cpu = tree_cpu_s() - c
        log(f"one-off set-up {perf() - t:.2f}s, {once_cpu:.2f} CPU s")
        return session_cpu + statistics.median(gen) + once_cpu

    def measure(self) -> None:
        """Closed loop: the next operation starts when the last one is
        graded, until ``--seconds`` have passed and at least ``MIN_OPS``
        ran. The first operation is the first of its code paths in this
        JVM. A traced run alternates untraced and traced operations; the
        untraced ones after the first give the tracing overhead."""
        deadline = perf() + self.args.seconds
        i = 1
        while i <= MIN_OPS[self.args.trace] or perf() < deadline:
            if not self.operation(i, bool(self.args.trace) and i % 2 == 0):
                return
            if i == 1 and self.args.trace:
                self.wl.tracer = self.tracer
                self.problems += self.wl.traced_extras()
            i += 1

    def operation(self, i: int, traced: bool) -> bool:
        """Run, time and grade operation ``i``; False if it raised, which
        ends the run. After grading, a full collection gives the JVM's
        retained memory."""
        wl = self.wl
        tracer = self.tracer if traced else self.null
        wl.tracer = tracer
        self.attempted += 1
        try:
            wl.prepare(i)
            with tracer.span("op") as unit:
                with tracer.patched(wl.patches() if traced else []):
                    steal0, t, c = host_cpu_s(), perf(), tree_cpu_s()
                    rows = wl.run(i)
                    c, t = tree_cpu_s() - c, perf() - t
                    steal = host_cpu_s()
            ok, counts = wl.check(i)
        except Exception:  # noqa: BLE001 - one failed op ends the run
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"operation {i} raised")
            return False
        if not ok:
            self.failed += 1
            self.problems.append(f"operation {i} failed its checks")
        if unit is not None:
            unit.counts.update(counts)
        steal_frac = ((steal[0] - steal0[0])
                      / max(steal[1] - steal0[1], 1e-9))
        self.ops.append(Op(t, c, rows, traced, steal_frac))
        self.jvm_mb = max(self.jvm_mb, jvm_retained_mb(self.spark))
        log(f"operation {i} {t:.2f}s, {c:.2f} CPU s, steal {steal_frac:.1%}"
            f", traced={traced} ok={ok}")
        return True

    def end_to_end(self, setup_cpu: float, python_mb: float) -> dict:
        quality = {k: statistics.median(v) for k, v in self.wl.quality.items()}
        untraced = [op for op in self.ops if not op.traced]
        return {
            "setup_s": (setup_cpu, "s"),
            "mem_mb": (python_mb + self.jvm_mb, "MB"),
            "ok_frac": ((self.attempted - self.failed)
                        / max(self.attempted, 1), "frac"),
            "rows_per_cpu_s": (statistics.median(
                op.rows / op.cpu_s for op in untraced), "1/s"),
            "pair_f1": (quality["pair_f1"], "frac"),
            "blocking_recall": (quality["blocking_recall"], "frac"),
            "cluster_exact_frac": (quality["cluster_exact_frac"], "frac"),
        }

    def per_layer(self) -> dict:
        tables = tracing.unit_tables(self.tracer.spans,
                                     {"op", "setup.inputs", "setup.fold",
                                      "session.start"})
        first = self.ops[0]
        traced = [op.wall_s for op in self.ops if op.traced]
        warm = [op.wall_s for op in self.ops[1:] if not op.traced]
        ops = [t for t in tables if t["unit"] == "op"]
        layer_s = sum(v for t in ops for k, v in t.items()
                      if k.endswith(".self_s") and not k.startswith("span:"))
        # a run cut short by a failed operation may lack a warm or a
        # traced operation; those metrics then read 0
        warm_s = statistics.median(warm) if warm else 0.0
        return {
            **layer_metrics(tables),
            "session.warmup_s": (first.wall_s - warm_s if warm else 0.0,
                                 "s"),
            "op.wall_s": (first.wall_s, "s"),
            "host.steal_frac": (first.steal_frac, "frac"),
            "trace.overhead_frac": (statistics.median(traced) / warm_s - 1
                                    if warm and traced else 0.0, "frac"),
            "trace.attributed_frac": (
                layer_s / max(sum(t["unit_s"] for t in ops), 1e-9), "frac"),
        }


def layer_metrics(tables: list[dict]) -> dict:
    """Each per-layer metric is the median of its value over the measured
    operations, or, for a layer that only runs in set-up, over the set-up
    units; 0 where the workload never runs the layer."""
    MB = 1e6
    ops = [t for t in tables if t["unit"] == "op"]
    setup = [t for t in tables if t["unit"] != "op"]

    def med(fn):
        for group in (ops, setup):
            vals = []
            for t in group:
                try:
                    vals.append(fn(t))
                except (KeyError, ZeroDivisionError):
                    continue
            if vals:
                return statistics.median(vals)
        return 0.0

    def g(key, scale=1.0):
        return lambda t: t[key] / scale

    def unit(name):
        def fn(t):
            if t["unit"] != name:
                raise KeyError(name)
            return t["unit_s"]
        return fn

    spec = {
        "session.start_s": (unit("session.start"), "s"),
        "sources.synth_s": (g("sources.self_s"), "s"),
        "operators.inject_s": (g("operators.self_s"), "s"),
        "operators.lineage_rows": (g("lineage_rows"), "count"),
        "operators.jobs": (g("operators.jobs"), "count"),
        "operators.shuffle_write_mb": (g("operators.shuffle_write_b", MB),
                                       "MB"),
        "checkpoint.stage_s": (g("checkpoint.self_s"), "s"),
        "checkpoint.bytes_written_mb": (g("ckpt_bytes", MB), "MB"),
        "checkpoint.bytes_per_input_byte": (
            lambda t: t["ckpt_bytes"] / t["input_bytes"], "ratio"),
        "blocking.s": (g("blocking.self_s"), "s"),
        "blocking.exact_s": (g("span:blocking.exact.self_s"), "s"),
        "blocking.snm_s": (g("span:blocking.snm.self_s"), "s"),
        "blocking.minhash_s": (g("span:blocking.minhash.self_s"), "s"),
        "blocking.candidates": (g("candidates"), "count"),
        "blocking.useful_frac": (g("useful_frac"), "frac"),
        "blocking.jobs": (g("blocking.jobs"), "count"),
        "blocking.tasks": (g("blocking.tasks"), "count"),
        "blocking.shuffle_write_mb": (g("blocking.shuffle_write_b", MB), "MB"),
        "features.s": (g("features.self_s"), "s"),
        "features.pairs_per_s": (
            lambda t: t["candidates"] / t["features.self_s"], "1/s"),
        "features.accept_frac": (g("accept_frac"), "frac"),
        "features.jobs": (g("features.jobs"), "count"),
        "features.shuffle_write_mb": (g("features.shuffle_write_b", MB), "MB"),
        "metrics.s": (g("metrics.self_s"), "s"),
        "metrics.jobs": (g("metrics.jobs"), "count"),
        "resolve.cluster_s": (g("resolve.self_s"), "s"),
        "resolve.edges": (g("edges"), "count"),
        "resolve.prior_edges": (g("prior_edges"), "count"),
        "resolve.jobs": (g("resolve.jobs"), "count"),
        "person_pairs.pairs_s": (g("span:person_pairs.generate.self_s"), "s"),
        "person_pairs.block_pairs": (g("block_pairs"), "count"),
        "person_pairs.kept_frac": (g("kept_frac"), "frac"),
        "person_pairs.features_s": (g("span:person_pairs.features.self_s"),
                                    "s"),
        "person_pairs.shuffle_write_mb": (
            g("person_pairs.shuffle_write_b", MB), "MB"),
        "incremental.fold_s": (g("span:incremental.fold_batch.total_s"), "s"),
        "incremental.jobs_per_fold": (g("span:incremental.fold_batch.jobs"),
                                      "count"),
        "incremental.input_mb_per_fold": (
            g("span:incremental.fold_batch.input_b", MB), "MB"),
        "incremental.bytes_written_per_fold": (g("fold_bytes"), "B"),
    }
    return {name: (med(fn), u) for name, (fn, u) in spec.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rlerrorgenerator_spark",
                                       "__init__.py")):
        print(f"perfbench: no rlerrorgenerator_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    # inputs and Spark scratch live in a directory of this run's own and
    # go when it ends; traces and the fingerprint store stay in WORK
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)
    sys.path.insert(0, ROOT)
    from grader import FingerprintStore

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = tracing.Tracer(run_id, enabled=bool(args.trace))
    null = tracing.Tracer(run_id, enabled=False)
    with tracing.MemorySampler() as mem:
        t, c = perf(), tree_cpu_s()
        with tracer.span("session.start"):
            spark = start_session(run_dir)
        session_cpu = tree_cpu_s() - c
        log(f"session start {perf() - t:.2f}s, {session_cpu:.2f} CPU s")
        store = FingerprintStore(
            os.path.join(WORK, "fingerprints.json"),
            [os.path.join(ROOT, "rlerrorgenerator_spark"), HERE],
            f"{args.workload}/{args.seed}")
        try:
            tracer.attach(spark)
            run = Run(args, spark, tracer, null, run_dir, store)
            setup_cpu = run.setup(session_cpu)
            run.measure()
        finally:
            stop_session(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
            log("session stopped")
        store.save()
    if not run.ops:
        print("perfbench: no operation completed: "
              + "; ".join(run.problems), file=sys.stderr)
        return 1
    if args.trace:
        metrics = run.per_layer()
        with open(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.dump(),
                       "metrics": {k: v for k, (v, _) in metrics.items()}},
                      f, indent=1)
    else:
        log(f"memory: JVM retained {run.jvm_mb:.0f} MB, Python peak "
            f"{mem.peak_mb:.0f} MB")
        metrics = run.end_to_end(setup_cpu, mem.peak_mb)
    for problem in run.problems:
        print(f"perfbench: {problem}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
