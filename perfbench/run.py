"""Repository benchmark: one seeded, correctness-checked workload per run.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 22 --trace 0

A single client runs the workload's ops in a closed loop (the next op
starts only after the previous one returned) on a local[N] session,
N = $SPARK_GRAFT_CPUS (default: the CPUs this process may use). Every
op's output is checked. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
from a traced window (see README.md).

Inputs are generated from --seed under perfbench/.work/ and deleted at
exit; --trace 1 also writes its spans to perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("sql_analytics", "kmodes_fit")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test input sizes")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, its Python workers and the engine's
    temp-dir users write under `work`; size the session."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def jvm_pid() -> int:
    import probes

    for p in probes.children(os.getpid()):
        if probes.comm(p) == "java":
            return p
    raise RuntimeError("no JVM child process found")


class Bench:
    """One run: inputs, set-up, the timed window(s) and the metrics."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.data_dir = os.path.join(work, "data")
        self.phases: dict[str, float] = {}

    # -- set-up --------------------------------------------------------------

    def prepare_inputs(self):
        import inputs
        import workloads

        t0 = time.perf_counter()
        self.planted = workloads.generate(self.args.workload, self.data_dir, self.args.seed, self.args.tiny)
        self.counts = workloads.row_counts(self.data_dir)
        d = inputs.describe(self.data_dir)
        print(f"inputs: {self.args.workload} seed={self.args.seed} digest={d['digest']} files={d['files']} "
              f"row_groups={d['row_groups']} rows={d['rows']} ({time.perf_counter() - t0:.2f} s, not in setup_s)")

    def setup(self, tracer):
        """session start, load_all(), oracle (excluded), input load, warm-up."""
        import workloads
        from harness import Tracer
        from workloads import Ctx, KModesOps, Oracle

        clock = time.perf_counter
        with tracer.span("session.start"):
            t0 = clock()
            from pyspark_distributed_kmodes_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.phases["session.start"] = clock() - t0
        with tracer.span("registry.load"):
            t0 = clock()
            from pyspark_distributed_kmodes_spark.registry import load_all

            reg = load_all()
            self.phases["registry.load"] = clock() - t0
        import probes

        self.procs = probes.Processes(os.getpid(), jvm_pid())
        with tracer.span("setup.oracle"):
            t0 = clock()
            self.oracle = Oracle(self.data_dir)
            checks = workloads.oracle_checks(self.oracle, reg, self.args.workload)
            oracle_s = clock() - t0
        with tracer.span("setup.input_load"):
            t0 = clock()
            from pyspark_distributed_kmodes_spark.sources.tables import table

            for t in workloads.registry_tables(self.args.workload):
                table(self.spark, self.data_dir, t)
            ctx = Ctx(self.spark, self.data_dir, self.work, self.counts, self.oracle, self.procs)
            if self.args.workload == "sql_analytics":
                self.kops = None
                self.ops = workloads.sql_analytics_ops(ctx, reg, checks)
            else:
                self.kops = KModesOps(ctx, reg)
                self.ops = self.kops.ops(checks)
            self.phases["setup.input_load"] = clock() - t0
        print("credited rows: " + " ".join(f"{k}={r}" for k, r in {op.key: op.rows for op in self.ops}.items()))
        with tracer.span("setup.warmup"):
            t0 = clock()
            quiet = Tracer()  # warm-up op internals are not traced
            first = {}
            for op in self.ops:
                if op.key in first:  # an op that runs twice per cycle is warmed up once
                    continue
                t1 = clock()
                op.call(quiet)
                first[op.key] = clock() - t1
            self.phases["setup.warmup"] = clock() - t0
        print("warm-up: " + " ".join(f"{k}={v:.3f}" for k, v in first.items()))
        if self.kops:
            with tracer.span("setup.oracle"):
                t0 = clock()
                self.kops.settle()
                oracle_s += clock() - t0
        self.setup_s = sum(self.phases.values())
        print(f"setup: {self.setup_s:.3f} s = " + " + ".join(f"{k} {v:.3f}" for k, v in self.phases.items())
              + f" (oracle {oracle_s:.2f} s, not in setup_s)")

    # -- timed windows -------------------------------------------------------

    def cycles(self) -> int:
        import workloads
        from harness import cycles_for

        return cycles_for(self.args.seconds, workloads.CYCLE_S[self.args.workload])

    def measured(self, loop):
        """Run `loop()` -> list of sample lists; summarize each with the
        window's wall time, peak RSS and host steal share."""
        import probes
        from harness import summarize

        rss = probes.PeakRss(self.procs)
        rss.start()
        t0, cpu0, proc0 = time.perf_counter(), probes.cpu_times_s(), self.procs.cpu()
        try:
            sample_lists = loop()
        finally:
            peak = rss.stop()
        wall, cpu1, proc1 = time.perf_counter() - t0, probes.cpu_times_s(), self.procs.cpu()
        steal = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1e-9)
        cpu_s = sum(proc1.values()) - sum(proc0.values())
        out = []
        for samples in sample_lists:
            s = summarize(samples)
            s.update(peak_rss_mb=peak / 2**20, wall_s=wall, samples=samples, steal=steal, cpu_s=cpu_s)
            out.append(s)
        return out

    def window(self):
        """The untraced window: whole cycles over the ops."""
        from harness import Tracer, closed_loop

        return self.measured(lambda: [closed_loop(self.ops, self.cycles(), Tracer())])[0]

    def paired_window(self, tracer, hooks):
        """The traced run's window: every op once untraced and once traced,
        back to back in alternating order (harness.paired_loop), which side
        goes first flipping with the seed's parity. It runs half the
        untraced window's cycles, so it makes as many calls and a traced
        run takes about as long as an untraced one."""
        from harness import paired_loop

        return self.measured(lambda: paired_loop(self.ops, hooks.wrap(self.ops), max(1, self.cycles() // 2), tracer,
                                                 offset=self.args.seed % 2))

    def report_window(self, s, label: str = "window") -> None:
        for smp in s["samples"]:
            if not smp.ok:
                print(f"FAILED {smp.key}: {smp.error}")
        per_op: dict[str, list[float]] = {}
        for smp in s["samples"]:
            per_op.setdefault(smp.key, []).append(smp.latency_s)
        print("ops (median, then every call): " + " ".join(
            f"{k}={statistics.median(v):.3f} ({' '.join(f'{x:.3f}' for x in v)})" for k, v in per_op.items()))
        print(f"{label}: {s['attempted']} ops in {s['wall_s']:.2f} s wall ({s['busy_s']:.2f} s in ops); "
              f"error_rate={s['error_rate']:.4f} ({s['failed']}/{s['attempted']}); "
              f"op_tail_s {s['op_tail_s']:.4f} s is p{s['tail_percentile']:.1f} of n={s['attempted']}"
              f"; peak RSS {s['peak_rss_mb']:.0f} MB; host steal {100 * s['steal']:.1f}% of vCPU time"
              f"; {s['cpu_s']:.2f} CPU-s in the driver, JVM and Python workers")


def stop_spark(spark, procs) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for all of them to exit."""
    from pyspark import SparkContext

    workers = procs.pyworkers() if procs else []
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)


def end_to_end(bench: Bench, s) -> dict:
    return {
        "rows_per_s": (s["rows_per_s"], "rows/s"),
        "op_p50_gmean_s": (s["op_p50_gmean_s"], "s"),
        "setup_s": (bench.setup_s, "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import pyspark_distributed_kmodes_spark.registry  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {REPO}: {e}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    isolate(work)
    import tracing
    from harness import SpanTracer, Tracer

    bench = Bench(args, work)
    try:
        bench.prepare_inputs()
        tracer = SpanTracer() if args.trace else Tracer()
        bench.setup(tracer)
        if args.trace:
            hooks = tracing.Hooks(bench)
            untraced, traced = bench.paired_window(tracer, hooks)
            bench.report_window(untraced, "untraced")
            bench.report_window(traced, "traced")
            metrics = tracing.per_layer(bench, tracer, hooks, traced, untraced)
            result = traced
            tracing.write_spans(tracer, os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            untraced = bench.window()
            bench.report_window(untraced)
            metrics = end_to_end(bench, untraced)
            result = untraced
        for name, (value, unit) in metrics.items():
            print(f"{name:32s} {value:.6g} {unit}")
        out = {
            "correct": result["failed"] == 0 and untraced["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if getattr(bench, "oracle", None):
            bench.oracle.close()
        if getattr(bench, "spark", None):
            stop_spark(bench.spark, getattr(bench, "procs", None))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
