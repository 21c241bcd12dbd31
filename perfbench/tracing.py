"""Per-layer metrics of a traced window.

Spans come only from benchmark code, around its calls into each layer
(see workloads.py). Counts come from Spark's status tracker (one job
group per op call), a StreamingQueryListener (streaming jobs run
outside the caller's job group) and /proc. Layer times are self times:
span duration minus the time its child spans cover.
"""

from __future__ import annotations

import datetime
import itertools
import json
import os
import statistics
import threading
import time

from harness import Op
from workloads import KMODES_K

OP_KEYS = ("q01 q04 q16 q18 q21 q30 q32 qo73 qo74 o16 ingest_write qo12 "
           "kmodes_fit ensemble_fit predict ql01 graph_cc").split()
STREAMING_OPS = {"qo12"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class ProgressLog:
    """Collects streaming progress events (a Python StreamingQueryListener)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self.lock = threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "duration_ms": dict(p.durationMs),
                    "state": [(s.numRowsTotal, s.commitTimeMs, s.memoryUsedBytes) for s in p.stateOperators],
                    # wall-clock start of the trigger, to attribute it to an op call
                    "trigger_at": datetime.datetime.fromisoformat(p.timestamp).timestamp(),
                }
                with log.lock:
                    log.events.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)
        self.spark = spark

    def drain(self, quiet_s: float = 0.5, max_s: float = 5.0) -> list[dict]:
        """Wait until no event arrived for `quiet_s` (events are delivered
        asynchronously), then detach and return them."""
        deadline = time.perf_counter() + max_s
        seen = -1
        while time.perf_counter() < deadline:
            with self.lock:
                n = len(self.events)
            if n == seen:
                break
            seen = n
            time.sleep(quiet_s)
        self.spark.streams.removeListener(self.listener)
        with self.lock:
            return list(self.events)


class Hooks:
    """Wraps each op of the traced window: a fresh job group per call
    (cleared afterwards), and /proc CPU and I/O readings around it."""

    def __init__(self, bench):
        self.bench = bench
        self.sc = bench.spark.sparkContext
        self.calls: list[dict] = []
        self._ids = itertools.count()
        self.progress = ProgressLog(bench.spark)
        # the SQL tab's store: per-execution plan graphs and their metric values
        self.sql_store = bench.spark._jsparkSession.sharedState().statusStore()

    def wrap(self, ops: list[Op]) -> list[Op]:
        return [Op(op.key, op.rows, self._wrapped(op), op.check) for op in ops]

    def _wrapped(self, op: Op):
        procs = self.bench.procs

        def call(tr):
            group = f"perfbench-{next(self._ids)}"
            rec = {"key": op.key, "group": group, "cpu0": procs.cpu(), "io0": procs.io(),
                   "exec0": self.sql_store.executionsCount(), "t0": time.perf_counter(), "w0": time.time()}
            self.sc.setJobGroup(group, op.key)
            try:
                return op.call(tr)
            finally:
                # SparkContext.clearJobGroup(), which PySpark does not expose
                for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                    self.sc.setLocalProperty(prop, None)
                rec.update(cpu1=procs.cpu(), io1=procs.io(), t1=time.perf_counter(), w1=time.time())
                self.calls.append(rec)

        return call

    def job_stats(self) -> None:
        """Attach jobs, stages, tasks and failed tasks to every call."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + 10
        for rec in self.calls:
            jobs = st.getJobIdsForGroup(rec["group"])
            infos = [st.getJobInfo(j) for j in jobs]
            while any(i is None or i.status in ("RUNNING", "UNKNOWN") for i in infos) and time.perf_counter() < deadline:
                time.sleep(0.1)  # the status store is filled asynchronously
                infos = [st.getJobInfo(j) for j in jobs]
            stages = []
            for info in infos:
                for sid in (info.stageIds if info else []):
                    s = st.getStageInfo(sid)
                    if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:  # skipped stages ran nothing
                        stages.append(s)
            rec.update(jobs=len(jobs), job_ids=set(jobs), stages=len(stages), tasks=sum(s.numTasks for s in stages),
                       one_task_stages=sum(s.numTasks == 1 for s in stages),
                       failed_tasks=sum(s.numFailedTasks for s in stages))

    def plan_metric(self, rec: dict, node_name: str, metric: str) -> int:
        """Sum of a SQL plan metric (e.g. "number of output rows") over the
        plan nodes called `node_name` of the SQL executions that ran the
        call's jobs. Call after job_stats()."""
        store, total = self.sql_store, 0
        execs = store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid < rec["exec0"]:
                continue
            it = ex.jobs().keySet().iterator()
            job_ids = set()
            while it.hasNext():
                job_ids.add(it.next())
            if not job_ids & rec["job_ids"]:
                continue
            values = {}
            it = store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name() != node_name:
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    if ms.apply(k).name() == metric:
                        total += int(values.get(ms.apply(k).accumulatorId(), "0").replace(",", ""))
        return total


def per_layer(bench, tracer, hooks: Hooks, traced: dict, untraced: dict) -> dict:
    """Every per-layer metric (0 where the workload has no such layer)."""
    hooks.job_stats()
    events = hooks.progress.drain()
    calls = hooks.calls
    since = calls[0]["t0"] if calls else 0.0
    by_name = tracer.self_time_by_name(since)
    setup = tracer.self_time_by_name()
    n_ops = len(calls)
    m: dict[str, tuple[float, str]] = {}

    m["session.start_s"] = (sum(setup.get("session.start", [])), "s")
    m["registry.load_s"] = (sum(setup.get("registry.load", [])), "s")
    m["setup.input_load_s"] = (sum(setup.get("setup.input_load", [])), "s")
    m["setup.warmup_s"] = (sum(setup.get("setup.warmup", [])), "s")

    plan, exe = sum(by_name.get("operators.plan", [])), sum(by_name.get("operators.exec", []))
    n_reg = len(by_name.get("operators.plan", []))
    m["operators.plan_s"] = (plan / n_reg if n_reg else 0.0, "s")
    m["operators.exec_s"] = (exe / n_reg if n_reg else 0.0, "s")
    m["operators.plan_share"] = (plan / (plan + exe) if plan + exe else 0.0, "ratio")

    lat: dict[str, list[float]] = {}
    for s in traced["samples"]:
        lat.setdefault(s.key, []).append(s.latency_s)
    for key in OP_KEYS:
        m[f"op.{key}.s"] = (statistics.median(lat[key]) if key in lat else 0.0, "s")

    grouped = [c for c in calls if c["key"] not in STREAMING_OPS]
    stages = sum(c["stages"] for c in grouped)
    m["spark.jobs_per_op"] = (_mean(c["jobs"] for c in grouped), "count")
    m["spark.stages_per_op"] = (_mean(c["stages"] for c in grouped), "count")
    m["spark.tasks_per_op"] = (_mean(c["tasks"] for c in grouped), "count")
    m["spark.one_task_stage_share"] = (sum(c["one_task_stages"] for c in grouped) / stages if stages else 0.0, "ratio")
    m["spark.failed_tasks"] = (sum(c["failed_tasks"] for c in calls), "count")

    cpu = {k: sum(c["cpu1"][k] - c["cpu0"][k] for c in calls) for k in ("jvm", "pyworker", "driver")}
    busy = sum(c["t1"] - c["t0"] for c in calls)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["cpu.util"] = (sum(cpu.values()) / (busy * cores) if busy else 0.0, "ratio")
    for k in ("jvm", "pyworker", "driver"):
        m[f"cpu.{k}_s"] = (cpu[k] / n_ops if n_ops else 0.0, "s")

    kops = bench.kops
    fits = [c for c in calls if c["key"] == "kmodes_fit"]
    iters = sum(s.attrs.get("iters", 0) for s in tracer.spans if s.name == "kmodes.fit" and s.start >= since)
    m["kmodes.fit_s"] = (_mean(by_name.get("kmodes.fit", [])), "s")
    m["kmodes.iters"] = (iters / len(fits) if fits else 0.0, "count")
    m["kmodes.jobs_per_iter"] = (sum(c["jobs"] for c in fits) / iters if iters else 0.0, "count")
    m["kmodes.ensemble_s"] = (_mean(by_name.get("kmodes.ensemble", [])), "s")
    # each evaluation of the applyInPandas group function returns k candidate modes
    ens = [c for c in calls if c["key"] == "ensemble_fit"]
    runs = [hooks.plan_metric(c, "FlatMapGroupsInPandas", "number of output rows") / KMODES_K for c in ens]
    m["kmodes.ensemble_group_runs"] = (_mean(runs), "count")
    m["kmodes.predict_s"] = (_mean(by_name.get("kmodes.predict", [])), "s")
    m["kmodes.planted_recovered"] = (kops.planted_recovered(bench.planted) if kops else 0, "count")

    ccs = [c for c in calls if c["key"] == "graph_cc"]
    m["graph.cc_s"] = (_mean(by_name.get("graph.cc", [])), "s")
    m["graph.cc_jobs"] = (_mean(c["jobs"] for c in ccs), "count")

    reads = sum(c["io1"][0] - c["io0"][0] for c in calls)
    writes = sum(c["io1"][1] - c["io0"][1] for c in calls)
    w_spans = [s for s in tracer.spans if s.name == "sources.write" and s.start >= since]
    out_bytes = sum(s.attrs.get("bytes", 0) for s in w_spans)
    m["sources.read_bytes"] = (reads / n_ops if n_ops else 0.0, "B")
    m["sources.write_bytes"] = (writes / n_ops if n_ops else 0.0, "B")
    m["sources.write_amp"] = (sum(s.attrs.get("wchar", 0) for s in w_spans) / out_bytes if out_bytes else 0.0, "ratio")
    m["sources.write_s"] = (_mean(by_name.get("sources.write", [])), "s")

    # the paired window also runs untraced streaming calls: keep the
    # triggers that started during a traced one
    stream_calls = [c for c in calls if c["key"] in STREAMING_OPS]
    events = [e for e in events if any(c["w0"] <= e["trigger_at"] <= c["w1"] for c in stream_calls)]
    n_stream = len(stream_calls)
    dur = lambda k: [e["duration_ms"].get(k, 0) / 1000 for e in events]  # noqa: E731
    state = [s for e in events for s in e["state"]]
    m["streaming.batches"] = (len(events) / n_stream if n_stream else 0.0, "count")
    m["streaming.batch_s"] = (_mean(dur("triggerExecution")), "s")
    m["streaming.add_batch_s"] = (_mean(dur("addBatch")), "s")
    m["streaming.commit_s"] = (_mean(dur("commitOffsets")), "s")
    m["streaming.state_rows"] = (max((s[0] for s in state), default=0), "count")
    m["streaming.state_commit_s"] = (_mean(s[1] / 1000 for s in state), "s")
    m["streaming.state_mb"] = (max((s[2] for s in state), default=0) / 2**20, "MB")

    m["op.tail_s"] = (traced["op_tail_s"], "s")
    m["mem.peak_rss_mb"] = (traced["peak_rss_mb"], "MB")
    m["trace.overhead"] = (1 - traced["rows_per_s"] / untraced["rows_per_s"], "ratio")
    return m


def write_spans(tracer, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(tracer.to_json(), fh)
