"""Self-tests of the benchmark's own code.

    python -m pytest perfbench -q

The smoke tests start Spark (about a minute per workload and mode).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import workloads  # noqa: E402
from harness import (Op, Sample, SpanTracer, Tracer, closed_loop, cycles_for, op_p50_gmean, paired_loop,  # noqa: E402
                     summarize, tail_rank)


def bench_config() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- tail percentile rule -----------------------------------------------------


@pytest.mark.parametrize("n, index, pct", [(21, 10, 100 * 11 / 21), (24, 13, 100 * 14 / 24),
                                           (100, 89, 90.0), (1000, 989, 99.0)])
def test_tail_rank_leaves_ten_samples_above(n, index, pct):
    i, p = tail_rank(n)
    assert (i, p) == (index, pytest.approx(pct))
    assert n - 1 - i == 10


@pytest.mark.parametrize("n", [1, 10, 11, 20])
def test_tail_rank_falls_back_to_the_maximum_up_to_twenty_samples(n):
    assert tail_rank(n) is None


@pytest.mark.parametrize("n, pct, tail", [(24, 100 * 14 / 24, 13), (8, 100.0, 7)])
def test_summarize_reports_tail_value(n, pct, tail):
    # op i takes i clock ticks
    now = [0]

    def clock():
        return now[0]

    def call(tr, i):
        now[0] += i

    ops = [Op(f"o{i}", 1, (lambda tr, i=i: call(tr, i)), lambda r: None) for i in range(n)]
    s = summarize(closed_loop(ops, 1, Tracer(), clock=clock))
    assert s["attempted"] == n and s["tail_percentile"] == pytest.approx(pct) and s["op_tail_s"] == tail


def test_op_p50_gmean_weighs_every_op_once():
    # a: median 1 over four calls (one outlier); b: median 16 over two calls
    samples = [Sample("a", x, True, 1) for x in (1.0, 1.0, 1.0, 100.0)]
    samples += [Sample("b", x, True, 1) for x in (8.0, 24.0)]
    assert op_p50_gmean(samples) == pytest.approx(4.0)


# -- windows --------------------------------------------------------------------


@pytest.mark.parametrize("seconds, cycle_s, cycles", [(1, 11.0, 1), (22, 11.0, 2), (22, 10.5, 2), (40, 10.0, 4)])
def test_cycles_for_is_a_fixed_count(seconds, cycle_s, cycles):
    assert cycles_for(seconds, cycle_s) == cycles


@pytest.mark.parametrize("offset", [0, 1])
def test_paired_loop_alternates_which_side_runs_first(offset):
    log = []
    ops = [Op(k, 1, (lambda tr, k=k: log.append((k, tr.enabled))), lambda r: None) for k in "ab"]
    plain, traced = paired_loop(ops, ops, 2, SpanTracer(), offset=offset)
    assert [s.key for s in plain] == [s.key for s in traced] == ["a", "b", "a", "b"]
    first_traced = [False, True, True, False]  # per (cycle, op), offset 0
    assert log == [(k, t != bool(offset)) for k, f in zip("abab", first_traced)
                   for t in ((f, not f))]


# -- failures are counted, never credited --------------------------------------


def test_planted_wrong_result_is_caught_and_counted():
    cols, rows = ["k", "v"], [(1, 2.5), (2, None)]
    check = workloads.expect_rows(cols, rows)
    ops = [
        Op("right", 10, lambda tr: (["v", "k"], [(None, 2), (2.5, 1)]), check),  # same rows, other order
        Op("wrong", 10, lambda tr: (cols, [(1, 2.5), (2, 0.0)]), check),  # planted wrong value
        Op("short", 10, lambda tr: (cols, rows[:1]), check),
        Op("raises", 10, lambda tr: 1 / 0, check),
    ]
    samples = closed_loop(ops, 1, Tracer())
    s = summarize(samples)
    assert [x.ok for x in samples] == [True, False, False, False]
    assert s["failed"] == 3 and s["error_rate"] == 0.75
    assert sum(x.rows for x in samples) == 10
    assert "values differ" in samples[1].error and "row count" in samples[2].error
    assert samples[3].error.startswith("raised ZeroDivisionError")


def test_lloyd_fixed_point_check(tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "p.parquet")
    pq.write_table(pa.table({"a0": ["x", "x", "y", "y", "y"], "a1": ["p", "p", "q", "q", "p"]}), path)
    con = duckdb.connect()
    cols = ["a0", "a1"]
    assert workloads.lloyd_fixed_point_error(con, path, cols, [("x", "p"), ("y", "q")]) is None
    assert workloads.lloyd_fixed_point_error(con, path, cols, [("x", "q"), ("y", "p")]) is not None


def test_union_find_components():
    assert workloads.union_find_components([(3, 4), (1, 2), (4, 2), (7, 8)]) == {
        1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_span_self_time():
    ticks = iter([0, 1, 3, 4, 6, 10])
    tr = SpanTracer(clock=lambda: next(ticks))
    with tr.span("op", op="x"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    st = tr.self_time_by_name()
    assert st == {"op": [6], "a": [2], "b": [2]}
    assert [s.op for s in tr.spans] == ["x", "x", "x"]


# -- inputs ----------------------------------------------------------------------


def test_inputs_depend_only_on_the_seed(tmp_path):
    digests = []
    for i, seed in enumerate([5, 5, 6]):
        d = str(tmp_path / str(i))
        workloads.generate("kmodes_fit", d, seed, tiny=True)
        digests.append(inputs.describe(d)["digest"])
    assert digests[0] == digests[1] != digests[2]


def test_kmodes_points_exceed_the_combo_threshold(tmp_path):
    """The distributed Lloyd loop runs only above KModes.COMBO_THRESHOLD
    (100k) distinct combinations; every seed permutes the same table."""
    import duckdb

    d = str(tmp_path / "km")
    workloads.generate("kmodes_fit", d, 1, tiny=False)
    combos = duckdb.sql(f"SELECT count(*) FROM (SELECT DISTINCT * FROM read_parquet('{d}/kmodes_points.parquet'))")
    assert combos.fetchone()[0] > 100_000


# -- end to end --------------------------------------------------------------------


def run_bench(cwd, *args, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "traces", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = run_bench(tmp_path, "--workload", "sql_analytics", "--seed", "1", "--seconds", "1", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in bench_config()["workloads"]])
def test_smoke_every_metric_prints_with_its_unit(workload, trace):
    p = run_bench(REPO, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = bench_config()["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
        assert f"{m['name']} " in p.stdout  # also printed for people
