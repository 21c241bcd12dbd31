"""Closed-loop op runner, span recorder and metric summaries.

Nothing here imports Spark, so the self-tests exercise it with plain
Python ops.
"""

from __future__ import annotations

import gc
import math
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

# An op slower than this counts as timed out (and failed), whatever it returns.
OP_TIMEOUT_S = 90.0


@dataclass
class Op:
    """One benchmark operation: a call into the program plus collect().

    `call(tracer)` returns the collected result; `check(result)` returns
    None when the result is correct, else a one-line reason. `rows` is
    the fixed input+output row count credited to a correct call.
    """

    key: str
    rows: int
    call: Callable[["Tracer"], Any]
    check: Callable[[Any], Optional[str]]


@dataclass
class Sample:
    key: str
    latency_s: float
    ok: bool
    rows: int
    error: str = ""


def run_op(op: Op, tracer: "Tracer", clock=time.perf_counter) -> Sample:
    """Run one op and check its output; the check is not timed."""
    error = ""
    gc.collect()  # so a collection left over from the previous op is not timed here
    with tracer.span(f"op.{op.key}", op=op.key):
        t0 = clock()
        try:
            result = op.call(tracer)
        except Exception as e:  # an op that raises is a counted failure
            result, error = None, f"raised {type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
            traceback.print_exc()
        latency = clock() - t0
    if not error and latency > OP_TIMEOUT_S:
        error = f"timed out ({latency:.1f} s > {OP_TIMEOUT_S} s)"
    if not error:
        try:
            error = op.check(result) or ""
        except Exception as e:
            error = f"check raised {type(e).__name__}: {e}"
    ok = not error
    return Sample(op.key, latency, ok, op.rows if ok else 0, error)


def closed_loop(ops: list[Op], cycles: int, tracer: "Tracer", clock=time.perf_counter) -> list[Sample]:
    """One client: `cycles` times over the ops in order, each op sent only
    after the previous one returned."""
    return [run_op(op, tracer, clock) for _ in range(cycles) for op in ops]


def paired_loop(ops: list[Op], traced_ops: list[Op], cycles: int, tracer: "Tracer", offset: int = 0,
                clock=time.perf_counter) -> tuple[list[Sample], list[Sample]]:
    """Like closed_loop, but every op runs twice in a row: once plain
    (untraced) and once as its traced twin, the order alternating from
    op to op and cycle to cycle so that neither side is always the
    warmer one. An odd `offset` swaps every order: while the JIT still
    speeds an op up, the side that gets its first call is slower, so
    runs with both offsets are needed to cancel that out. Returns
    (plain samples, traced samples)."""
    plain: list[Sample] = []
    traced: list[Sample] = []
    for c in range(cycles):
        for i, (op, twin) in enumerate(zip(ops, traced_ops)):
            order = ("plain", "traced") if (c + i + offset) % 2 == 0 else ("traced", "plain")
            for side in order:
                if side == "plain":
                    plain.append(run_op(op, Tracer(), clock))
                else:
                    traced.append(run_op(twin, tracer, clock))
    return plain, traced


def cycles_for(seconds: float, cycle_s: float) -> int:
    """Whole cycles that fill a window of `seconds` when one cycle takes
    `cycle_s` (at least one). A fixed count, not a deadline: the sample
    count, and with it the tail percentile, does not change with host
    speed."""
    return max(1, round(seconds / cycle_s))


def tail_rank(n: int) -> Optional[tuple[int, float]]:
    """(0-based index into the sorted samples, percentile) of the highest
    percentile that leaves at least 10 samples above it; None when
    n <= 20, where that percentile would not lie above the median (or,
    for n <= 10, does not exist) and the maximum is reported instead."""
    if n <= 20:
        return None
    return n - 11, 100.0 * (n - 10) / n


def op_p50_gmean(samples: list[Sample]) -> float:
    """Geometric mean, over the ops of the window, of each op's median
    latency. Every op weighs the same however slow it is and however
    often it runs. (A median over all calls of a mix of ops with
    different costs falls in the gap between two ops' latencies, and
    jumps with whichever of them was a little slower.)"""
    per_op: dict[str, list[float]] = {}
    for s in samples:
        per_op.setdefault(s.key, []).append(s.latency_s)
    # a nanosecond floor keeps the log finite for an op faster than the clock resolves
    return math.exp(statistics.fmean(math.log(max(statistics.median(v), 1e-9)) for v in per_op.values()))


def summarize(samples: list[Sample]) -> dict:
    """End-to-end figures of one timed window."""
    lat = sorted(s.latency_s for s in samples)
    busy = sum(lat)
    rank = tail_rank(len(lat))
    if rank is None:  # too few samples for the rule to reach a tail: report the maximum
        tail, pct = lat[-1], 100.0
    else:
        tail, pct = lat[rank[0]], rank[1]
    failed = sum(not s.ok for s in samples)
    return {
        "attempted": len(samples),
        "failed": failed,
        "error_rate": failed / len(samples),
        "rows_per_s": sum(s.rows for s in samples) / busy,
        "op_p50_gmean_s": op_p50_gmean(samples),
        "op_tail_s": tail,
        "tail_percentile": pct,
        "busy_s": busy,
    }


# ---------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[str]
    attrs: dict = field(default_factory=dict)


class _NullSpan:
    def __init__(self):
        self.attrs: dict = {}

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class Tracer:
    """Records nothing; the untraced runs use this."""

    enabled = False

    def span(self, name: str, op: Optional[str] = None):
        return _NullSpan()


class SpanTracer(Tracer):
    """Keeps every span in memory: name, start, end, parent, op id."""

    enabled = True

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, op: Optional[str] = None):
        tracer = self

        class _Ctx:
            def __enter__(self):
                parent = tracer._stack[-1] if tracer._stack else None
                s = Span(len(tracer.spans), name, tracer.clock(), 0.0,
                         parent.id if parent else None,
                         op if op is not None else (parent.op if parent else None))
                tracer.spans.append(s)
                tracer._stack.append(s)
                self.attrs = s.attrs
                return self

            def __exit__(self, *exc):
                s = tracer._stack.pop()
                s.end = tracer.clock()
                return False

        return _Ctx()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one span run one after another, never overlapping)."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}

    def self_time_by_name(self, since: float = float("-inf")) -> dict[str, list[float]]:
        """Self times grouped by span name, for spans starting at or after `since`."""
        st = self.self_times()
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s.start >= since:
                out.setdefault(s.name, []).append(st[s.id])
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]
