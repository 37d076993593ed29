"""Closed-loop op runner shared by the workloads.

One client issues ops back to back (a closed loop): each op is called,
its output is committed to disk, then read back once.  Ops come in
rounds, and every round holds the same mix of op kinds.  The timed
window runs whole rounds until ``seconds`` of op time have passed, so
every run measures the same mix.  Landing inputs and checking each
read happen with the clock stopped; the workload's final correctness
check runs after the window.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from probe import SparkCounters, tree_stats, written_since
from spans import Tracer


@dataclass
class Op:
    """One user call: ``build`` calls the engine, ``sink`` (if any)
    materializes what ``build`` returned, ``read`` reads the committed
    output back and returns what the correctness check needs."""

    name: str
    layer: str
    build: Callable[[], Any]
    read: Callable[[], Any]
    sink: Callable[[Any], None] | None = None
    out_dir: str | None = None
    in_bytes: int | Callable[[], int] = 0
    read_layer: str = "io"
    land: Callable[[], None] | None = None  # untimed: lands the op's input


@dataclass
class OpRecord:
    name: str
    layer: str
    round: int
    traced: bool
    commit_s: float
    read_s: float
    written_b: int
    written_files: int
    in_bytes: int
    read_layer: str
    spark: dict = field(default_factory=dict)
    read_spark: dict = field(default_factory=dict)


class Context:
    """Per-run settings and directories handed to a workload."""

    def __init__(self, run_dir: str, seed: int, session_conf: dict) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.session_conf = session_conf
        self.rng = random.Random(seed)
        self.spark = None
        for sub in ("inputs", "out", "state"):
            os.makedirs(self.path(sub), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p


def start_session(ctx: Context):
    from data__converter_spark.session import get_spark

    ctx.spark = get_spark("perfbench", extra_conf=ctx.session_conf)
    return ctx.spark


def _release() -> None:
    from data__converter_spark import scale

    scale.release_persisted()


class Runner:
    def __init__(self, workload, ctx: Context, trace: bool) -> None:
        self.wl = workload
        self.ctx = ctx
        self.trace = trace
        self.records: list[OpRecord] = []
        self.failures: list[dict] = []  # ops that raised
        self.bad: dict[int, str] = {}    # record index -> why its output is wrong
        self.untimed_s = 0.0  # landing inputs and checking reads, inside rounds
        self.tracer: Tracer | None = None
        self.counters: SparkCounters | None = None
        self.layer: dict[str, float] = {}

    def setup(self, process_start: float, excluded_s: float) -> float:
        """Start the session, build the workload's standing state and run
        one untimed warm round of every op, so the timed rounds see loaded
        classes, compiled code paths and live Python workers.
        Returns the set-up time from process start (JVM launch included,
        input generation excluded) to when the first timed op can run."""
        t0 = time.time()
        start_session(self.ctx)
        self.layer["session.start_s"] = time.time() - t0
        self.wl.build_state(self.ctx)
        self.counters = SparkCounters(self.ctx.spark)
        self.tracer = Tracer(self.counters.next_job_id)
        t = time.perf_counter()
        self.run_round(-1, traced=False)
        self.layer["session.warm_s"] = time.perf_counter() - t
        self.records.clear()
        self.failures.clear()
        self.bad.clear()
        return time.time() - process_start - excluded_s

    def _counted(self, name: str, layer: str, traced: bool, fn):
        """Run ``fn``; returns its result, its wall time and, with
        tracing, the Spark figures of the jobs it ran.  The wall covers
        ``fn`` alone: reading the counters afterwards is the tracer's
        cost, not the op's."""
        if not traced:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0, {}
        tracer, counters = self.tracer, self.counters
        j0 = counters.next_job_id()
        with tracer.span(name, layer, "op"):
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        c0 = time.perf_counter()
        detail = counters.jobs_detail(j0, counters.next_job_id())
        cached = counters.cached_bytes()
        if cached is None:
            detail["missing"] = True
        else:
            detail["cached_b"] = cached
        tracer.cost_s += time.perf_counter() - c0
        return out, wall, detail

    def _exec(self, layer: str, traced: bool, fn, *args):
        if not traced:
            return fn(*args)
        with self.tracer.span(f"{layer}.<exec>", layer, "exec"):
            return fn(*args)

    def run_op(self, op: Op, rnd: int, traced: bool) -> OpRecord:
        u0 = time.perf_counter()
        if op.land is not None:
            op.land()
        in_bytes = op.in_bytes() if callable(op.in_bytes) else op.in_bytes
        before = tree_stats(op.out_dir) if op.out_dir else {}
        self.untimed_s += time.perf_counter() - u0
        self.tracer.op_id = len(self.records)

        def commit():
            out = op.build()
            if op.sink is not None:
                self._exec(op.layer, traced, op.sink, out)

        _, commit_s, commit_spark = self._counted(
            f"op:{op.name}", op.layer, traced, commit)
        if traced:
            with self.tracer.span("scale.<release>", "scale", "release"):
                _release()
        else:
            _release()
        value, read_s, read_spark = self._counted(
            f"read:{op.name}", op.read_layer, traced,
            lambda: self._exec(op.read_layer, traced, op.read))
        u0 = time.perf_counter()
        _release()
        idx = len(self.records)
        if rnd >= 0:  # the warm round's outputs are not checked
            why = self.wl.check_read(self.ctx, idx, op.name, value)
            if why:
                self.bad[idx] = why
        wb, wf = written_since(before, tree_stats(op.out_dir)) if op.out_dir else (0, 0)
        self.untimed_s += time.perf_counter() - u0
        rec = OpRecord(
            op.name, op.layer, rnd, traced, commit_s, read_s, wb, wf,
            in_bytes, op.read_layer, commit_spark, read_spark,
        )
        self.records.append(rec)
        return rec

    def run_round(self, rnd: int, traced: bool) -> float:
        ops = self.wl.round_ops(self.ctx, rnd)
        if traced:
            self.tracer.install()
        t = time.perf_counter()
        try:
            for op in ops:
                try:
                    self.run_op(op, rnd, traced)
                except Exception as e:  # counted against the run, which goes on
                    traceback.print_exc()
                    self.failures.append({"name": op.name, "error": repr(e)[:300]})
        finally:
            if traced:
                self.tracer.uninstall()
        return time.perf_counter() - t

    def run(self, seconds: float) -> dict:
        """Whole timed rounds until ``seconds`` pass.  With tracing,
        rounds alternate untraced / traced, starting and ending untraced,
        so the run also measures what tracing costs."""
        walls = {False: [], True: []}
        self.untimed_s = 0.0
        t0 = time.perf_counter()
        rnd = 0
        while True:
            traced = self.trace and rnd % 2 == 1
            u = self.untimed_s
            walls[traced].append(self.run_round(rnd, traced) - (self.untimed_s - u))
            rnd += 1
            timed = time.perf_counter() - t0 - self.untimed_s
            if timed >= seconds and (not self.trace or (rnd >= 3 and not traced)):
                break
        return {"elapsed_s": timed, "rounds": rnd, "walls": walls,
                "untimed_s": self.untimed_s}


def tail_quantile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def by_kind(records: list[OpRecord], value) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r.name, []).append(value(r))
    return out


def typical(kinds: dict[str, list[float]]) -> float:
    """Each op kind's median over the run, combined across kinds by
    geometric mean: every kind weighs the same, one slow call cannot
    move it, and it does not jump from one kind to another the way the
    median of a few calls of unlike kinds does."""
    return math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in kinds.values()))


def end_to_end(records: list[OpRecord], elapsed: float, setup_s: float,
               peak_rss_b: int) -> tuple[dict, dict]:
    """The gated end-to-end metrics, and figures recorded beside them."""
    commits = [r.commit_s for r in records]
    q = tail_quantile(len(commits))
    in_b = sum(r.in_bytes for r in records)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (typical(by_kind(records, lambda r: r.commit_s)), "s"),
        "ops_per_s": (len(records) / elapsed, "1/s"),
        "write_amp": (sum(r.written_b for r in records) / max(in_b, 1), "ratio"),
        "peak_rss_mb": (peak_rss_b / 2**20, "MB"),
    }
    # A run holds too few ops for a tail above the median to have ten
    # samples beyond it, so the tail is recorded, not gated.  The reads
    # are inside ops_per_s.
    samples = {
        "ops": len(records), "op_tail_s": quantile(commits, q),
        "tail_percentile": round(100 * q, 1),
        "read_p50_s": typical(by_kind(records, lambda r: r.read_s)),
        "input_bytes": in_b,
    }
    return metrics, samples
