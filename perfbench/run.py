"""Benchmark entry point.

    python3 perfbench/run.py --workload tools --seed 1 --seconds 30 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed``, starts Spark with a hermetic environment (pinned cores, a
1g driver heap, a fresh per-run temp directory, the repo on PYTHONPATH,
one BLAS/OMP thread per worker), sets up, measures whole rounds of ops for
``--seconds``, checks the outputs, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it carries the full record: sample
counts, per-op-kind latencies, the environment settings and the host's
CPU steal and load.  Spans and per-op Spark counters are written to
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

import harness
import layers
from probe import RssSampler, descendants, host_delta, host_snapshot

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tools", "lifecycle")
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS", "ARROW_IO_THREADS")


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(x.split()[1]) for x in fh if x.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def usable_cpus() -> int:
    n = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as fh:
            quota, period = fh.read().split()
        if quota != "max":
            n = min(n, max(1, math.ceil(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return n


def hermetic_env(run_dir: str, trace: bool) -> tuple[dict, dict]:
    """Set the process environment before Spark starts; returns the
    settings (for the record) and the extra Spark conf."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(usable_cpus()),
        # Under the engine's 8g default, G1 grows the heap as far as it
        # likes: peak RSS then varies 2.5-3.9 GB between runs of the same
        # code.  Inputs are sf0.01; a 1g heap holds them with room and
        # gives the same latencies, and peak RSS steadies.
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        # pandas-UDF workers import the engine by name from any cwd
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        **{v: "1" for v in BLAS_VARS},
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        # keep every job and stage of the run in the status store, so no
        # op's stage figures are evicted before they are read
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return env, conf


def stop_spark() -> None:
    """Stop the session, the JVM and every process it started, and wait
    for each to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main() -> int:
    proc_start = process_start_time()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="data__converter_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "data__converter_spark")):
        print(f"engine package not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    records_dir = os.path.join(work, "records")
    os.makedirs(records_dir, exist_ok=True)
    settings, conf = hermetic_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    wl = importlib.import_module(f"wl_{args.workload}")
    try:
        ctx = harness.Context(run_dir, args.seed, conf)
        t = time.time()
        wl.prepare(ctx)
        gen_s = time.time() - t
        host0 = host_snapshot()
        with RssSampler() as rss:
            runner = harness.Runner(wl, ctx, bool(args.trace))
            setup_s = runner.setup(proc_start, gen_s)
            window = runner.run(args.seconds)
        host1 = host_snapshot()
        t = time.time()
        bad = wl.check(ctx)
        check_s = time.time() - t
        result, detail = report(args, runner, window, bad, setup_s, rss.peak, records_dir)
        detail.update(gen_s=round(gen_s, 3), check_s=round(check_s, 3),
                      rss_at_peak_mb=rss.at_peak,
                      settings=settings, spark_conf=conf, host=host_delta(host0, host1))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["total_s"] = round(time.time() - proc_start, 2)
    print("perfbench record: " + json.dumps(detail, separators=(",", ":")))
    print(json.dumps(result))
    return 0


def report(args, runner, window, bad, setup_s, peak_rss, records_dir):
    """The result line and the full record of one run."""
    records = runner.records
    bad = {**runner.bad, **bad}
    failed = len(bad) + len(runner.failures)
    attempted = len(records) + len(runner.failures)
    e2e, samples = harness.end_to_end(records, window["elapsed_s"], setup_s, peak_rss)
    commit_s, read_s = {}, {}
    for r in records:
        commit_s.setdefault(r.name, []).append(round(r.commit_s, 4))
        read_s.setdefault(r.name, []).append(round(r.read_s, 4))
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rounds": window["rounds"],
        "elapsed_s": round(window["elapsed_s"], 3), "samples": samples,
        "fail_frac": failed / max(attempted, 1),
        "failures": {
            **{f"{records[i].name}#{i}": why for i, why in sorted(bad.items())},
            **{f["name"]: f["error"] for f in runner.failures}},
        "commit_s": commit_s, "read_s": read_s,
        "warm_round_s": round(runner.layer["session.warm_s"], 3),
        "untimed_s": round(window["untimed_s"], 3),
        "end_to_end": {k: v[0] for k, v in e2e.items()},
    }
    if args.trace:
        spans = runner.tracer.self_costs()
        per_layer = layers.compute(
            records, spans, runner.counters.slots, runner.layer,
            getattr(runner.ctx, "notes", {}), window["walls"],
            len(records) / max(window["rounds"], 1), runner.tracer.cost_s)
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
        with open(os.path.join(records_dir, f"{args.workload}-seed{args.seed}.json"),
                  "w") as fh:
            json.dump({
                "ops": [{"name": r.name, "round": r.round, "traced": r.traced,
                         "commit_s": r.commit_s, "read_s": r.read_s,
                         "spark": r.spark, "read_spark": r.read_spark}
                        for r in records],
                "spans": spans, "per_layer": per_layer,
            }, fh)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
