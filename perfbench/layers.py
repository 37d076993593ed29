"""Per-layer metrics of a traced run.

Every figure is a mean per op of the layer, taken from the spans the
tracer recorded around calls into each module and from Spark's status
store read right after each op.  A layer the workload never reaches
reports 0.  Layers are named after the engine's modules.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

MB = 2**20
CALL_LAYERS = ["compare", "mask", "pattern", "stats", "joins", "temporal"]
LLMOPS = ["dedup", "textstats", "sketches"]
COMMIT_LAYERS = ["ivm"]
SPARK_SUMS = {
    "spark.jobs_per_op": ("jobs", 1),
    "spark.stages_per_op": ("stages", 1),
    "spark.tasks_per_op": ("tasks", 1),
    "spark.task_s": ("task_s", 1),
    "spark.task_cpu_s": ("task_cpu_s", 1),
    "spark.shuffle_read_mb": ("shuffle_read_b", MB),
    "spark.shuffle_write_mb": ("shuffle_write_b", MB),
    "spark.spill_mb": ("spill_b", MB),
    "spark.cached_mb": ("cached_b", MB),
}


def names() -> list[str]:
    """Every per-layer metric, in report order (the BENCHMARK.json list)."""
    out = ["session.start_s", "session.warm_s", *SPARK_SUMS,
           "spark.driver_gap_s", "spark.slot_busy_frac", "spark.ops_missing",
           "io.call_s", "io.bytes_read", "io.bytes_written", "io.files_written"]
    for m in CALL_LAYERS:
        out += [f"{m}.build_s", f"{m}.exec_s", f"{m}.jobs"]
    out += ["schema.build_s", "schema.jobs",
            "graph.exec_s", "graph.jobs", "graph.jobs_per_round"]
    for m in LLMOPS:
        out += [f"{m}.build_s", f"{m}.exec_s", f"{m}.jobs", f"{m}.shuffle_mb"]
    for m in COMMIT_LAYERS:
        out += [f"{m}.commit_s", f"{m}.jobs_per_commit", f"{m}.bytes_written",
                f"{m}.files_written"]
    out += ["scale.release_s", "scale.optimize_s", "scale.bytes_rewritten",
            "scale.files_before", "scale.files_after", "state.space_amp",
            "trace.overhead_s", "trace.record_s", "trace.spans_per_op"]
    return out


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if ".bytes_" in name:
        return "B"
    if name.endswith(("_frac", "_amp")):
        return "ratio"
    return "count"


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def compute(records, spans, slots: int, base: dict, notes: dict, walls: dict,
            ops_per_round: float, record_s: float) -> dict[str, float]:
    """``records``: every timed op; ``spans``: self-costed spans of the
    traced rounds; ``base``: session figures; ``notes``: per-layer
    samples a workload recorded itself (lists, averaged here);
    ``record_s``: time the tracer spent recording.

    Spark figures are per unit of work: an op's commit and the read
    after it are separate units, each with its own wall time."""
    traced = [r for r in records if r.traced]
    units = [(r.layer, r.commit_s, r.spark) for r in traced] + [
        (r.read_layer, r.read_s, r.read_spark) for r in traced]
    full = [(layer, wall, sp) for layer, wall, sp in units if not sp.get("missing")]
    out = dict.fromkeys(names(), 0.0)
    out.update(base)

    out["spark.ops_missing"] = len(units) - len(full)
    for metric, (key, scale) in SPARK_SUMS.items():
        out[metric] = _mean(sp[key] / scale for _, _, sp in full)
    out["spark.jobs_per_op"] = _mean(sp["jobs"] for _, _, sp in units)
    out["spark.driver_gap_s"] = _mean(wall - sp["task_s"] / slots for _, wall, sp in full)
    busy = sum(wall for _, wall, _ in full) * slots
    if busy:
        out["spark.slot_busy_frac"] = sum(sp["task_s"] for _, _, sp in full) / busy

    touched = defaultdict(set)       # layer -> op ids with a span in it
    self_s = defaultdict(float)      # (layer, kind) -> seconds
    self_jobs = defaultdict(int)     # layer -> jobs
    for s in spans:
        if s["kind"] == "op":
            continue
        touched[s["layer"]].add(s["op"])
        self_s[(s["layer"], s["kind"])] += s["self_s"]
        self_jobs[s["layer"]] += s["self_jobs"]

    def per_op(layer: str, total: float) -> float:
        n = len(touched[layer])
        return total / n if n else 0.0

    for m in CALL_LAYERS + LLMOPS + ["schema", "graph"]:
        out[f"{m}.build_s"] = per_op(m, self_s[(m, "call")])
        out[f"{m}.exec_s"] = _mean(
            s["self_s"] for s in spans if s["layer"] == m and s["kind"] == "exec")
        out[f"{m}.jobs"] = per_op(m, self_jobs[m])
    for m in LLMOPS:
        out[f"{m}.shuffle_mb"] = _mean(
            (sp["shuffle_read_b"] + sp["shuffle_write_b"]) / MB
            for layer, _, sp in full if layer == m)
    rounds = notes.get("graph.rounds", [])
    if rounds:
        out["graph.jobs_per_round"] = out["graph.jobs"] / _mean(rounds)

    io_ops = [r for r in traced if r.layer == "io"]
    out["io.call_s"] = per_op("io", self_s[("io", "call")] + self_s[("io", "exec")])
    out["io.bytes_read"] = _mean(r.in_bytes for r in io_ops)
    out["io.bytes_written"] = _mean(r.written_b for r in io_ops)
    out["io.files_written"] = _mean(r.written_files for r in io_ops)

    for m in COMMIT_LAYERS:
        ops = [r for r in traced if r.layer == m]
        out[f"{m}.commit_s"] = _mean(r.commit_s for r in ops)
        out[f"{m}.jobs_per_commit"] = _mean(r.spark["jobs"] for r in ops)
        out[f"{m}.bytes_written"] = _mean(r.written_b for r in ops)
        out[f"{m}.files_written"] = _mean(r.written_files for r in ops)

    out["scale.release_s"] = _mean(
        s["end"] - s["start"] for s in spans if s["kind"] == "release")
    out["scale.optimize_s"] = _mean(r.commit_s for r in traced if r.layer == "scale")
    for k in ("scale.bytes_rewritten", "scale.files_before", "scale.files_after",
              "state.space_amp"):
        out[k] = _mean(notes.get(k, []))

    untraced, traced_w = walls[False], walls[True]
    if untraced and traced_w and ops_per_round:
        out["trace.overhead_s"] = (_mean(traced_w) - _mean(untraced)) / ops_per_round
    if traced:
        out["trace.record_s"] = record_s / len(traced)
        out["trace.spans_per_op"] = len(spans) / len(traced)
    return {k: out[k] for k in names()}
