"""Turns one worker run into the benchmark's metrics.

End-to-end metrics come from untraced passes; per-layer metrics from
the spans of traced passes, each reported per pass (median over the
traced passes) so runs of different length compare.
"""

from __future__ import annotations

import statistics
from typing import NamedTuple

from spans import layer_of, self_time_by_layer, self_times
from workloads import TIMED_PASSES, family_of

#: name -> unit; the `end_to_end` list of BENCHMARK.json
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "ok_rate": "ratio",
}

LAKEHOUSE_CALLS = ("table_init", "merge", "append", "optimize", "checkpoint_log", "vacuum",
                   "read")
EXEC_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")
LAYERS = ("op", "build", "plan", "exec", "lakehouse", "stream")

#: name -> unit; the `per_layer` list of BENCHMARK.json
PER_LAYER = {
    "mem.peak_rss_mb": "MB", "session.start_s": "s", "registry.import_s": "s",
    "build.s": "s", "build.jobs": "count", "build.share": "ratio",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.s": "s", **{f"exec.{c}": "count" for c in EXEC_COUNTS},
    "exec.input_mb": "MB", "exec.input_rows": "count",
    "exec.rows_in_per_row_out": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.wait_s": "s", "exec.core_util": "ratio",
    **{f"lakehouse.{c}_s": "s" for c in LAKEHOUSE_CALLS},
    "lakehouse.jobs": "count", "lakehouse.versions": "count",
    "lakehouse.files_written": "count", "lakehouse.bytes_written_mb": "MB",
    "lakehouse.rewrite_ratio": "ratio", "lakehouse.conflicts": "count",
    "lakehouse.write_amp": "ratio",
    "stream.batches": "count", "stream.batch_ms_p50": "ms",
    "stream.input_rows": "count", "stream.state_rows": "count", "stream.state_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "cpu.pass_s": "s",
    "trace.pass_s": "s", "trace.overhead": "ratio",
}

_MB = 1024.0 * 1024.0


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile of `values` that still has at least ten
    samples beyond it: (value, percentile). Needs 11 samples."""
    if len(values) < 11:
        raise ValueError(f"op_tail_s needs at least 11 op samples, got {len(values)}")
    n = len(values)
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def op_medians(records: list[dict]) -> dict[str, float]:
    """Median wall time per op name over the timed passes."""
    walls: dict[str, list[float]] = {}
    for r in records:
        if r["pass"] >= 1:
            walls.setdefault(r["op"], []).append(r["wall"])
    return {op: statistics.median(w) for op, w in sorted(walls.items())}


def failures(records: list[dict], expected: dict[str, str]) -> list[dict]:
    """Ops that raised or whose output hash differs from its oracle."""
    bad = []
    for r in records:
        if not r["ok"]:
            bad.append({"pass": r["pass"], "op": r["op"], "why": r.get("error", "")})
        elif r.get("check") is not None and r.get("hash") != expected.get(r["check"]):
            bad.append({"pass": r["pass"], "op": r["op"],
                        "why": f"hash {r.get('hash')} != oracle {expected.get(r['check'])}"})
    return bad


class Interval(NamedTuple):
    """A timed interval: its wall seconds, and the host's busy and stolen
    CPU seconds (over all CPUs) during it."""

    wall: float
    busy: float
    steal: float


def steal_share(busy: float, steal: float) -> float:
    """Share of the CPU time the host's processes asked for that the
    hypervisor gave to other tenants instead."""
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def uncontended(wall: float, share: float) -> float:
    """`wall` seconds measured while the hypervisor stole `share` of the
    CPU time, estimated for a host with no steal. Two factors of
    (1 - share): the stolen time itself, and the CPU that was delivered
    running slower by about as much, because the same neighbours share
    the physical cores' caches and memory bandwidth (measured: the
    process tree's CPU seconds per pass rise with the steal share)."""
    return wall * (1.0 - share) ** 2


def pass_steal(records: list[dict]) -> dict[int, float]:
    """Steal share of each pass, over the host CPU time of its ops."""
    sums: dict[int, list[float]] = {}
    for r in records:
        acc = sums.setdefault(r["pass"], [0.0, 0.0])
        acc[0] += r.get("host_busy", 0.0)  # a failed op has no reading
        acc[1] += r.get("host_steal", 0.0)
    return {p: steal_share(b, st) for p, (b, st) in sums.items()}


def end_to_end(result: dict, setup: Interval, n_failed: int) -> tuple[dict, dict]:
    """(metrics, detail) of one untraced run. Timings cover the first
    TIMED_PASSES timed passes only, so every commit is measured at the
    same point of the warm-up; passes a faster program fits into
    `--seconds` beyond those only reach the detail line. Every time is
    `uncontended`: an op's wall time is corrected by the steal share of
    its pass, set-up by the steal share during set-up. `pass_s` is the
    sum over the pass's ops of each op's median: one warm pass in which
    no op met a disturbed moment. The detail line adds the raw times,
    the op-time tail, the process tree's CPU seconds per pass and the
    steal shares."""
    timed = [r for r in result["records"] if 1 <= r["pass"] <= TIMED_PASSES]
    share = pass_steal(timed)
    fixed = [{**r, "wall": uncontended(r["wall"], share[r["pass"]])} for r in timed]
    op_walls = [r["wall"] for r in fixed]
    tail_value, tail_pct = tail(op_walls)
    setup_share = steal_share(setup.busy, setup.steal)
    attempted = len(result["records"])
    values = {
        "setup_s": uncontended(setup.wall, setup_share),
        "pass_s": sum(op_medians(fixed).values()),
        "op_p50_s": statistics.median(op_walls),
        "ok_rate": 1.0 - n_failed / attempted,
    }
    detail = {"samples": {"setup_s": 1, "pass_s": TIMED_PASSES, "op_p50_s": len(op_walls),
                          "ok_rate": attempted},
              "raw": {"setup_s": round(setup.wall, 3),
                      "pass_s": round(sum(op_medians(timed).values()), 3),
                      "op_p50_s": round(statistics.median(r["wall"] for r in timed), 4)},
              "steal_share": {"setup": round(setup_share, 4),
                              **{f"pass{p}": round(v, 4) for p, v in sorted(share.items())}},
              "op_tail_s": round(tail_value, 4), "op_tail_percentile": round(tail_pct, 2),
              "cpu_pass_s": round(_cpu_per_pass([r for r in timed if "cpu" in r]), 3)}
    return values, detail


def _cpu_per_pass(records: list[dict]) -> float:
    """Process-tree CPU seconds of one pass: per op the median over the
    given records, summed over ops."""
    cpu: dict[str, list[float]] = {}
    for r in records:
        cpu.setdefault(r["op"], []).append(r["cpu"])
    return sum(statistics.median(v) for v in cpu.values())


def _per_pass(spans: list[dict], records: list[dict], batches: list[dict],
              lakehouse: dict | None, cores: int) -> dict:
    """Per-layer metrics of one traced pass."""
    m = {k: 0.0 for k in PER_LAYER}
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    ex = {k: 0 for k in ("input_bytes", "input_rows", "output_rows", "shuffle_write_bytes",
                         "shuffle_read_bytes", "spill_bytes", "run_ms", "cpu_ns",
                         *EXEC_COUNTS)}
    query_op_s = 0.0
    parents_with_build = {s["parent"] for s in spans if s["name"] == "build"}
    changed = rewritten = 0
    for s in spans:
        name, c = s["name"], s["counts"]
        if name == "op" and s["id"] in parents_with_build:
            query_op_s += dur[s["id"]]
        elif name == "build":
            m["build.s"] += dur[s["id"]]
            m["build.jobs"] += c.get("jobs", 0)
        elif name == "plan":
            for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                m[f"plan.{k}"] += c.get(k, 0)
        elif name == "exec":
            m["exec.s"] += dur[s["id"]]
            for k in ex:
                ex[k] += c.get(k, 0)
        elif name.startswith("lakehouse."):
            m[f"{name}_s"] += dur[s["id"]]
            m["lakehouse.jobs"] += c.get("jobs", 0)
            if name == "lakehouse.merge":
                changed += c.get("changed_rows", 0)
                rewritten += c.get("rows_written", 0)
        elif name == "stream.drain":
            m["lakehouse.jobs"] += c.get("jobs", 0)
    m["build.share"] = m["build.s"] / query_op_s if query_op_s else 0.0
    for k in EXEC_COUNTS:
        m[f"exec.{k}"] = ex[k]
    m["exec.input_mb"] = ex["input_bytes"] / _MB
    m["exec.input_rows"] = ex["input_rows"]
    m["exec.rows_in_per_row_out"] = ex["input_rows"] / max(1, ex["output_rows"])
    m["exec.shuffle_write_mb"] = ex["shuffle_write_bytes"] / _MB
    m["exec.shuffle_read_mb"] = ex["shuffle_read_bytes"] / _MB
    m["exec.spill_mb"] = ex["spill_bytes"] / _MB
    m["exec.run_s"] = ex["run_ms"] / 1e3
    m["exec.cpu_s"] = ex["cpu_ns"] / 1e9
    m["exec.wait_s"] = m["exec.run_s"] - m["exec.cpu_s"]
    m["exec.core_util"] = m["exec.run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    if lakehouse:
        m["lakehouse.versions"] = lakehouse["versions"]
        m["lakehouse.files_written"] = lakehouse["files_written"]
        m["lakehouse.bytes_written_mb"] = lakehouse["bytes_written"] / _MB
        m["lakehouse.write_amp"] = lakehouse["bytes_written"] / lakehouse["submitted_bytes"]
    m["lakehouse.rewrite_ratio"] = rewritten / changed if changed else 0.0
    m["lakehouse.conflicts"] = sum(
        1 for r in records if not r["ok"] and "CommitConflictError" in r.get("error", ""))
    m["stream.batches"] = len(batches)
    if batches:
        m["stream.batch_ms_p50"] = statistics.median(b["batch_ms"] for b in batches)
        m["stream.input_rows"] = sum(b["input_rows"] for b in batches)
        m["stream.state_rows"] = max(b["state_rows"] for b in batches)
        m["stream.state_mb"] = max(b["state_bytes"] for b in batches) / _MB
    for layer, secs in self_time_by_layer(spans).items():
        m[f"self.{layer}_s"] = secs
    return m


def self_by_family(result: dict) -> dict[str, dict[str, float]]:
    """Self time per op family and layer, per traced pass (median over
    the traced passes): where each family's time goes."""
    traced = [p["pass"] for p in result["passes"] if p["traced"]]
    per_pass = []
    for i in traced:
        spans = [s for s in result["spans"] if s["pass_idx"] == i]
        st = self_times(spans)
        split: dict[str, dict[str, float]] = {}
        for s in spans:
            fam = split.setdefault(family_of(s["op"]), {})
            layer = layer_of(s["name"])
            fam[layer] = fam.get(layer, 0.0) + st[s["id"]]
        per_pass.append(split)
    out: dict[str, dict[str, float]] = {}
    for fam in sorted({f for split in per_pass for f in split}):
        layers = sorted({k for split in per_pass for k in split.get(fam, {})})
        out[fam] = {k: round(statistics.median(split.get(fam, {}).get(k, 0.0)
                                               for split in per_pass), 4)
                    for k in layers}
    return out


def per_layer(result: dict, cores: int, peak_rss_mb: float) -> dict:
    """Per-layer metrics of one traced run: the median over its traced
    passes of each per-pass value, plus the run's peak resident memory
    (JVM, Python driver and Python workers)."""
    traced = [p for p in result["passes"] if p["traced"]]
    walls = {p["pass"]: p["wall"] for p in result["passes"]}
    spans_by_pass: dict[int, list[dict]] = {}
    for s in result["spans"]:
        spans_by_pass.setdefault(s["pass_idx"], []).append(s)
    per_pass = []
    for p in traced:
        i = p["pass"]
        lake = next((x for x in result["lakehouse"] if x["pass"] == i), None)
        per_pass.append(_per_pass(
            spans_by_pass.get(i, []), [r for r in result["records"] if r["pass"] == i],
            [b for b in result["stream_batches"] if b["pass"] == i], lake, cores))
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in PER_LAYER}
    out["cpu.pass_s"] = _cpu_per_pass(
        [r for r in result["records"] if r["pass"] in {p["pass"] for p in traced} and "cpu" in r])
    out["mem.peak_rss_mb"] = peak_rss_mb
    out["session.start_s"] = result["session_start_s"]
    out["registry.import_s"] = result["registry_import_s"]
    trace_pass = statistics.median(p["wall"] for p in traced)
    out["trace.pass_s"] = trace_pass
    # each traced pass against the mean of the untraced passes around it,
    # so a pass-to-pass warm-up trend does not read as tracing cost
    ratios = [2.0 * p["wall"] / (walls[p["pass"] - 1] + walls[p["pass"] + 1])
              for p in traced if p["pass"] - 1 in walls and p["pass"] + 1 in walls]
    out["trace.overhead"] = statistics.median(ratios) - 1.0 if ratios else 0.0
    return out
