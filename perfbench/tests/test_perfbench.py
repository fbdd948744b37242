"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take about a minute per workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from spans import self_time_by_layer, self_times  # noqa: E402
from workloads import QUERY_WORKLOADS, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _table(d: str, name: str):
    """All rows of a generated table, in a canonical row order."""
    t = pq.read_table(os.path.join(d, f"{name}.parquet"))
    return t.sort_by([(c, "ascending") for c in t.column_names
                      if not str(t.schema.field(c).type).startswith("list")])


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.make_inputs(str(tmp_path / "a"), seed=7)
    b = gen.make_inputs(str(tmp_path / "b"), seed=7)
    assert tree_digest(a) == tree_digest(b)


def test_other_seed_changes_layout_not_rows_or_oracles(tmp_path):
    from run import load_oracles

    a = gen.make_inputs(str(tmp_path / "a"), seed=7)
    b = gen.make_inputs(str(tmp_path / "b"), seed=8)
    assert tree_digest(a) != tree_digest(b)
    for name in ("orders", "lineitem", "documents"):
        assert _table(a, name).equals(_table(b, name)), name
    oracles = load_oracles(QUERY_WORKLOADS["query_mix"])
    assert check.expected_hashes(a, oracles) == check.expected_hashes(b, oracles)


def test_generated_rows_are_the_source_tables(tmp_path):
    d = gen.make_inputs(str(tmp_path / "a"), seed=5)
    for name in ("events", "orders"):
        src = pq.read_table(os.path.join(gen.DATA_DIR, f"{name}.parquet"))
        got = _table(d, name)
        assert got.schema.equals(src.schema, check_metadata=False), name
        assert got.equals(src.sort_by([(c, "ascending") for c in src.column_names])), name


def test_inputs_are_cached(tmp_path):
    d = gen.make_inputs(str(tmp_path / "a"), seed=3)
    stamp = os.stat(os.path.join(d, "MANIFEST.json")).st_mtime_ns
    gen.make_inputs(d, seed=3)
    assert os.stat(os.path.join(d, "MANIFEST.json")).st_mtime_ns == stamp


def test_canon_hash_ignores_order_and_int_width_not_int_vs_float():
    import pandas as pd

    x = pd.DataFrame({"k": [2, 1], "v": [1.5, 3.0]})
    y = pd.DataFrame({"v": [3.0, 1.5], "k": pd.array([1, 2], dtype="int32")})
    assert check.canon_hash(x) == check.canon_hash(y)
    assert check.canon_hash(x) != check.canon_hash(x.assign(v=[1.5, 3.5]))
    # the engine's oracle tests reject an int column against a float one
    assert check.canon_hash(x) != check.canon_hash(x.assign(k=[2.0, 1.0]))


def test_oracle_cache_is_keyed_on_the_sql(tmp_path):
    d = gen.make_inputs(str(tmp_path / "a"), seed=3)
    one = {"q": "SELECT count(*) AS n FROM orders"}
    two = {"q": "SELECT count(*) + 1 AS n FROM orders"}
    first = check.cached_expected(d, "w", one)
    assert check.cached_expected(d, "w", two) != first
    assert check.cached_expected(d, "w", one) == first
    assert check.cache_key(check.checked_sql(one, journey=True)) != check.cache_key(one)


def _span(i, name, parent, start, end, op="o", pass_idx=1):
    return {"id": i, "name": name, "parent": parent, "op": op, "start": start,
            "end": end, "pass_idx": pass_idx, "counts": {}}


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "build", 0, 1.0, 4.0),
        _span(2, "exec", 0, 4.0, 9.0),
        _span(3, "lakehouse.merge", 2, 5.0, 6.5),
        _span(4, "op", None, 10.0, 12.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 3.0, 2: 3.5, 3: 1.5, 4: 2.0})
    assert self_time_by_layer(spans) == pytest.approx(
        {"op": 4.0, "build": 3.0, "exec": 3.5, "lakehouse": 1.5})


def test_end_to_end_times_only_the_first_timed_passes():
    n = metrics.TIMED_PASSES
    passes = [{"pass": p, "wall": 10.0 - p, "traced": False} for p in range(1, n + 3)]
    # op i takes i + 1 s in the timed passes, with one disturbed pass each;
    # the warm-up pass and the passes after the first n are much slower or
    # faster and must not count
    records = [{"pass": p, "op": f"o{i}", "ok": True,
                "wall": (i + 1.0) * (3.0 if p == 1 else 1.0) if 1 <= p <= n else 0.1 + 9 * (p == 0)}
               for p in range(n + 3) for i in range(4)]
    values, detail = metrics.end_to_end({"passes": passes, "records": records},
                                        metrics.Interval(5.0, 1.0, 0.0), n_failed=0)
    assert values["setup_s"] == 5.0
    assert values["pass_s"] == pytest.approx(1.0 + 2.0 + 3.0 + 4.0)
    op_walls = sorted(r["wall"] for r in records if 1 <= r["pass"] <= n)
    assert values["op_p50_s"] == statistics.median(op_walls)
    assert detail["op_tail_s"] == round(metrics.tail(op_walls)[0], 4)
    assert detail["samples"]["op_p50_s"] == 4 * n


def test_times_are_corrected_by_the_steal_share_of_their_pass():
    n = metrics.TIMED_PASSES
    # every op takes 1 s wall; in pass 2 the hypervisor stole 20% of the
    # CPU time, which made its ops take 1 / 0.8**2 s instead
    records = [{"pass": p, "op": f"o{i}", "ok": True, "cpu": 1.0,
                "wall": 1.0 / 0.64 if p == 2 else 1.0,
                "host_busy": 0.8 if p == 2 else 1.0, "host_steal": 0.2 if p == 2 else 0.0}
               for p in range(n + 1) for i in range(3)]
    values, detail = metrics.end_to_end({"passes": [], "records": records},
                                        metrics.Interval(10.0, 3.0, 1.0), n_failed=0)
    assert values["setup_s"] == pytest.approx(10.0 * 0.75 ** 2)
    assert values["pass_s"] == pytest.approx(3.0)
    assert values["op_p50_s"] == pytest.approx(1.0)
    assert detail["steal_share"]["pass2"] == pytest.approx(0.2)
    assert detail["raw"]["setup_s"] == 10.0


def test_trace_overhead_compares_with_neighbouring_passes():
    # a steady warm-up trend (1.2, 1.1, 1.0, ...) with the traced pass on
    # the trend line is no overhead; +10% over its neighbours is 0.1
    passes = [{"pass": 1, "wall": 1.2, "traced": False},
              {"pass": 2, "wall": 1.1, "traced": True},
              {"pass": 3, "wall": 1.0, "traced": False},
              {"pass": 4, "wall": 1.045, "traced": True},
              {"pass": 5, "wall": 0.9, "traced": False}]
    result = {"passes": passes, "spans": [], "records": [], "stream_batches": [],
              "lakehouse": [], "session_start_s": 1.0, "registry_import_s": 0.1}
    out = metrics.per_layer(result, cores=4, peak_rss_mb=1.0)
    assert out["trace.overhead"] == pytest.approx(0.05)  # median of 0.0 and 0.1
    assert out["trace.pass_s"] == pytest.approx((1.1 + 1.045) / 2)


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(v) for v in range(40, 0, -1)]
    value, pct = metrics.tail(values)
    assert value == 30.0 and sum(v > value for v in values) == 10
    assert pct == pytest.approx(75.0)
    with pytest.raises(ValueError):
        metrics.tail(values[:10])


def test_metric_tables_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert per_layer == metrics.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == WORKLOADS
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, *SPEC["command"][1:], "--workload", WORKLOADS[0],
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.mark.parametrize("workload,trace", [("query_mix", 0), ("lakehouse_write", 1)])
def test_smoke_pass_prints_every_metric_and_checks_outputs(workload, trace):
    out = subprocess.run([sys.executable, *SPEC["command"][1:], "--workload", workload,
                          "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
