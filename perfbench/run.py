"""spark-graft benchmark: one closed-loop workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client (this process) issues one
operation at a time with no think time, against the engine in a fresh
worker process on local[min(2, nproc)]. Inputs are generated from `--seed`
(cached under `.perfbench_cache/`); the engine only ever sees the
generated input directory. Outputs are checked against DuckDB oracles
outside the timed region. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`); the line
before it carries sample counts, the tail percentile, failures and the
host-contention record.

Workloads: see BENCHMARK.json and workloads.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from procfs import host_cpu_s, proc_stat_cpu, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: the whole run, worker included, must end well inside 180 s
RUN_DEADLINE_S = 170.0
#: task slots of the engine (local[N]): at most two, so the engine's
#: tasks, its JIT and GC threads and the Python workers are not
#: oversubscribed on a small shared host, and the figures do not depend
#: on the host's core count
MAX_CORES = 2
#: driver JVM heap; the inputs are a few MB
DRIVER_MEM = "2g"
#: CPUs the JVM sizes its JIT and GC thread pools for, and the Arrow
#: and BLAS pools of the Python processes; capped so a larger host
#: does not run more threads than a small one
MAX_POOL_CPUS = 4


def cpu_count() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def pool_cpus() -> int:
    return min(MAX_POOL_CPUS, len(os.sched_getaffinity(0)))


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _busy_and_steal(cpu0: list[int], cpu1: list[int]) -> tuple[float, float]:
    """Busy and stolen shares of all CPU time between two samples."""
    delta = [b - a for a, b in zip(cpu0, cpu1)][:8]
    total = sum(delta) or 1
    idle = delta[3] + delta[4]  # idle + iowait
    return 1.0 - idle / total, delta[7] / total


class Contention:
    """nproc, load1 at start and end, the host's busy share just before
    the run starts (a short /proc/stat probe; load1 still carries the
    previous run), and the CPU-steal share over the run. A run is
    flagged contended when other work kept the host busy before it
    started, or the hypervisor stole CPU during it."""

    PROBE_S = 0.25

    def __init__(self) -> None:
        self.nproc = os.cpu_count() or 1
        self.load1_start = _load1()
        probe = proc_stat_cpu()
        time.sleep(self.PROBE_S)
        self._cpu0 = proc_stat_cpu()
        self.busy_before, _ = _busy_and_steal(probe, self._cpu0)

    def record(self) -> dict:
        _, steal = _busy_and_steal(self._cpu0, proc_stat_cpu())
        return {"nproc": self.nproc, "load1_start": self.load1_start,
                "load1_end": _load1(), "busy_before": round(self.busy_before, 4),
                "steal_share": round(steal, 4),
                "contended": self.busy_before > 0.25 or steal > 0.02}


class PeakRss(threading.Thread):
    """Samples the resident memory of a process tree from /proc."""

    PERIOD_S = 0.5

    def __init__(self, root: int) -> None:
        super().__init__(daemon=True)
        self.root, self.peak, self._halt = root, 0, threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(self.PERIOD_S):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _kill_tree(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (its JVM and Python
    workers included) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10.0
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def load_oracles(ops: list[str]) -> dict[str, str]:
    from bigdata06_spark.queries import load_all_queries

    registry = load_all_queries()
    missing = [op for op in ops if registry[op].oracle is None]
    if missing:
        raise ValueError(f"ops without an oracle cannot be checked: {missing}")
    return {op: registry[op].oracle for op in ops}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bigdata06_spark", "__init__.py")):
        print(f"perfbench: no bigdata06_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.append(ROOT)
    import check
    import gen
    import metrics
    from workloads import JOURNEY_WORKLOADS, WORKLOADS, query_ops

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {WORKLOADS}",
              file=sys.stderr)
        return 2
    contention = Contention()
    tag = f"seed{args.seed}"
    input_dir = gen.make_inputs(os.path.join(CACHE, "inputs", tag), args.seed)
    sql = check.checked_sql(load_oracles(query_ops(args.workload)),
                            args.workload in JOURNEY_WORKLOADS)
    expected = check.cached_expected(input_dir, args.workload, sql)

    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.makedirs(os.path.join(run_dir, "work"))
    cores = cpu_count()
    env = dict(os.environ)
    env.update({
        # sized at session build (input_scaled_partitions), so set first
        "SPARK_GRAFT_SF_DIR": input_dir,
        # the lakehouse DataSource's Python workers import the package
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        # registry tables and stream checkpoints cache under gettempdir()
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "OMP_NUM_THREADS": str(pool_cpus()),
        # str hashes, and so set and dict orders the engine may build
        # plans from, are the same in every run
        "PYTHONHASHSEED": "0",
    })
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--input", input_dir, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", os.path.join(run_dir, "work"), "--out", out_path]
    t_start = time.monotonic()
    with open(log_path, "w") as log:
        t_spawn, host_spawn = time.time(), host_cpu_s()
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, cwd=ROOT)
        rss = PeakRss(proc.pid)
        rss.start()
        try:
            proc.wait(timeout=max(10.0, RUN_DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker exceeded the run deadline", file=sys.stderr)
        finally:
            rss.stop()
            _kill_tree(proc)
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(out_path) as f:
        result = json.load(f)

    bad = metrics.failures(result["records"], expected)
    attempted = len(result["records"])
    if args.trace:
        values = metrics.per_layer(result, cores, rss.peak / 2**20)
        units, stats = metrics.PER_LAYER, {"self_s_by_family": metrics.self_by_family(result)}
    else:
        setup = metrics.Interval(result["t_first_pass"] - t_spawn,
                                 *(b - a for a, b in zip(host_spawn, result["host_first_pass"])))
        values, stats = metrics.end_to_end(result, setup, len(bad))
        units = metrics.END_TO_END
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, **stats,
              "pass_walls": [round(p["wall"], 3) for p in result["passes"]],
              "op_median_s": {k: round(v, 3)
                              for k, v in metrics.op_medians(result["records"]).items()},
              "warmup_op_s": {r["op"]: round(r["wall"], 3)
                              for r in result["records"] if r["pass"] == 0},
              "session_start_s": round(result["session_start_s"], 3),
              "failures": bad[:20], "contention": contention.record()}
    print(json.dumps({"detail": detail}))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
