"""Benchmark worker: one fresh process per run, started by `run.py`.

It starts the engine's session, imports the query registry, runs one
untimed warm-up pass of the workload, then timed passes until `--seconds`
have elapsed (at least TIMED_PASSES). Each op is timed from outside,
through the engine's public functions only. With `--trace 1`, even
passes record spans at the benchmark's boundaries (`op`, `build`,
`plan`, `exec`, `lakehouse.<call>`, `stream.drain`), and status-store,
Catalyst-phase and streaming-listener counts are attached to them after
the pass; odd passes run untraced, so the run measures its own tracing
overhead. Outputs are hashed after each op, outside its timed region;
`run.py` compares the hashes with the oracles. Everything is written
once, at the end, to `--out`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from py4j.protocol import Py4JJavaError

from check import canon_hash
from gen import MERGE_ROUNDS, op_order
from procfs import host_cpu_s, tree_cpu_s
from spans import Tracer
from workloads import QUERY_WORKLOADS, TIMED_PASSES

#: stop starting timed passes after this long, even short of
#: TIMED_PASSES, so a much slower program still ends inside the run limit
MAX_TIMED_S = 90.0
KEY = "o_orderkey"


class StatusStore:
    """Reads job/stage counters for one job group from Spark's
    in-process status store (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store (and the streaming listener) has seen the op's work."""
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def group(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict(jobs=len(jobs), stages=0, tasks=0, failed_tasks=0,
                 input_bytes=0, input_rows=0, shuffle_write_bytes=0,
                 shuffle_read_bytes=0, spill_bytes=0, run_ms=0, cpu_ns=0)
        store = self.jsc.statusStore()
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["input_bytes"] += sd.inputBytes()
            c["input_rows"] += sd.inputRecords()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["run_ms"] += sd.executorRunTime()
            c["cpu_ns"] += sd.executorCpuTime()
        return c


def catalyst_phases(qe) -> dict:
    """Catalyst phase durations (ms) from the QueryExecution tracker."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"{name}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def make_stream_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchRecorder(StreamingQueryListener):
        """Keeps one record per micro-batch progress event, tagged with
        the pass it arrived in."""

        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.current_pass = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            state = p.get("stateOperators") or []
            self.batches.append({
                "pass": self.current_pass,
                "batch_ms": (p.get("durationMs") or {}).get("triggerExecution", 0),
                "input_rows": p.get("numInputRows", 0),
                "state_rows": sum(s.get("numRowsTotal", 0) for s in state),
                "state_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchRecorder()


class Runner:
    """Runs ops of one workload and collects their records."""

    def __init__(self, spark, registry, input_dir: str, workdir: str) -> None:
        self.spark = spark
        self.registry = registry
        self.input_dir = input_dir
        self.workdir = workdir
        self.store = StatusStore(spark)
        self.records: list[dict] = []
        self.tracer = Tracer(False)
        #: (span, job group or None, QueryExecution or None) awaiting counts
        self.pending: list[tuple] = []
        #: seconds spent hashing outputs, kept out of the pass walls
        self.check_s = 0.0
        self.pid = os.getpid()

    def _cpu(self) -> tuple[float, float, float]:
        return (tree_cpu_s(self.pid), *host_cpu_s())

    def _cpu_delta(self, cpu0: tuple[float, float, float]) -> dict:
        """CPU seconds of this process tree during the op just timed, and
        the host's busy and stolen CPU seconds in the same interval."""
        cpu1 = self._cpu()
        return {k: b - a for k, a, b in zip(("cpu", "host_busy", "host_steal"), cpu0, cpu1)}

    def _group(self, gid: str) -> None:
        self.spark.sparkContext.setJobGroup(gid, gid)

    def _check(self, rec: dict, out) -> None:
        """Hash an op's output frame, or the frame a callable computes
        (its jobs run outside the op's job group)."""
        if self.tracer.enabled:
            self._group("pb.check")
        t0 = time.perf_counter()
        rec["hash"] = canon_hash(out() if callable(out) else out)
        self.check_s += time.perf_counter() - t0

    def _timed(self, pass_idx: int, op: str, call, check: str | None,
               span: str):
        """Time `call()` as one op and return its layer span (None when
        untraced). With `check`, `call` returns the output frame to
        hash, or a function that computes it outside the timed region;
        `span` names the layer child span."""
        rec = {"pass": pass_idx, "op": op, "ok": True, "check": check}
        gid = f"pb{pass_idx}.{op}"
        if self.tracer.enabled:
            self._group(gid)
        s = None
        cpu0 = self._cpu()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op):
                with self.tracer.span(span) as s:
                    out = call()
            rec["wall"] = time.perf_counter() - t0
            rec.update(self._cpu_delta(cpu0))
            if s is not None:
                self.pending.append((s, gid, None))
            if check is not None:
                self._check(rec, out)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            rec.update(ok=False, wall=time.perf_counter() - t0,
                       error="".join(traceback.format_exception_only(e)).strip()[-400:])
        self.records.append(rec)
        return s

    def query(self, pass_idx: int, name: str) -> None:
        """One query op: the registered builder, then `toPandas()`."""
        spec = self.registry[name]
        rec = {"pass": pass_idx, "op": name, "ok": True, "check": name}
        traced = self.tracer.enabled
        gid = f"pb{pass_idx}.{name}"
        cpu0 = self._cpu()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=name):
                if traced:
                    self._group(gid + ".build")
                with self.tracer.span("build") as s_build:
                    df = spec.fn(self.spark, self.input_dir)
                if traced:
                    # force the QueryExecution that toPandas() executes,
                    # so planning is timed here and not again in exec
                    with self.tracer.span("plan") as s_plan:
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    self._group(gid + ".exec")
                with self.tracer.span("exec") as s_exec:
                    pdf = df.toPandas()
            rec["wall"] = time.perf_counter() - t0
            rec.update(self._cpu_delta(cpu0))
            rec["rows"] = len(pdf)
            if traced:
                s_exec.counts["output_rows"] = len(pdf)
                self.pending += [(s_build, gid + ".build", None), (s_plan, None, qe),
                                 (s_exec, gid + ".exec", None)]
            self._check(rec, pdf)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            rec.update(ok=False, wall=time.perf_counter() - t0,
                       error="".join(traceback.format_exception_only(e)).strip()[-400:])
        self.records.append(rec)

    def collect(self) -> None:
        """Attach status-store and Catalyst counts to the spans of the
        pass that just ended; runs outside the pass's timed region."""
        if not self.pending:
            return
        self.store.drain()
        for span, gid, qe in self.pending:
            span.counts.update(self.store.group(gid) if gid else catalyst_phases(qe))
        self.pending = []


class QueryWorkload:
    def __init__(self, runner: Runner, name: str, seed: int) -> None:
        self.runner, self.name, self.seed = runner, name, seed
        self.ops = QUERY_WORKLOADS[name]

    def run_pass(self, pass_idx: int) -> None:
        for op in op_order(self.ops, self.seed, self.name, pass_idx):
            self.runner.query(pass_idx, op)


class LakehouseJourney:
    """One pass = the write journey on a fresh table directory."""

    def __init__(self, runner: Runner) -> None:
        from bigdata06_spark import lakehouse as LH
        from bigdata06_spark.sources.lakehouse_datasource import register
        from bigdata06_spark.streaming import ops as SO

        self.LH, self.SO = LH, SO
        self.runner = runner
        register(runner.spark)
        self.chg_dir = os.path.join(runner.input_dir, "changes")
        self.stats: list[dict] = []

    def _chg(self, name: str):
        return self.runner.spark.read.parquet(os.path.join(self.chg_dir, f"{name}.parquet"))

    def run_pass(self, pass_idx: int) -> None:
        LH, SO = self.LH, self.SO
        spark, r = self.runner.spark, self.runner
        base = os.path.join(r.workdir, f"pass{pass_idx}")
        path = os.path.join(base, "orders")
        sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "sink_ckpt")
        os.makedirs(base)
        files = _FileLedger(path)

        def step(op: str, call_name: str, call, check: str | None = None,
                 changed: int = 0) -> None:
            s = r._timed(pass_idx, op, call, check, "lakehouse." + call_name)
            if s is not None:
                s.counts.update(files.scan(), changed_rows=changed)

        step("table_init", "table_init",
             lambda: LH.table_init(self._chg("init"), path, KEY, n_files=4))
        for i in range(MERGE_ROUNDS):
            step(f"merge_{i}", "merge",
                 lambda i=i: LH.merge(spark, path, KEY, updates=self._chg(f"merge_{i}")),
                 changed=_rows(self.chg_dir, f"merge_{i}"))
            step(f"append_{i}", "append",
                 lambda i=i: LH.append(spark, path, KEY, self._chg(f"append_{i}")))
        step("optimize", "optimize", lambda: LH.optimize(spark, path, KEY, n_files=2))

        step("read_v0", "read", lambda: LH.read_version(spark, path, 0).toPandas(),
             check="lakehouse.read_v0")
        step("checkpoint_log", "checkpoint_log", lambda: LH.checkpoint_log(path))
        step("vacuum", "vacuum", lambda: LH.vacuum(path))
        step("read_latest", "read",
             lambda: LH.read_version(spark, path, LH.current_version(path)).toPandas(),
             check="lakehouse.read_latest")

        def drain():
            q = (SO.stream_events(spark, r.input_dir)
                 .select("event_id", "event_type", "value")
                 .writeStream.format("lakehouse").outputMode("append")
                 .option("checkpointLocation", ckpt)
                 .option("txnAppId", f"bench-{pass_idx}")
                 .trigger(availableNow=True).start(sink))
            q.awaitTermination()
            return lambda: _sink_summary(spark, LH, sink)

        r._timed(pass_idx, "stream_drain", drain, "stream.drain", "stream.drain")
        if r.tracer.enabled:
            self.stats.append({"pass": pass_idx, "versions": LH.current_version(path) + 1,
                               "submitted_bytes": _submitted_bytes(self.chg_dir),
                               **files.totals()})


def _rows(chg_dir: str, name: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(chg_dir, f"{name}.parquet")).metadata.num_rows


def _submitted_bytes(chg_dir: str) -> int:
    """Parquet bytes of the user rows the journey submits."""
    return sum(os.path.getsize(os.path.join(chg_dir, f)) for f in os.listdir(chg_dir))


def _sink_summary(spark, LH, sink: str):
    from pyspark.sql import functions as F

    t = LH.read_version(spark, sink, LH.current_version(sink))
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_id"),
    ).toPandas()


class _FileLedger:
    """Tracks every file that appears under a table directory, so bytes
    and files written are counted even for files vacuum later deletes."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen: dict[str, int] = {}
        self.bytes = self.files = 0

    def scan(self) -> dict:
        import pyarrow.parquet as pq

        new_files = new_bytes = new_rows = 0
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                if p in self.seen:
                    continue
                try:
                    size = os.path.getsize(p)
                except OSError:
                    continue
                self.seen[p] = size
                new_files += 1
                new_bytes += size
                rel = os.path.relpath(p, self.root)
                if f.endswith(".parquet") and not rel.startswith("_log"):
                    try:
                        new_rows += pq.ParquetFile(p).metadata.num_rows
                    except Exception:  # noqa: BLE001 — vanished mid-scan
                        pass
        self.files += new_files
        self.bytes += new_bytes
        return {"files_written": new_files, "bytes_written": new_bytes,
                "rows_written": new_rows}

    def totals(self) -> dict:
        return {"files_written": self.files, "bytes_written": self.bytes}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from bigdata06_spark.session import get_spark

    t_a = time.time()
    spark = get_spark(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # the whole heap from the start, so no heap-growth decisions differ
        # from run to run; thread pools sized like the launcher's cap
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            f" -XX:ActiveProcessorCount={os.environ['OMP_NUM_THREADS']}",
    })
    t_b = time.time()
    from bigdata06_spark.queries import load_all_queries

    registry = load_all_queries()
    t_c = time.time()
    runner = Runner(spark, registry, args.input, args.workdir)
    listener = None
    if args.workload in QUERY_WORKLOADS:
        wl = QueryWorkload(runner, args.workload, args.seed)
    else:
        wl = LakehouseJourney(runner)
        if args.trace:
            listener = make_stream_listener()
            spark.streams.addListener(listener)

    # warm-up: first-run codegen, Python workers, caches
    wl.run_pass(0)
    t_first, host_first = time.time(), host_cpu_s()
    passes = []
    # traced runs interleave untraced passes around traced ones and end
    # on an untraced pass, so each traced pass has both neighbours to be
    # compared with (the tracing overhead)
    p = 1
    while True:
        runner.tracer.enabled = bool(args.trace) and p % 2 == 0
        runner.tracer.pass_idx = p
        if listener is not None:
            # deliver the previous pass's progress events before retagging
            runner.store.drain()
            listener.current_pass = p
        c0, t0 = runner.check_s, time.perf_counter()
        wl.run_pass(p)
        passes.append({"pass": p, "wall": time.perf_counter() - t0 - (runner.check_s - c0),
                       "traced": runner.tracer.enabled})
        runner.collect()
        elapsed = time.time() - t_first
        done = p >= TIMED_PASSES and elapsed >= args.seconds
        if (done and not runner.tracer.enabled) or elapsed >= MAX_TIMED_S:
            break
        p += 1
    runner.tracer.enabled = False
    if listener is not None:
        spark.streams.removeListener(listener)
    spark.stop()

    out = {
        "session_start_s": t_b - t_a, "registry_import_s": t_c - t_b,
        "t_first_pass": t_first, "host_first_pass": host_first,
        "passes": passes, "records": runner.records,
        "spans": runner.tracer.as_records(),
        "stream_batches": listener.batches if listener is not None else [],
        "lakehouse": getattr(wl, "stats", []),
    }
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
