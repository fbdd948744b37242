"""Per-query isolation harness: time ONE registered query with the
noop sink so the measurement is the computation, not the sink or the
row pull back to Python, and optionally dump `.explain("formatted")`
as plan evidence (`--plan-out`).

Usage:
  python tools/isolate.py <query> [<query> ...] [--sf SF_DIR]
      [--reps N] [--plan-out DIR] [--suffix before|after]

Timing methodology matches bench.py (min-of-N, build+execute per rep)
except the action is the noop sink instead of count(); bench.py itself
keeps count() so round-over-round numbers stay comparable. Jobs are
labeled with setJobDescription.

Each line also reports the generated-code classes the last rep
compiled. The reps run back to back, so reps 2..N find the classes rep
1 compiled in Spark's codegen cache and min-of-N never includes
compilation. A workload that interleaves queries whose classes
together overflow the cache recompiles them on every pass; only the
compile count of a warm rep shows that, not its time. Non-zero here
means the query alone overflows the cache or generates different code
on every run.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata06_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from bigdata06_spark.queries import load_all_queries  # noqa: E402
from bigdata06_spark.session import classes_compiled, get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-out", default=None,
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default=None)
    args = ap.parse_args()

    spark = get_spark("isolate")
    spark.range(1000).count()
    spark.read.parquet(os.path.join(args.sf, "region.parquet")).count()
    specs = load_all_queries()

    for name in args.queries:
        if name not in specs:
            print(f"?? {name}: not registered", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"isolate:{name}")
        best = None
        for _ in range(max(1, args.reps)):
            c0, t0 = classes_compiled(spark), time.perf_counter()
            df = specs[name].fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            compiled = classes_compiled(spark) - c0
        print(f"{name}: {best:.3f}s (noop, min of {args.reps}); "
              f"last rep compiled {compiled} classes", flush=True)
        if args.plan_out:
            os.makedirs(args.plan_out, exist_ok=True)
            suffix = f"_{args.suffix}" if args.suffix else ""
            path = os.path.join(args.plan_out, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan_of(specs[name].fn(spark, args.sf)))
            print(f"  plan -> {path}", flush=True)


if __name__ == "__main__":
    main()
