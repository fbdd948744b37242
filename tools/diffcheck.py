"""Local differential harness — emulates the driver's correctness gate.

Runs every registry query on Spark AND its oracle SQL on DuckDB over the
same parquet tables, then compares row count, schema (column names) and
an order-insensitive value comparison (exact equality after canonical
row sort). Use while iterating:

    python tools/diffcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata06_spark.catalog import TABLES, table_path  # noqa: E402
from bigdata06_spark.queries import load_all_queries  # noqa: E402
from bigdata06_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes that differ in representation only
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def kind_class(dtype) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's
    serialized-value hash cares about.  int64 vs int32 hash the same
    (both stringify '1'); int vs float do NOT ('-1' vs '-1.0'), and
    bool vs int do NOT ('True' vs '1')."""
    k = getattr(dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "other"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    # Driver-strength dtype-kind gate: the driver hashes serialized cell
    # values, so an int column on one side and a float column on the other
    # fails its hash even when every value is numerically equal
    # (scalar_math_funcs2 r7 regression class).  Null-only columns land as
    # float NaN on either side — skip those, the value compare handles them.
    for c in spark_pdf.columns:
        ka, kb = kind_class(spark_pdf[c].dtype), kind_class(duck_pdf[c].dtype)
        if ka == kb:
            continue
        allnull = spark_pdf[c].isna().all() or duck_pdf[c].isna().all()
        if {ka, kb} <= {"int", "float", "bool"} and not allnull:
            problems.append(
                f"dtype-kind mismatch on '{c}': spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}"
                " (driver hash serializes these differently — pin the type on both sides)"
            )
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount differ: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as exc:
            problems.append(f"values differ: {str(exc)[:500]}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    specs = load_all_queries()
    spark = get_spark("diffcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    n_fail = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.sql(spec.oracle).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} ({len(sdf)} vs {len(ddf)} rows):")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"OK    {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
