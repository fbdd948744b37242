"""Shared oracle-differential helpers for tests (mirrors tools/diffcheck.py)."""

from __future__ import annotations

import duckdb
import pandas as pd

from bigdata06_spark.catalog import TABLES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def kind_class(dtype) -> str:
    """Dtype equivalence class under the driver's serialized-value
    hash: int64 vs int32 hash the same ('1'), int vs float do NOT
    ('-1' vs '-1.0'), bool vs int do NOT ('True' vs '1')."""
    k = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime"}.get(k, "other")


def assert_matches_oracle(spark_df, con, oracle_sql: str) -> None:
    got_raw = spark_df.toPandas()
    want_raw = con.sql(oracle_sql).df()
    # structural driver-strength gate (VERDICT r7 #1/#7): an int column
    # on one side and a float column on the other passes the
    # check_dtype=False value compare below but FAILS the driver's
    # serialized-value hash — catch the class, not the instance
    for c in got_raw.columns:
        if c not in want_raw.columns:
            continue
        ka, kb = kind_class(got_raw[c].dtype), kind_class(want_raw[c].dtype)
        if ka != kb and {ka, kb} <= {"int", "float", "bool"} \
                and not (got_raw[c].isna().all() or want_raw[c].isna().all()):
            raise AssertionError(
                f"dtype-kind mismatch on '{c}': spark={got_raw[c].dtype} "
                f"duck={want_raw[c].dtype} — pin the type on both sides "
                "(the driver hash serializes these differently)")
    got = canon(got_raw)
    want = canon(want_raw)
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def union_find_components(n: int, edges) -> dict[int, int]:
    """node -> min node id of its connected component, for nodes
    0..n-1 and undirected `edges` (the reference for min-label
    propagation)."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n)}
