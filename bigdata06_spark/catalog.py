"""Catalog: the driver test tables and their loaders.

The reference infers schemas from whatever dict keys the API returned
(`Spotify_API.py:78-85` — `pd.DataFrame(...)` dtype inference); that is
its main fragility. Here a table's schema is whatever its parquet
footers declare (FIXTURES.md Family A lists them), so column pruning
and predicate pushdown are planned against the file's own types.

Schema inference is a Spark job of its own, and every query loads its
tables afresh: warm on local[2] (4 vCPU), loading sf0.001 lineitem took
174 ms with inference and 27 ms with a known schema (median of 50).
So `parquet_schema` infers a path's schema once per file set and
reads it with that schema afterwards; see there for when the memo is
trusted.

Scale notes: each loader returns a plain parquet-scan DataFrame —
Catalyst handles partition pruning / pushdown / pruned `ReadSchema`. At
100 TB the same tables would be directory-partitioned (e.g. orders by
month) and these loaders would pick that up for free; nothing here
assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: session confs that change the schema parquet inference returns for
#: the same files (TIMESTAMP(NANOS) as long, naive timestamps as NTZ,
#: binary as string, INT96 as timestamp)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: path -> (signature, schema); one entry per path, replaced on a miss
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _signature(spark: SparkSession, path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under `path`, plus the
    inference confs: what the inferred schema is a function of. None
    when `path` names no file (missing, or a glob): never memoized."""
    if os.path.isdir(path):
        paths = [os.path.join(root, n) for root, _, names in os.walk(path) for n in names]
    else:
        paths = [path] if os.path.isfile(path) else []
    if not paths:
        return None
    files = []
    for p in sorted(paths):
        st = os.stat(p)
        files.append((p, st.st_size, st.st_mtime_ns))
    return tuple(files), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` infers, without its
    inference job when neither the files under `path` nor the
    inference confs changed since the last call for `path`.

    The memo holds metadata only: a read with the returned schema still
    lists and scans the files, so no query result is ever served from
    it. Any rewrite (new file names, sizes or mtimes) misses, re-infers
    and replaces the entry, so the map stays one entry per path. Two
    threads racing on a miss both infer; either entry they store is
    valid."""
    sig = _signature(spark, path)
    hit = _SCHEMAS.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if sig is not None:
        _SCHEMAS[path] = (sig, schema)
    return schema


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one driver table as a DataFrame (pushdown-capable parquet scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    if name == "events":
        # older events.parquet vintages store TIMESTAMP(NANOS), which the
        # parquet reader rejects outright; must be set even when the caller (e.g. the
        # driver) built the session without engine configs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` across driver testdata vintages.

    - parquet TIMESTAMP(NANOS) surfaces as long under
      spark.sql.legacy.parquet.nanosAsLong; truncate ns→µs exactly like
      DuckDB/pyarrow do. Integer `div`, NOT `/`: float division loses
      sub-µs precision at 1e18-nanosecond magnitudes (beyond double's
      2^53 exact range).
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
      TIMESTAMP_NTZ in Spark 4 — kept as-is (naive wall clock, same as
      the DuckDB oracle's view of the column).
    """
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so `spark.sql` queries resolve.

    Mirrors the driver's DuckDB oracle environment, where the same parquet
    files are pre-registered views under the same names.
    """
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
