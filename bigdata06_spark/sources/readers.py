"""File readers with explicit schemas (SURVEY.md §2.B "Scans").

The reference's only schema story is pandas dtype inference
(`pd.DataFrame(...)` — Spotify_API.py:88); the engine requires a
declared StructType on every non-parquet read (inference costs an
extra pass and produces unstable types), and parquet reads get their
schema from the file footer with Catalyst pruning/pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    """CSV scan, schema mandatory (never inferSchema — it double-reads
    and guesses). Malformed rows surface as nulls (PERMISSIVE) so bad
    records don't kill a 100 TB job; switch to FAILFAST in tests."""
    return spark.read.options(header=header, mode="PERMISSIVE").schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with declared schema — nested structs/arrays land
    typed, ready for the flatten helpers (functions/flatten.py)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — schema from the file footer, same Catalyst
    pruning/pushdown story as parquet (ORC carries min/max stride
    stats the reader uses for row-group skipping)."""
    return spark.read.orc(path)


def read_jsonl_text(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Corpus-style JSONL ingested via the text reader + from_json:
    one string column in, typed struct out. Unlike the json reader,
    unparseable lines survive as a null struct next to their raw line
    — the quarantine pattern for web-scale corpus ingestion where a
    bad record must be routable to a reject sink, not dropped."""
    from pyspark.sql import functions as F

    raw = spark.read.text(path)
    return raw.select(
        F.col("value").alias("raw"), F.from_json("value", schema).alias("rec")
    )


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Real-asset ingestion for multimodal columns: the built-in
    `binaryFile` source yields one row per file — (path,
    modificationTime, length, content BINARY) — which
    `operators/multimodal.py:payloads_from_files` adapts into the
    engine's (id, payload, meta) contract. `glob` maps to
    pathGlobFilter (e.g. '*.png') so the listing prunes before any
    bytes are read; at scale, partition discovery parallelizes the
    listing and `spark.sql.files.maxPartitionBytes` bins small files
    per task. (Avro: see `read_avro`/`write_avro` below — implemented
    as a Python DataSource on the in-repo pure-Python codec, since the
    external spark-avro module isn't installable here.)"""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan via the `avro_py` Python DataSource (see
    sources/avro_datasource.py): schema inferred from one file header,
    one input partition per container file. The codec is the in-repo
    pure-Python Avro implementation, cross-validated against the JVM
    Avro library."""
    from bigdata06_spark.sources.avro_datasource import register

    register(spark)
    return spark.read.format("avro_py").load(path)


def write_avro(df: DataFrame, path: str, codec: str = "deflate",
               mode: str = "overwrite") -> None:
    """Avro sink via `avro_py`: one deflate-compressed container file
    per Spark partition, deterministic sync markers (byte-reproducible
    output)."""
    from bigdata06_spark.sources.avro_datasource import register

    register(df.sparkSession)
    df.write.format("avro_py").mode(mode).option("codec", codec).save(path)
