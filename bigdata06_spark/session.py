"""SparkSession factory.

One place to encode the engine's execution-model choices so every entry
point (driver contract, tests, bench) runs with the same plan-shaping
configuration:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion from runtime stats) — the main lever
  that makes one static plan survive a 100x scale-up.
- Arrow on for every pandas interchange path (Pandas UDFs,
  `applyInPandas`, `mapInPandas`, `toPandas`).
- `spark.sql.shuffle.partitions` scaled with INPUT BYTES (floored at
  cores) — AQE coalesces below the initial count but never splits
  above it, so the initial count must grow with the data or 10x the
  input lands on the same hash buckets (see `input_scaled_partitions`).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC) bit-for-bit.
- The generated-code class cache sized to the engine's working set
  (`_CODEGEN_CACHE_ENTRIES`) and keyed without codegen stage ids, so a
  warm query reuses the classes Catalyst compiled for it instead of
  recompiling them. The cache size is a static conf: it reaches only
  sessions this factory builds, not the session a caller of the driver
  contract (`__spark_entry__.entry`) passes in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)


#: compressed-parquet bytes of input per initial shuffle partition.
#: 4 MB of snappy parquet decodes to ~25-40 MB of in-memory rows, and
#: the heaviest operators (graph self-joins) amplify shuffle volume a
#: further 2-4x over input — landing each shuffle partition in the
#: 64-200 MB band Spark's tuning guide targets.
_BYTES_PER_SHUFFLE_PARTITION = 4 << 20

#: `spark.sql.codegen.cache.maxEntries`: compiled generated-code
#: classes kept per JVM (Spark's default is 100). One pass over the
#: registry at sf0.001 compiles about 3,600 distinct classes; the
#: benchmark's five `query_mix` ops compile about 120, so at 100 each
#: pass evicted the classes the next pass needed and recompiled them.
#: Guava's cache splits the bound over 4 independently evicting
#: segments, so the bound needs headroom over the working set. A class
#: costs about 50 KB of Metaspace, paid only for classes actually
#: compiled (SCALE.md, "Generated-code cache").
_CODEGEN_CACHE_ENTRIES = 8192


def input_scaled_partitions(cores: int, sf_dir: str | None = None) -> int:
    """Initial shuffle-partition count derived from INPUT SIZE, not
    just cores (VERDICT r10 next #1).

    `spark.sql.shuffle.partitions` pinned to core count is the one
    local-mode artifact that misbehaves at scale: AQE's partition
    coalescing only ever MERGES below the initial number — it never
    splits past it — so an initial count sized to cores means 10x the
    data lands on the same 32 hash buckets, each 10x larger (the
    measured cause of the graph family's >2x sf1 ratios, SCALE.md
    round-10 table). Deriving the initial count from input bytes
    (floored at cores so small inputs still use every slot) restores
    the invariant a real cluster has — partitions grow with data —
    and AQE coalesces the excess for cheap stages at runtime.

    `sf_dir` defaults to `$SPARK_GRAFT_SF_DIR` (the dataset every
    entry point reads); sizing sums the parquet bytes under it. On a
    production deployment this generalizes to the planned scan set's
    file-listing size — same one-listing cost.
    """
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
    except OSError:
        total = 0
    return max(cores, 8, -(-total // _BYTES_PER_SHUFFLE_PARTITION))


def classes_compiled(spark: SparkSession) -> int:
    """Generated-code classes this JVM has compiled so far (Spark's
    `CodegenMetrics` compile count). A query served from the class
    cache adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the bigdata06_spark package to executors (addPyFile zip).

    Functions used in mapInPandas/pandas_udf stages are pickled by
    REFERENCE to their module; workers must be able to import it even
    when the driver process was launched from another cwd. Idempotent;
    cheap (one small zip)."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), "bigdata06_spark_pkg")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        staging = os.path.join(tempfile.gettempdir(), "bigdata06_spark_staging")
        target = os.path.join(staging, "bigdata06_spark")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        shutil.copytree(pkg_dir, target, ignore=shutil.ignore_patterns("__pycache__"))
        shutil.make_archive(zip_base, "zip", staging)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already added in this context
        pass


def get_spark(app_name: str = "bigdata06_spark", cores: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is a single JVM; on a cluster the same configs apply with
    `master` supplied by the environment (spark-submit / k8s). Nothing in
    the engine assumes local mode. `extra_conf` lets tooling override
    session-build configs (e.g. tools/shuffle_audit.py re-enables the
    UI its REST metrics come from) — only effective for the FIRST
    builder in the JVM, like every static conf.
    """
    n = cores or default_parallelism()

    # Vendored-protobuf shim (compat.py): the transformWithState
    # protobuf is imported by every kind of Python process Spark
    # spawns (task workers, the state-schema-validation runner), so
    # the vendor dir must be on PYTHONPATH before the JVM starts —
    # child processes inherit the JVM's environment in local mode
    # (executorEnv carries it on a cluster). No-op when the
    # environment ships its own protobuf.
    from bigdata06_spark.compat import (
        VENDOR_DIR,
        ensure_protobuf,
        using_vendored_protobuf,
    )

    protobuf_ok = ensure_protobuf()
    py_path = os.environ.get("PYTHONPATH", "")
    if protobuf_ok and using_vendored_protobuf():
        # only when the VENDORED runtime is the one in play: workers in
        # an environment with a real protobuf must resolve that one,
        # not be shadowed by the older vendored copy
        if VENDOR_DIR not in py_path.split(os.pathsep):
            py_path = f"{VENDOR_DIR}{os.pathsep}{py_path}" if py_path else VENDOR_DIR
        os.environ["PYTHONPATH"] = py_path

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(input_scaled_partitions(n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # the cache is keyed on the generated source, and under AQE a
        # stage's codegen id depends on which query stage finished first;
        # kept out of the class name, a pipeline has one key in every run
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # custom Python data sources (sources/spotify_datasource.py)
        # implement pushFilters; the capability ships disabled
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # streaming micro-batches in tests read small files; keep state store local
        .config("spark.sql.streaming.schemaInference", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if protobuf_ok and using_vendored_protobuf():
        builder = builder.config("spark.executorEnv.PYTHONPATH", py_path).config(
            "spark.executorEnv.TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK",
            os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", ""),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{n}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
