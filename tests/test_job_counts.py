"""Spark jobs per operation, counted by job group (deterministic at a
fixed input; no timings). Each count is taken warm, after one untimed
run, so first-use work such as a table's schema inference is excluded
the same way the benchmark's warm-up pass excludes it."""

import uuid

from pyspark.sql import functions as F


def _jobs(spark, fn) -> int:
    """Spark jobs that `fn()` starts."""
    sc = spark.sparkContext
    gid = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_repeat_load_table_starts_no_job(spark, sf_dir):
    """A table's schema is inferred once per file set: loading the
    same unchanged table again plans against the known schema."""
    from bigdata06_spark.catalog import load_table

    for name in ("lineitem", "events"):
        load_table(spark, name, sf_dir)
        assert _jobs(spark, lambda name=name: load_table(spark, name, sf_dir)) == 0


def test_load_table_sees_rewritten_schema(spark, tmp_path):
    """Rewriting a table's files with a changed column type must not
    serve the schema inferred from the old files."""
    from bigdata06_spark.catalog import load_table, table_path

    sf = str(tmp_path)
    path = table_path(sf, "region")
    spark.range(3).select(F.col("id").cast("int").alias("r_regionkey")).write.parquet(path)
    assert dict(load_table(spark, "region", sf).dtypes)["r_regionkey"] == "int"
    assert _jobs(spark, lambda: load_table(spark, "region", sf)) == 0

    spark.range(3).select(F.col("id").cast("string").alias("r_regionkey")) \
        .write.mode("overwrite").parquet(path)
    df = load_table(spark, "region", sf)
    assert dict(df.dtypes)["r_regionkey"] == "string"
    assert sorted(r.r_regionkey for r in df.collect()) == ["0", "1", "2"]


def test_community_components_job_budget(spark, sf_dir):
    """graph_community_components: one exchange per propagation round
    and the mutual top-5 edges without a self-join — 17 jobs at most
    (31 with per-round edge and label exchanges and the d ⋈ d join)."""
    from bigdata06_spark.queries import load_all_queries

    q = load_all_queries()["graph_community_components"].fn
    q(spark, sf_dir).toPandas()
    assert _jobs(spark, lambda: q(spark, sf_dir).toPandas()) <= 17
