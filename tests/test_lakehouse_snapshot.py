"""The lakehouse log fold: every table-state read is ONE `LH.snapshot`
fold over the log, and each write operation takes one snapshot — so a
writer's log-entry parses grow with the version count, not with the
number of metadata fields it reads."""

from bigdata06_spark import lakehouse as LH


def test_merge_parses_each_log_entry_at_most_twice(spark, tmp_path, monkeypatch):
    """Deterministic count, not a time: on a 6-version table one merge
    parses at most 2 × versions log entries (walking the log once per
    accessor, as a per-field replay does, parses ~20 × versions)."""
    path = str(tmp_path / "t")
    LH.table_init(spark.range(60).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
                  path, "k", n_files=3, stats_cols=["k"])
    for i in range(5):
        LH.append(spark, path, "k",
                  spark.createDataFrame([(100 + i, 1.0)], "k long, v double"))
    versions = LH.current_version(path) + 1
    assert versions == 6

    parsed = []
    real = LH._read_entry

    def counting(path, v, bulk=LH._CKPT_BULK):
        parsed.append(v)
        return real(path, v, bulk)

    monkeypatch.setattr(LH, "_read_entry", counting)
    v = LH.merge(spark, path, "k",
                 updates=spark.createDataFrame([(5, -1.0)], "k long, v double"))
    assert v == versions
    assert len(parsed) <= 2 * versions, parsed
    monkeypatch.setattr(LH, "_read_entry", real)
    assert LH.read_version(spark, path, v).filter("k = 5").first().v == -1.0
