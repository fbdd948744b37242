"""`bigdata06_spark.zipdir`: Python workers read a zip archive's
directory once per archive version, not once per importer on every
task. Counts, not timings."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from bigdata06_spark import zipdir


def test_unchanged_zip_is_not_reread_and_rewrite_is_seen(tmp_path, monkeypatch):
    zp = tmp_path / "zdmods.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("zd_first.py", "X = 1\n")
    # restored after the test, with the path, the env and the modules
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    monkeypatch.setattr(sys, "path", [str(zp), *sys.path])
    monkeypatch.setattr(sys, "modules", dict(sys.modules))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    assert importlib.import_module("zd_first").X == 1

    zipdir.install()
    assert zipimport.zipimporter.invalidate_caches is zipdir._invalidate_caches
    reads = zipdir.READS[str(zp)]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipdir.READS[str(zp)] == reads

    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("zd_first.py", "X = 1\n")
        z.writestr("zd_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert zipdir.READS[str(zp)] == reads + 1
    assert importlib.import_module("zd_second").Y == 2


def test_reused_worker_does_not_reread_zips(spark):
    """The same one-partition mapInArrow job until a worker runs it a
    second time: that run read no archive directory (the task start's
    `importlib.invalidate_caches()` hit the memo). Idle workers are
    handed out in turn, so a repeat may take several runs."""

    def worker_reads(batches):
        import os

        import pyarrow as pa

        from bigdata06_spark import zipdir as zd

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [sum(zd.READS.values())]})

    df = spark.range(1, numPartitions=1)
    # collect(), not first(): a task that stops reading its worker's
    # output early does not hand the worker back for reuse
    seen: dict[int, int] = {}
    for _ in range(16):
        r = df.mapInArrow(worker_reads, "pid long, reads long").collect()[0]
        assert r.reads > 0  # memo installed
        if r.pid in seen:
            assert r.reads == seen[r.pid]
            return
        seen[r.pid] = r.reads
    raise AssertionError(f"no worker was reused in 16 runs: {seen}")
