"""Manifest-committing JSONL sink via the Spark 4 Python Data Source
write path: `df.write.format("jsonl_manifest").option("path", ...)`.

The pattern this implements is the two-phase commit every
shard-manifest export needs (training-data exports ship a manifest the
loader trusts: one entry per shard with row count + content checksum):

- `write(iterator)` runs per TASK on the executor: it writes ONE shard
  file under a task-unique temp name and returns a picklable commit
  message (shard name, rows, sha256);
- `commit(messages)` runs ONCE on the driver only after every task
  succeeded: it promotes the temp files to their final names and writes
  `_MANIFEST.json` LAST — the manifest's existence is the atomic
  "this export is complete and exactly these shards belong to it"
  signal (readers ignore un-manifested files, so partial/failed runs
  are invisible);
- `abort(messages)` deletes whatever temp shards the failed run left.

Scale: each task streams its partition straight to its own shard file
(no driver data path; the driver only sees the tiny commit messages),
so shard count = partition count and the export parallelizes like any
other action. The slow part is Python-side row serialization — for
parquet exports use the native writer (`sinks.py`); THIS sink is for
the manifest/commit protocol itself, which Spark's file sinks don't
expose.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage


class ShardCommit(WriterCommitMessage):
    def __init__(self, temp_name: str, rows: int, sha256: str):
        self.temp_name = temp_name
        self.rows = rows
        self.sha256 = sha256


class JsonlManifestWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_manifest requires option('path', ...)")
        self.overwrite = overwrite

    def write(self, iterator) -> ShardCommit:
        import hashlib

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        temp_name = f"_temp-shard-{pid:05d}-{uuid.uuid4().hex[:8]}.jsonl"
        h = hashlib.sha256()
        rows = 0
        with open(os.path.join(self.path, temp_name), "wb") as f:
            for row in iterator:
                line = (json.dumps(row.asDict(), sort_keys=True, default=str) + "\n").encode()
                f.write(line)
                h.update(line)
                rows += 1
        return ShardCommit(temp_name, rows, h.hexdigest())

    def commit(self, messages) -> None:
        shards = []
        for i, m in enumerate(sorted((m for m in messages if m), key=lambda m: m.temp_name)):
            final = f"shard-{i:05d}.jsonl"
            os.replace(os.path.join(self.path, m.temp_name), os.path.join(self.path, final))
            shards.append({"file": final, "rows": m.rows, "sha256": m.sha256})
        manifest = {"shards": shards, "total_rows": sum(s["rows"] for s in shards)}
        # the manifest lands LAST: its presence == complete export.
        # Written to a temp name then renamed, so a reader that sees
        # `_MANIFEST.json` never sees it half-written.
        target = os.path.join(self.path, "_MANIFEST.json")
        tmp = f"{target}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, target)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.temp_name))
                except OSError:
                    pass


class JsonlManifestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_manifest"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return JsonlManifestWriter(self.options, overwrite)


def register(spark) -> None:
    from bigdata06_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    spark.dataSource.register(JsonlManifestDataSource)
