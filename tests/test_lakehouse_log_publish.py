"""Lakehouse publish points. A reader in a SEPARATE process must never
parse a torn (empty or partial) log entry while a writer commits — a
Spark-free stress test; a reader thread in the writer's own process
does not reproduce the race (the GIL serializes the writer's
create-then-write steps around the reader's list-then-load), so the
reader is a child process. And every file a publish renames into place
is fsynced first."""

import json
import os
import subprocess
import sys

import pytest

from bigdata06_spark import lakehouse as LH
from bigdata06_spark import lakehouse_manifest as M

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_READER = """
import json, os, sys
from bigdata06_spark import lakehouse as LH
from bigdata06_spark import lakehouse_manifest as M
path, stop = sys.argv[1], sys.argv[2]
reads = torn = 0
print("ready", flush=True)
while not os.path.exists(stop):
    v = LH.current_version(path)
    if v < 0:
        continue
    try:
        LH._read_entry(path, v, bulk=())
    except json.JSONDecodeError:
        torn += 1
    reads += 1
print(json.dumps({"reads": reads, "torn": torn}), flush=True)
"""


def test_log_commit_never_visible_torn_to_reader_process(tmp_path):
    path = str(tmp_path / "tbl")
    stop = str(tmp_path / "stop")
    env = dict(os.environ, PYTHONPATH=_REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    reader = subprocess.Popen(
        [sys.executable, "-c", _READER, path, stop],
        stdout=subprocess.PIPE, text=True, env=env,
    )
    try:
        assert reader.stdout.readline().strip() == "ready"
        for v in range(3000):
            LH._commit_log(path, v, {"add": [f"f{v}.parquet"], "remove": []})
    finally:
        open(stop, "w").close()
        out, _ = reader.communicate(timeout=30)
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["reads"] > 0, stats
    assert stats["torn"] == 0, stats
    # every version published, and no temp name survives its commit
    assert set(os.listdir(LH._log_dir(path))) == {f"{v}.json" for v in range(3000)}


def test_log_commit_conflict_leaves_winner_and_no_temp(tmp_path):
    path = str(tmp_path / "tbl")
    LH._commit_log(path, 0, {"add": ["a.parquet"], "remove": []})
    with pytest.raises(LH.CommitConflictError):
        LH._commit_log(path, 0, {"add": ["b.parquet"], "remove": []})
    assert os.listdir(LH._log_dir(path)) == ["0.json"]
    assert LH._read_entry(path, 0, bulk=())["add"] == ["a.parquet"]


def test_checkpoint_and_manifest_publish_fsync_before_rename(spark, tmp_path,
                                                             monkeypatch):
    """checkpoint_log deletes the history its squashed entry replaces,
    so the new entry AND its parquet sidecar must be on disk before
    that; the manifest meta swap likewise publishes a synced body. The
    fsynced paths are read back from /proc/self/fd: a temp name proves
    the sync happened before the rename."""
    path = str(tmp_path / "tbl")
    for v in range(3):
        LH._commit_log(path, v, {"add": [f"data/f{v}.parquet"], "remove": []})
    synced = []
    real_fsync = os.fsync

    def recording(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording)
    M.refresh_manifest(spark, path)
    meta_tmp = os.path.realpath(M._meta_path(path)) + ".tmp-"
    assert any(p.startswith(meta_tmp) for p in synced), synced

    synced.clear()
    v = LH.checkpoint_log(path)
    logd = os.path.realpath(LH._log_dir(path))
    side = LH._read_entry(path, v, bulk=())["checkpoint_parquet"]
    assert any(p.startswith(os.path.join(logd, f"{v}.json.tmp-"))
               for p in synced), synced
    assert any(p.startswith(os.path.join(logd, side) + os.sep)
               for p in synced), synced
    assert LH.files_at_version(path, v) == [f"data/f{u}.parquet" for u in range(3)]
