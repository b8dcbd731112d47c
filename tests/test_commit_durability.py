"""Commit durability and the typed commit-lock timeout.

Every metadata publish goes through ``_fsutil.atomic_write``: the temp
file is fsynced before the rename and the directory after it. A commit
lock held by a live writer past the wait budget raises
``CommitLockTimeout``, a retryable ``CommitConflict`` that names the
holder's pid and the lock's age."""

import os
import subprocess
import sys

import pytest

from iceberg_catalog_bench_spark.catalog import _fsutil
from iceberg_catalog_bench_spark.catalog.table import (
    CommitConflict,
    CommitLockTimeout,
    LakeTable,
)


def test_commit_fsyncs_metadata_file_and_directory(spark, tmp_path, monkeypatch):
    t = LakeTable.create(spark, str(tmp_path / "t"), "id bigint")
    df = spark.range(10)
    synced = []
    real_fsync = os.fsync

    def counting_fsync(fd):
        synced.append(os.readlink(f"/proc/self/fd/{fd}"))
        real_fsync(fd)

    monkeypatch.setattr(_fsutil.os, "fsync", counting_fsync)
    t.append(df)
    meta_dir = os.path.join(t.path, "_meta")
    assert len(synced) == 2, synced
    assert os.path.dirname(synced[0]) == meta_dir      # the temp file
    assert synced[1] == meta_dir                       # then its directory
    synced.clear()
    t.set_identifier_fields(["id"])                    # locked meta mutation
    assert len(synced) == 2, synced
    assert not [f for f in os.listdir(meta_dir) if ".tmp-" in f]


_HOLDER = """
import os, sys, time
lock = sys.argv[1]
fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
os.write(fd, str(os.getpid()).encode())
print("held", flush=True)
time.sleep(float(sys.argv[2]))
"""


def test_lock_timeout_is_typed_and_retried(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), "id bigint")
    lock = os.path.join(t.path, "_meta", "commit.lock")
    holder = subprocess.Popen([sys.executable, "-c", _HOLDER, lock, "300"],
                              stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "held"
        with pytest.raises(CommitLockTimeout) as info:
            with t._commit_lock():
                pass
        assert isinstance(info.value, CommitConflict)
        msg = str(info.value)
        assert f"pid {holder.pid}" in msg and " s" in msg
        assert holder.poll() is None, "the holder must still be alive"
        # the append retry loop treats the timeout as a conflict: its
        # first attempt times out while the holder lives; the holder
        # then dies without releasing, and the retry breaks the dead
        # owner's lock and commits
        raised = []
        commit = t._commit

        def spy(*a, **kw):
            try:
                return commit(*a, **kw)
            except CommitLockTimeout as e:
                raised.append(e)
                holder.kill()
                holder.wait()
                raise

        t._commit = spy
        snap = t.append(spark.range(3))
        assert len(raised) == 1 and snap.summary["added_rows"] == 3
    finally:
        holder.kill()
        holder.wait()
    assert t.read().count() == 3
