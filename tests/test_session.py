"""The engine session's two fixed-cost settings: the Python worker daemon
(archives re-read only when they change) and the FileSystem-based
streaming checkpoint manager."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from full_stack_big_data_spark.engine import pyworker


def test_worker_daemon_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("_pyworker_probe_a.py", "VALUE = 'a'\n")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(pyworker, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_pyworker_probe_a").VALUE == "a"
        importlib.invalidate_caches()  # first sight: one read
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        # Rewritten in place (same inode) with a new member.
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("_pyworker_probe_a.py", "VALUE = 'a'\n")
            z.writestr("_pyworker_probe_b.py", "VALUE = 'b'\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("_pyworker_probe_b").VALUE == "b"
    finally:
        sys.modules.pop("_pyworker_probe_a", None)
        sys.modules.pop("_pyworker_probe_b", None)


def test_session_runs_python_udfs_in_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == pyworker.__name__

    @F.udf("string")
    def rule_file(_):
        import zipimport
        return zipimport.zipimporter.invalidate_caches.__code__.co_filename

    [row] = spark.range(1).select(rule_file("id").alias("f")).collect()
    assert row.f.endswith(os.path.join("engine", "pyworker.py"))


def test_session_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    jvm = spark._jvm
    manager = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
               .CheckpointFileManager.create(
                   jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()),
                   spark._jsparkSession.sessionState().newHadoopConf()))
    assert (manager.getClass().getName()
            == "org.apache.spark.sql.execution.streaming.checkpointing."
               "FileSystemBasedCheckpointFileManager")
