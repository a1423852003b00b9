"""The session factory's local-master settings (``session.get_spark``).
The Python-worker daemon (``oraaud_kafka_spark/_pydaemon.py``): zip
directories are re-read only when their archive changed, the workers of
the test session run that guard, the daemon starts from any working
directory, and a cluster master keeps Spark's stock daemon. The
streaming checkpoint manager: a local master writes checkpoints through
Spark's FileSystem manager, which still refuses to overwrite a batch
file, and a cluster master keeps Spark's default."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from oraaud_kafka_spark import _pydaemon
from oraaud_kafka_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the guard is a no-op on 3.13+")
def test_zip_reread_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"

    def write(body: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("graft_zip_probe.py", body)

    write("VALUE = 1\n")
    # the archive's importer leaves with the test
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "graft_zip_probe", raising=False)
    assert importlib.import_module("graft_zip_probe").VALUE == 1

    # registered first, so the stock method is restored after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _pydaemon._guard_zip_rereads()
    reads: list[str] = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or stock_read(path)
    )

    importlib.invalidate_caches()
    assert reads == []

    write("VALUE = 2\nEXTRA = 3\n")
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    del sys.modules["graft_zip_probe"]
    mod = importlib.import_module("graft_zip_probe")
    assert (mod.VALUE, mod.EXTRA) == (2, 3)


def test_python_workers_run_the_guard(spark):
    @pandas_udf("string")
    def guard_and_reads(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        tag = f"{zipimport.zipimporter.invalidate_caches.__module__} {len(reads)}"
        return s.map(lambda _: tag)

    got = {r[0] for r in spark.range(4).repartition(2).select(guard_and_reads("id")).collect()}
    assert got == {"oraaud_kafka_spark._pydaemon 0"}


def test_daemon_starts_outside_the_checkout(tmp_path):
    """The driver imports the package from a path entry it added itself,
    so a worker finds it only through the session's executor PYTHONPATH."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from oraaud_kafka_spark.session import get_spark

        spark = get_spark(app_name="daemon-cwd", master="local[1]")

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print("SUM", spark.range(3).select(plus_one("id")).groupBy().sum().first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SUM 6" in out.stdout, out.stderr[-3000:]


def test_cluster_master_keeps_the_stock_daemon(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    local = get_spark(master="local[2]")
    assert local["spark.python.daemon.module"] == "oraaud_kafka_spark._pydaemon"
    assert local["spark.executorEnv.PYTHONPATH"] == ROOT
    cluster = get_spark(master="spark://graft-master:7077")
    assert "spark.python.daemon.module" not in cluster
    assert "spark.executorEnv.PYTHONPATH" not in cluster


def test_local_master_writes_checkpoints_through_the_file_system_manager(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    assert get_spark(master="local[2]")[CHECKPOINT_MANAGER] == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    assert CHECKPOINT_MANAGER not in get_spark(master="spark://graft-master:7077")


def test_checkpoint_manager_refuses_to_overwrite_a_batch_file(spark, tmp_path):
    """The manager a streaming query gets from the session's Hadoop
    conf is the FileSystem one, and its atomic write still refuses an
    existing batch file, which HDFSMetadataLog reads as a concurrent
    update."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    batch = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    manager = checkpointing.CheckpointFileManager.create(
        batch.getParent(), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    def write(body: bytes) -> None:
        out = manager.createAtomic(batch, False)
        out.write(bytearray(body))
        out.close()

    write(b"first")
    with pytest.raises(Py4JJavaError) as err:
        write(b"second")
    assert is_instance_of(
        spark.sparkContext._gateway,
        err.value.java_exception,
        "org.apache.hadoop.fs.FileAlreadyExistsException",
    )
    assert (tmp_path / "0").read_bytes() == b"first"
