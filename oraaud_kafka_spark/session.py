"""SparkSession factory with scale-oriented defaults.

Test/bench runs are local[N] single-JVM. Every default here but the
listing threshold, the local worker daemon and the local checkpoint
manager is chosen to also make sense on a 1000-executor cluster reading
~100 TB:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) — the knob that makes static shuffle-partition counts safe
  at any scale.
- shuffle partitions sized from parallelism locally; on a real cluster
  AQE coalescing makes a high initial number cheap.
- Arrow enabled so any pandas-UDF path is batch-vectorized, never per-row.
- Session timezone pinned to UTC so event-time semantics are stable across
  drivers/executors regardless of host TZ.
- File listing always on the driver
  (``spark.sql.sources.parallelPartitionDiscovery.threshold`` = 2**31-1).
  Above Spark's default of 32 paths, a listing runs as a Spark job of one
  task per path, and the ingest stream's ``getBatch`` re-lists every file
  a micro-batch admits. Explicit ``*.xml`` paths resolved the way
  ``getBatch`` does them, medians of 4 on a 4-core local[4]:

  | paths | driver  | Spark job |
  |-------|---------|-----------|
  | 16    | 34 ms   | 38 ms     |
  | 50    | 56 ms   | 460 ms    |
  | 150   | 50 ms   | 711 ms    |
  | 1000  | 172 ms  | 3,526 ms  |
  | 5000  | 669 ms  | 15,174 ms |

  A job pays off only when the driver's stats are slow and many, as on a
  remote object store with a deep tree; such a caller can pass Spark's
  default back through ``extra_conf``.
- Python workers start from ``oraaud_kafka_spark._pydaemon`` on
  ``local`` masters (``spark.python.daemon.module``). PySpark's worker
  calls ``importlib.invalidate_caches()`` at the start of every task, and
  on CPython 3.12 and older that makes each ``zipimporter`` re-read its
  archive's central directory. A worker here holds 16 of them: 13 on
  ``pyspark.zip`` (1,328 entries), 2 on the spark-core jar (5,359) and 1
  on py4j, so every Python task (the Kinesis gzip UDF, the Kinesis
  writer's ``foreachPartition``, ``mapInPandas``/``applyInPandas``
  queries) first re-read ~27k entries, 85-135 ms of one core. The
  engine daemon re-reads an archive only when its mtime or size
  changed. One pandas-UDF job on a 4-core ``local[4]``, medians of 7
  warm ``noop`` writes, two sessions each:

  | tasks | stock daemon   | engine daemon  |
  |-------|----------------|----------------|
  | 4     | 206, 184 ms    | 134, 140 ms    |
  | 16    | 501, 543 ms    | 284, 294 ms    |

  CPython 3.13 made the invalidation lazy (gh-103200); there the daemon
  changes nothing. ``spark.executorEnv.PYTHONPATH`` names this
  package's parent directory so the daemon imports from any working
  directory. A cluster master keeps Spark's stock daemon: its executors
  do not share the driver's file system, so that path would not hold
  the package there.
- Streaming checkpoints written through Spark's
  ``FileSystemBasedCheckpointFileManager`` on ``local`` masters
  (``spark.sql.streaming.checkpointFileManagerClass``). Every
  micro-batch commits three checkpoint files: the file-source log
  (``latestOffset``), the offset WAL (``walCommit``) and the commit log
  (``commitOffsets``). Without libhadoop (``NativeIO.isAvailable()`` is
  false here) Hadoop's local file system forks a process for each
  permission or link query. Spark's default
  ``FileContextBasedCheckpointFileManager`` renames each file through
  ``AbstractFileSystem.renameInternal``, whose
  ``RawLocalFileSystem.getFileLinkStatus`` runs ``readlink`` 8 times per
  file; every create also runs ``chmod`` twice (data file and ``.crc``).
  The FileSystem manager renames with ``File.renameTo``, one atomic
  ``rename(2)``, and like the default it refuses to overwrite a batch
  file that exists (``FileAlreadyExistsException``, which
  ``HDFSMetadataLog`` reads as a concurrent update). 200 atomic
  300-byte writes through py4j into one ``local[1]`` JVM, median per
  file of two rounds, forks counted by logging shims on ``PATH``:

  | manager     | per file       | forks per file              |
  |-------------|----------------|-----------------------------|
  | FileContext | 13.8, 13.3 ms  | 2 ``chmod``, 8 ``readlink`` |
  | FileSystem  | 3.3, 3.2 ms    | 2 ``chmod``                 |

  The same write plus rename from Python takes ~0.06 ms, so most of
  what is left is the two ``chmod`` forks. A cluster master keeps
  Spark's default, whose no-overwrite rename is atomic on HDFS;
  ``extra_conf`` can restore it locally too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "oraaud-kafka-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The session factory of the daemon, the tests and perfbench.

    Every file listing runs on the driver: a paced ingest micro-batch of
    ~50 files would otherwise pay a ~250-500 ms Spark job in ``getBatch``
    to stat files the driver stats in ~50 ms (module docstring). On a
    ``local`` master, Python workers start from the engine daemon, which
    saves each Python task ~100 ms of zip re-reads, and streaming
    checkpoints are written through the FileSystem checkpoint manager,
    which saves each checkpoint file ~10 ms of ``readlink`` forks
    (module docstring).
    ``extra_conf`` is applied last, so it overrides any default here."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "oraaud_kafka_spark._pydaemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT).config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
