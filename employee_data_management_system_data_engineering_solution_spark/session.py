"""SparkSession factory.

Replaces the five copies of the session-builder block in the reference
(``clean_load_2_tf_staging.py:9-17`` and identical blocks in every job
script). One builder, parameterized, no hardcoded credentials
(contrast ``clean_load_2_tf_staging.py:18-23``), no LEGACY time parser.

Scale posture: AQE on (runtime coalesce + skew-join), shuffle
partitions sized to the local core count for tests; on a real cluster
callers pass ``shuffle_partitions`` ~ 2-3x total cores. Session
timezone is pinned to UTC so timestamp semantics are stable across
engines and hosts.

Python workers run under this package's ``worker_daemon``
(``spark.python.daemon.module``, the hook PySpark's own coverage daemon
uses). Spark's stock worker path leads with ``pyspark.zip``, which ships
no bytecode, plus the py4j zip and the spark-core jar; every task's
``importlib.invalidate_caches()`` then re-reads each archive's central
directory once per zipimporter (16 per worker; one read is 8-16 ms for
pyspark.zip's 1,328 entries and 33-59 ms for the jar's 5,359, which is
cached twice). A ``mapInPandas`` probe on a 4-vCPU box measured that
call at 0.20-0.35 s per task; under the daemon, which imports the
directory install of pyspark the driver uses, it takes 0.14 ms. On the
``strike_stream`` benchmark (perfbench, ``local[4]`` on 4 vCPUs, 10
alternating before/after pairs) the median ``write_latency_p50_s`` fell
from 1.51 s to 1.17 s. The daemon is a module of this package, so every
Python worker must import the package: the directory that holds it goes
on the workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), ahead
of any value the caller passes there, and workers import the same tree
as the driver without an environment variable.

Local file writes go through ``jars/no-spawn-localfs.jar``. pip
pyspark ships no Hadoop native library (``libhadoop``), and without it
Hadoop's ``RawLocalFileSystem.setPermission`` starts a ``chmod``
process; it runs after every file create and every mkdir. Spark's
default stream checkpoint manager (``FileContext``-based) adds a
``readlink`` process per rename and status check. A steady-state
``run_strike_pass`` (one 3,000-event file, ``local[4]``) started 127
processes, 88 ``readlink`` and 39 ``chmod``; ``employee_etl``'s
``partition_pruned_report`` and ``published_report_roundtrip`` started
16 and 24 per request. One atomic checkpoint write took 43-53 ms, where
a raw Hadoop create+close takes 7 ms. ``replay.stream_confs`` removes
the ``readlink`` calls (it pins the ``FileSystem``-based manager); the
jar removes the ``chmod`` calls. Its ``NoSpawnLocalFileSystem`` is the
checksummed ``LocalFileSystem`` (``.crc`` files are still written and
verified) over a raw filesystem whose ``setPermission`` uses
``java.nio``'s ``Files.setPosixFilePermissions``, with the same mode
bits; sticky bits fall back to the stock call. ``get_session`` puts the
jar first on ``spark.driver.extraClassPath`` and names the class in
``spark.hadoop.fs.file.impl``. With both, a strike pass starts no
process, each log write fell from 40-60 ms to 2-6 ms, and on the
``strike_stream`` benchmark the median ``write_latency_p50_s`` fell
from 1.10 s to 0.83 s (perfbench, 4 vCPUs, 10 alternating pairs). Only
``local[...]`` masters get the two confs: there the executors run in
the driver JVM, so the driver's class path is theirs too. Executors of
any other master run in their own JVMs, where the class would be
missing, so those sessions keep the stock filesystem.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_WORKER_PATH_CONF = "spark.executorEnv.PYTHONPATH"
_DRIVER_CLASSPATH_CONF = "spark.driver.extraClassPath"
_LOCAL_FS_CONF = "spark.hadoop.fs.file.impl"
_LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jars", "no-spawn-localfs.jar"
)
_LOCAL_FS_CLASS = "eds.hadoop.NoSpawnLocalFileSystem"


def _prepend(conf: dict[str, str], key: str, entry: str) -> None:
    """Put ``entry`` first on the path-list conf ``key``, ahead of any
    value the caller passed."""
    conf[key] = os.pathsep.join(p for p in (entry, conf.get(key)) if p)


def get_session(
    app_name: str = "eds-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Defaults follow $SPARK_GRAFT_CPUS when set (the driver's bench
    contract), else all local cores.

    A ``local[...]`` master also gets the in-process-chmod local
    filesystem (module docstring): its jar goes first on
    ``spark.driver.extraClassPath`` and its class into
    ``spark.hadoop.fs.file.impl`` unless ``extra_conf`` names another.
    Any other master leaves both unset: its executors are separate
    JVMs that do not load the driver's class path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # engine-level Arrow batch sizing (guide §4.2): the
        # Python-boundary operators stream one narrow column; 64k-row
        # batches amortize per-batch overhead ~6x over the 10k default
        # (measured on frequent_shingles, r16). Also applied at
        # operator entry (sources.io.arrow_batch_defaults) so sessions
        # built elsewhere get it too.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # test data carries TIMESTAMP(NANOS) parquet columns, which Spark
        # rejects by default; read them as long and convert in the reader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("EDS_DRIVER_MEMORY", "24g"))
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    conf = dict(extra_conf or {})
    _prepend(conf, _WORKER_PATH_CONF, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if master == "local" or master.startswith("local["):
        _prepend(conf, _DRIVER_CLASSPATH_CONF, _LOCAL_FS_JAR)
        conf.setdefault(_LOCAL_FS_CONF, _LOCAL_FS_CLASS)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
