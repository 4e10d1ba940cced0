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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_WORKER_PATH_CONF = "spark.executorEnv.PYTHONPATH"


def get_session(
    app_name: str = "eds-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Defaults follow $SPARK_GRAFT_CPUS when set (the driver's bench
    contract), else all local cores.
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
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf[_WORKER_PATH_CONF] = os.pathsep.join(
        p for p in (root, conf.get(_WORKER_PATH_CONF)) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
