"""Sources & sinks (SURVEY.md §2.1 S1-S6, §2.2 K1-K6).

The reference reads the newest CSV from S3 (boto3 ``list_objects_v2``
sorted by LastModified — ``clean_load_2_tf_staging.py:35-44``,
4 copies) and writes via JDBC to Postgres. This engine is
Parquet-native: columnar scans get predicate pushdown + column pruning
from Catalyst for free; "staging/dim tables" are parquet directories or
temp views. No JDBC connector is bundled — an external RDBMS caller
would use stock ``spark.read.jdbc`` directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def fan_out(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition of a COMPACT input ahead of a
    compute-bound narrow map (n-gram explode, signature hashing, vector
    math). A small table often arrives as one parquet file ⇒ one
    partition, serializing all downstream per-row compute on one core;
    shuffling the compact rows first costs far less than it saves.
    At scale, inputs with enough splits make this a near-no-op
    rebalance — and fan-out operators (explode ~200× rows) still want
    partition sizing based on pre-explosion data, which is exactly
    what a pre-explode repartition provides."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalize a TIMESTAMP(NANOS) parquet ``ts`` column to plain
    TimestampType (micros, LTZ), across Spark versions:

    * Spark ≤ 4.0 honors ``spark.sql.legacy.parquet.nanosAsLong`` —
      ``ts`` arrives as long epoch-nanos; integer ``div`` converts
      exactly to epoch-micros.
    * Spark 4.1+ dropped that conf and reads NANOS natively as
      TIMESTAMP_NTZ (UTC wall time). Event-time streaming
      (``withWatermark``), ``unix_micros`` etc. require LTZ, so convert
      via ``to_utc_timestamp(ts, 'UTC')`` — the NTZ wall time IS the
      UTC instant, making the conversion timezone-independent and the
      resulting values identical to the legacy long path.
    """
    from pyspark.sql import functions as F

    for field in df.schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one warehouse table (parquet). Column pruning / filter
    pushdown happen in Catalyst — callers just select/filter.

    ``events.parquet`` carries TIMESTAMP(NANOS) columns, which Spark
    rejects unless the legacy nanos-as-long conf is on. The conf is a
    runtime SQL conf, so set it here (idempotent) rather than relying on
    the session factory — callers may hand us any SparkSession.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_nanos(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))


#: Money/rate columns per warehouse table — the DECIMAL-native schema
#: TPC-H itself declares (the fixtures arrive as DOUBLE only because
#: the driver generates generic parquet).
MONEY_NATIVE_SCHEMA: dict[str, dict[str, str]] = {
    "lineitem": {
        "l_extendedprice": "decimal(12,2)",
        "l_discount": "decimal(3,2)",
        "l_tax": "decimal(3,2)",
    },
    "orders": {"o_totalprice": "decimal(12,2)"},
    "part": {"p_retailprice": "decimal(12,2)"},
    "customer": {"c_acctbal": "decimal(12,2)"},
    "supplier": {"s_acctbal": "decimal(12,2)"},
}

#: process-local memo: (sf_dir, table) -> decimal-native parquet path
_MONEY_NATIVE_CACHE: dict[tuple[str, str], str] = {}


def money_native_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan a warehouse table with its money columns DECIMAL-native —
    the real 100 TB answer to exact money aggregation (the
    ``functions/money.py`` module docstring): store money AS DECIMAL at
    ingest so every downstream ``money()`` cast is a no-op Catalyst
    removes, instead of a per-row (and, under CUBE/ROLLUP's Expand,
    per-row-per-grouping) double→decimal conversion at query time.
    Measured on the sf0.1 orders cube: cast-inside-agg 0.64 s,
    decimal-native read 0.29 s vs 0.23 s for the (provably
    wrong-at-scale) double path.

    On first use per (process, sf_dir, table) the fixture is rewritten
    once into a decimal-typed warehouse copy under the system temp dir
    — standing in for the ingest-time conversion a real deployment does
    exactly once. The memo is process-local on purpose: a stale copy
    from an earlier process (e.g. regenerated fixtures) must not leak
    in. Tables without money columns pass through to ``read_table``.
    """
    cols = MONEY_NATIVE_SCHEMA.get(name)
    if not cols:
        return read_table(spark, sf_dir, name)
    key = (os.path.realpath(sf_dir), name)
    path = _MONEY_NATIVE_CACHE.get(key)
    if path is None:
        import hashlib
        import tempfile

        from pyspark.sql import functions as F

        # the tag embeds a digest of the FULL resolved path, not just
        # the basename: two different warehouses named sf0.1 must not
        # share (and silently cross-overwrite) one memoized copy —
        # unlike the self-healing overwrite-per-invocation work dirs,
        # this memo claims the path stays valid for the process
        real = os.path.realpath(sf_dir)
        tag = (
            os.path.basename(real).replace(".", "_")
            + "_"
            + hashlib.md5(real.encode()).hexdigest()[:8]
        )
        path = os.path.join(tempfile.gettempdir(), f"eds_decwh_{tag}", name)
        df = read_table(spark, sf_dir, name)
        # Write with real scan parallelism: a fixture that arrives as
        # one file would otherwise become a one-file warehouse copy and
        # serialize every downstream scan on a single core (measured:
        # the sf0.1 orders cube is 1.6× slower off a 1-file copy).
        # Half the core count, not all of it — at toy sizes one task
        # per core makes per-task scheduling the bottleneck (32 files
        # 0.40 s, 16 files 0.29 s on the sf0.1 cube); at warehouse
        # sizes maxPartitionBytes splits the files regardless, so the
        # file COUNT only matters at the small end being tuned here.
        n_files = max(4, spark.sparkContext.defaultParallelism // 2)
        df.repartition(n_files).withColumns(
            {c: F.col(c).cast(t) for c, t in cols.items()}
        ).write.mode("overwrite").parquet(path)
        _MONEY_NATIVE_CACHE[key] = path
    return spark.read.parquet(path)


def unpersist_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint``'d frame's pinned blocks NOW.

    ``Dataset.unpersist()`` only evicts CacheManager entries; a local
    checkpoint's MEMORY_AND_DISK blocks belong to the UNDERLYING
    LogicalRDD and are otherwise freed only when the JVM garbage
    collector reaps the RDD (ContextCleaner) — measured in r17:
    ``df.unpersist()`` left every checkpoint block pinned, so the
    per-pass memo clears were GC-dependent no-ops (ADVICE r16). The
    analyzed plan of a checkpointed frame IS the LogicalRDD; its
    ``rdd()`` is the handle that actually owns the blocks.

    ONLY call this on frames with no live consumers: a checkpoint has
    no lineage to recompute from, so a reader that still references
    the RDD fails hard ("checkpoint block not found") rather than
    recomputing. Session memo clears qualify (every consumer rebuilds
    through the memo); mid-pipeline frames must prove
    the returned plan no longer references them. Py4j internals are
    version-fragile, so any failure falls back to the old
    (GC-dependent) path silently."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; blocks died with it


#: Arrow batch sizing for the engine's Python-boundary operators
#: (guide §4.2 "keep batch sizes large enough for vectorization to pay
#: off"): every mapInPandas operator here streams ONE narrow column
#: (grams/signature payloads/values), so 64k-row batches amortize the
#: per-batch pandas/Arrow overhead ~6× over the 10k default with a few
#: MB of per-task memory. Results are batch-size-independent
#: (Misra-Gries candidates stay a superset and are exactly rescored;
#: signatures are per-row pure functions) — proven by the unchanged
#: oracle in r16. At cluster scale size this to executor memory; on
#: Spark 4 ``spark.sql.execution.arrow.maxBytesPerBatch`` is the more
#: direct control for wide/binary rows.
ARROW_BATCH_ROWS = 65536

_ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def arrow_batch_defaults(spark: SparkSession) -> None:
    """Apply the engine's Arrow batch-size default to ``spark`` unless
    the session sets the conf explicitly — to any value, Spark's own
    default of 10000 included (a deployment that tuned the knob keeps
    its setting). Called at the entry of every Python-boundary operator
    so the optimization is a property of the ENGINE, not of whichever
    harness built the session. Runtime-settable SQL conf; idempotent."""
    try:
        # a None default reads back None only while the conf is unset
        if spark.conf.get(_ARROW_BATCH_CONF, None) is None:
            spark.conf.set(_ARROW_BATCH_CONF, str(ARROW_BATCH_ROWS))
    except Exception:
        pass  # a read-only/conf-locked session keeps its defaults


def table_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap content fingerprint of one or more warehouse tables —
    (relative path, size, mtime_ns) of every data file, hashed.
    ``plans/memo.session_memo`` folds this into every memo key so
    REWRITING the files under an sf_dir within one Spark application
    invalidates the memo instead of silently serving stale results
    (advisor finding, round 12).

    os.stat-based: the memo callers always address local test
    warehouses; a remote (hdfs://, s3a://) sf_dir has no local stat,
    so fall back to the path string itself — the memo then degrades to
    the old key semantics rather than crashing the read path.
    """
    parts: list[str] = []
    for name in sorted(names):
        root = os.path.join(sf_dir, f"{name}.parquet")
        try:
            if os.path.isfile(root):
                st = os.stat(root)
                parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
            else:
                for dirpath, dirnames, filenames in os.walk(root):
                    dirnames.sort()
                    for fn in sorted(filenames):
                        if fn.startswith(("_", ".")):
                            continue
                        st = os.stat(os.path.join(dirpath, fn))
                        rel = os.path.relpath(os.path.join(dirpath, fn), root)
                        parts.append(f"{name}/{rel}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{name}:unstattable")
    import hashlib

    return hashlib.md5("|".join(parts).encode()).hexdigest()


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so queries can use spark.sql."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (reference S1, ``clean_load_2_tf_staging.py:56-57``).

    Production callers pass an explicit schema — ``inferSchema`` does a
    full extra pass over the data, which is unacceptable at scale; it is
    only used when no schema is supplied (parity with the reference).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)


def latest_file(path: str, suffix: str = "") -> str | None:
    """Newest-file discovery (reference S4, ``daily_dag.py:129-137``):
    the reference lists S3 objects and sorts by LastModified. This is
    the same listing through the :mod:`.fs` seam — Hadoop FileSystem
    when a session is up (so hdfs:// and s3a:// inboxes work), local
    ``os`` otherwise — sorted by mtime descending."""
    from . import fs

    entries = fs.list_dir(path)
    if entries is None:
        return None
    cands = [
        e for e in entries if e.name.endswith(suffix) and not e.name.startswith(("_", "."))
    ]
    if not cands:
        return None
    # (mtime, name): remote listings carry millisecond mtimes, so a
    # sub-ms tie must break deterministically (lexicographically-last),
    # never on listing order
    return fs.join(path, max(cands, key=lambda e: (e.mtime, e.name)).name)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Replaces JDBC overwrite/append sinks (reference K1/K2,
    ``clean_load_2_tf_staging.py:92-100``). ``partition_by`` enables
    partition pruning for downstream date/key-filtered scans."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """Report publishing sink (reference K3, ``Task_4_generate_active_table.py:32-35``)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def publish_report(
    df: DataFrame,
    parquet_path: str | None = None,
    csv_path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Multi-sink publish (reference pattern: the report jobs write BOTH
    a warehouse table and a CSV — ``Task_4_generate_active_table.py:32-45``
    — but re-run the whole plan per sink because nothing is cached;
    SURVEY §4). Persist once, write every sink, unpersist."""
    df.persist()
    try:
        if parquet_path is not None:
            write_parquet(df, parquet_path, mode=mode)
        if csv_path is not None:
            write_csv(df, csv_path, mode=mode)
    finally:
        df.unpersist()


def promote_staging(spark: SparkSession, staging_path: str, dim_path: str) -> None:
    """Staging → dim promotion (reference K5, ``daily_dag.py:159-166``:
    ``INSERT INTO dim SELECT * FROM staging`` then ``TRUNCATE staging``):
    parquet-native append of the staging rows to the dim directory, then
    truncate staging by overwriting it with its own empty projection
    (schema preserved so the next cycle's writers/readers agree).

    The append is read→write between directories; the truncate writes
    rows from a ``limit(0)`` plan, so both steps are safe to re-run.
    """
    stg = spark.read.parquet(staging_path)
    write_parquet(stg, dim_path, mode="append")
    empty = spark.createDataFrame([], schema=stg.schema)
    write_parquet(empty, staging_path, mode="overwrite")


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_files: int,
    rebalance: bool = True,
) -> int:
    """Compact a small-files parquet directory into ``target_files``
    evenly-sized files — the maintenance pass every micro-batch or
    per-task sink needs at scale (a streaming upsert writing a file per
    batch per partition turns a 100 TB table into millions of KB-sized
    files, and scan throughput dies on open/footer costs long before
    byte costs).

    ``rebalance=True`` (default) round-robin repartitions — one shuffle,
    but every output file lands at ~bytes/target size regardless of how
    skewed the input files were. ``rebalance=False`` uses ``coalesce``:
    shuffle-free stitching of existing partitions, at the cost of
    inheriting their skew — right when the input is already balanced
    and the job is purely file-count reduction. Content is preserved
    row-for-row (asserted in tests/test_io.py); only layout changes.

    Returns the number of data files written (counted through the
    :mod:`.fs` seam, so the accounting works on hdfs://s3a:// paths,
    not just the local filesystem).
    """
    from . import fs

    if os.path.realpath(src_path) == os.path.realpath(dest_path):
        raise ValueError(
            "compact_parquet: src and dest must differ — the overwrite "
            "write would clear the directory the lazy scan is reading "
            "(write to a work dir and swap for in-place compaction)"
        )
    df = spark.read.parquet(src_path)
    out = df.repartition(target_files) if rebalance else df.coalesce(target_files)
    out.write.mode("overwrite").parquet(dest_path)
    return len(
        [
            e
            for e in (fs.list_dir(dest_path, spark) or [])
            if e.name.endswith(".parquet") and not e.name.startswith(("_", "."))
        ]
    )


# --------------------------------------------------------------------------
# Versioned (time-travel) warehouse snapshots
# --------------------------------------------------------------------------
def write_version(df: DataFrame, base: str, version: int) -> None:
    """Write one immutable snapshot version as ``{base}/v=<n>`` — the
    minimal time-travel layout: versions are whole directories, never
    mutated after write, so "read as of v" is just a path choice and
    concurrent readers of an old version are untouched by a new write
    (the property table formats build compaction/manifests on top of;
    the directory-per-version core is the same)."""
    from . import fs

    if version < 0:
        raise ValueError("version must be non-negative")
    write_parquet(df, fs.join(base, f"v={version}"), mode="overwrite")


def list_versions(base: str) -> list[int]:
    """Committed snapshot versions, ascending. A version counts only
    when its _SUCCESS marker exists — a torn write never becomes
    readable history. Listed through the :mod:`.fs` seam so the
    commit protocol holds on hdfs://s3a:// warehouses too."""
    from . import fs

    entries = fs.list_dir(base)
    if entries is None:
        return []
    out = []
    for e in entries:
        if e.is_dir and e.name.startswith("v=") and fs.exists(
            fs.join(fs.join(base, e.name), "_SUCCESS")
        ):
            try:
                out.append(int(e.name[2:]))
            except ValueError:
                continue
    return sorted(out)


def read_version(spark: SparkSession, base: str, version: int | None = None) -> DataFrame:
    """Time-travel read: the named snapshot, or the LATEST committed
    one when ``version`` is None."""
    versions = list_versions(base)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {base}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions} under {base}")
    from . import fs

    return spark.read.parquet(fs.join(base, f"v={version}"))


def vacuum_versions(base: str, keep_last: int) -> list[int]:
    """Retention vacuum for the versioned warehouse: delete every
    COMMITTED version except the newest ``keep_last``, returning the
    versions removed (ascending). The time-travel contract this
    preserves: surviving versions are untouched directories, the
    latest version is never eligible, and a torn (un-committed,
    no ``_SUCCESS``) directory is left alone — it may be an in-flight
    write; it was never readable history, so retention has no claim on
    it. Idempotent: re-running removes nothing.

    Scale: pure metadata work through the :mod:`.fs` seam (list +
    per-victim recursive delete on any scheme); no data is read. The
    table formats' vacuum adds referenced-file tracking on top; with
    whole-directory versions, directory removal IS the referenced-file
    story."""
    from . import fs

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the latest version must survive)")
    versions = list_versions(base)
    victims = versions[:-keep_last] if len(versions) > keep_last else []
    for v in victims:
        fs.delete(fs.join(base, f"v={v}"))
    return victims
