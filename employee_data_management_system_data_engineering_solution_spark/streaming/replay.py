"""File-source replay scaffolding for the streaming carriers.

The driver's ``events`` table stands in for the Kafka feed: each
carrier stages the parquet file into a fresh directory, runs a
micro-batch stream over it with an update-mode memory sink, and
returns the materialized result. In production only the source line
changes (``spark.readStream.format("kafka")``).

``replayed_events`` centralizes the shared mechanics: NANOS-safe
schema, the state-partition count (:data:`STATE_PARTITIONS`), and
guaranteed cleanup of the staging dir and the pinned confs.
:func:`run_memory_sink` runs one plan through a named memory sink and
stops its query and drops its view before it returns.

The state-store provider is a session conf, not a parameter: a session
built with ``spark.sql.streaming.stateStore.providerClass`` set to
:data:`ROCKSDB_PROVIDER` runs every stateful carrier on RocksDB, and
:func:`stream_confs` leaves that key alone.

Cost anatomy (measured at sf0.1): staging (mkdtemp + symlink +
sentinel write) is 0.03-0.14 s; essentially the whole per-carrier cost
is the streaming query itself — planning, offset/commit logs, and one
state-store commit cycle per partition per stateful operator per
batch. Hence the levers that matter are :data:`STATE_PARTITIONS` and
batch count, NOT staging reuse — a shared staging dir across carriers
was measured and rejected as noise-level.

On a host without Hadoop's native library (``libhadoop``; pip pyspark
ships none) the log and state commits were mostly spent starting
processes: Spark's default checkpoint manager is ``FileContext``-based,
and its rename and status checks each start a ``readlink``, while every
file create and mkdir starts a ``chmod``. A steady-state strike pass
started 127 of them (88 ``readlink``, 39 ``chmod``), and each offset,
commit or source log write took 40-60 ms. :func:`stream_confs` pins the
``FileSystem``-based manager, whose rename on ``file://`` is one POSIX
``rename``, and ``session.get_session`` sets permissions in-process
(see its module docstring); together a log write takes 2-6 ms and a
pass starts no process.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame, SparkSession

#: The at-scale state store: RocksDB keeps state off-heap on local
#: disk, bounding executor memory by the working set instead of the
#: full key space — the standard choice for production stateful
#: streams (large key cardinality, changelog checkpointing). The
#: default HDFS-backed provider keeps every key in executor memory.
#: Select it on the session (``spark.sql.streaming.stateStore.providerClass``).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: Shuffle partitions of every stateful stream run, and so its state
#: store count. Each partition carries a state store and an Arrow
#: Python worker, a fixed per-partition setup cost per batch. The
#: strike operator groups by ``strikes.STATE_BUCKETS`` key buckets, so
#: at most that many groups spread over the partitions whatever the
#: key count; more partitions than buckets leave some idle. 32
#: partitions measured 5x slower than 8 on a 1,500-key batch, and 4 is
#: another ~15-30% cheaper across the carriers at sf0.1 with identical
#: results. Size it to the executor count in production (at most
#: ``STATE_BUCKETS``). A checkpoint pins it: its offset log records
#: ``spark.sql.shuffle.partitions`` and a restart runs with the
#: recorded value, so a new value takes effect only on a fresh
#: checkpoint.
STATE_PARTITIONS = 4

_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark's stock manager for filesystems without FileContext support;
#: on ``file://`` its atomic write is create-temp + POSIX ``rename``.
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def stream_confs(spark: SparkSession, state_partitions: int | None) -> Iterator[None]:
    """Session confs every stream run pins: NANOS-safe parquet reads,
    the stateful exchange's partition count (left alone when
    ``state_partitions`` is None) and the ``FileSystem``-based
    checkpoint manager. Each is restored to its prior value — or
    unset, if it had none — on exit. The state-store provider is the
    session's own.

    The default ``FileContext``-based manager reaches Hadoop's
    ``RawLocalFs.getFileLinkStatus`` on every rename and status check,
    which starts a ``readlink`` process when ``libhadoop`` is absent:
    88 per strike pass, 40-60 ms per log write. The ``FileSystem``-based
    one renames with one POSIX ``rename`` on ``file://``. On
    ``file://`` both check that the target is absent and then rename,
    so the pin changes the cost, not the guarantee."""
    pinned = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        _CHECKPOINT_MANAGER_CONF: FILESYSTEM_CHECKPOINT_MANAGER,
    }
    if state_partitions is not None:
        pinned["spark.sql.shuffle.partitions"] = str(state_partitions)
    prior = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Event-time for watermark-advancing sentinel batches — far past any
#: real event so `sentinel_ts(k) - delay` finalizes every data window.
_SENTINEL_BASE_NS = 4_102_444_800 * 1_000_000_000  # 2100-01-01 UTC
_SENTINEL_STEP_NS = 86_400 * 1_000_000_000  # +1 day per extra batch


def _write_sentinel_file(src: str, path: str, rows: Sequence[dict], ts_ns: int) -> None:
    """One tiny parquet file with the exact physical schema of the
    events table (incl. TIMESTAMP(NANOS) ts) so the file stream reads
    it interchangeably with the real file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(src).remove_metadata()
    cols = {
        "event_id": [int(r.get("event_id", -1)) for r in rows],
        "ts": pa.array([ts_ns] * len(rows), type=pa.timestamp("ns")),
        "user_id": [int(r.get("user_id", -1)) for r in rows],
        "event_type": [str(r["event_type"]) for r in rows],
        "value": [float(r.get("value", 0.0)) for r in rows],
        "props": [str(r.get("props", "{}")) for r in rows],
    }
    table = pa.table({f.name: cols[f.name] for f in schema}, schema=schema)
    pq.write_table(table, path)


def run_memory_sink(
    spark: SparkSession, result: DataFrame, name: str, output_mode: str = "update"
) -> DataFrame:
    """Run the streaming plan ``result`` to completion through a memory
    sink named ``name`` (availableNow trigger; update mode by default,
    session-window aggregations need complete/append) and return the
    sink table detached from its view. The query is stopped and the
    view dropped before this returns, whether or not the run failed."""
    q = None
    try:
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
        # DRIVER-BOUNDED collect: the memory sink already holds the
        # result on the driver, and every carrier aggregates before
        # sinking (per-key/window counts, <= a few thousand rows at any
        # tested sf). The round-trip only detaches the frame from the
        # temp view dropped below. Do NOT lift this into a production
        # sink path — raw/unaggregated streams must go to a file/Kafka
        # sink instead.
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        if q is not None:
            q.stop()
        spark.catalog.dropTempView(name)


@contextmanager
def replayed_events(
    spark: SparkSession,
    sf_dir: str,
    sentinel_batches: Sequence[Sequence[dict]] = (),
    max_files_per_trigger: int | None = 1,
) -> Iterator[tuple[DataFrame, Callable[..., DataFrame]]]:
    """Yield ``(stream_df, run)`` where ``stream_df`` is the streaming
    view of ``{sf_dir}/events.parquet`` and ``run(result_df, name,
    output_mode="update")`` is :func:`run_memory_sink` on this session:
    it executes the streaming plan and returns the sink table,
    materialized so it survives the cleanup that follows the ``with``
    block.

    ``sentinel_batches``: optional extra micro-batches staged AFTER the
    real file (ascending mtime), each a list of row dicts written at a
    far-future event time. Append-mode plans only emit a finalized
    group once the watermark passes it, so a carrier whose sink must
    contain every data group stages ONE sentinel batch to advance the
    watermark past all real event time; ``availableNow`` then runs a
    no-data flush batch in which the finalized groups emit. Sentinel
    rows must be inert for the carrier's own logic (unmatchable
    keys).

    ``max_files_per_trigger``: 1 (default) replays file-per-micro-batch
    — the multi-batch semantics the stateful carriers exist to
    demonstrate. ``None`` lets one batch ingest every staged file:
    correct for carriers whose per-batch cadence doesn't matter (the
    watermark still finalizes in the trailing no-data flush batch), and
    each dropped batch saves a full stateful-commit cycle across every
    state partition and operator.

    Every conf is restored on exit (:func:`stream_confs`)."""
    from ..sources.io import normalize_nanos, parquet_schema

    stage_dir = tempfile.mkdtemp(prefix="eds_stream_")
    try:
        with stream_confs(spark, STATE_PARTITIONS):
            src = f"{sf_dir}/events.parquet"
            os.symlink(src, f"{stage_dir}/events.parquet")
            base_mtime = os.path.getmtime(f"{stage_dir}/events.parquet")
            for i, rows in enumerate(sentinel_batches):
                p = os.path.join(stage_dir, f"z_sentinel_{i}.parquet")
                _write_sentinel_file(src, p, rows, _SENTINEL_BASE_NS + i * _SENTINEL_STEP_NS)
                os.utime(p, (base_mtime + 60 * (i + 1), base_mtime + 60 * (i + 1)))
            reader = spark.readStream.schema(parquet_schema(spark, src))
            if max_files_per_trigger is not None:
                reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
            stream = reader.parquet(stage_dir)
            yield normalize_nanos(stream), partial(run_memory_sink, spark)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
