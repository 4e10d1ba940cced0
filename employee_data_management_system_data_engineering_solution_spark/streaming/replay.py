"""File-source replay scaffolding for the streaming carriers.

The driver's ``events`` table stands in for the Kafka feed: each
carrier stages the parquet file into a fresh directory, runs a
micro-batch stream over it with an update-mode memory sink, and
returns the materialized result. In production only the source line
changes (``spark.readStream.format("kafka")``).

``replayed_events`` centralizes the shared mechanics: NANOS-safe
schema, state-partition sizing (per-partition state-store + Arrow
worker setup dominates small-key batches), deterministic sink naming,
and guaranteed cleanup of the staging dir, stream query, temp view,
and shuffle-partition conf.

Cost anatomy (measured at sf0.1): staging (mkdtemp + symlink +
sentinel write) is 0.03-0.14 s; essentially the whole per-carrier cost
is the streaming query itself — planning, offset/commit logs, and one
state-store commit cycle per partition per stateful operator per
batch. Hence the levers that matter are state_partitions (default 4
here; sized to key cardinality in production) and batch count, NOT
staging reuse — a shared staging dir across carriers was measured and
rejected as noise-level.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: The at-scale state store: RocksDB keeps state off-heap on local
#: disk, bounding executor memory by the working set instead of the
#: full key space — the standard choice for production stateful
#: streams (large key cardinality, changelog checkpointing). The
#: default HDFS-backed provider keeps every key in executor memory.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def stream_confs(
    spark: SparkSession, state_partitions: int, state_store_provider: str | None = None
) -> Iterator[None]:
    """Session confs every stream run pins: NANOS-safe parquet reads,
    the stateful exchange's partition count, and (optionally) the
    state-store provider. Each is restored to its prior value — or
    unset, if it had none — on exit."""
    pinned = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": str(state_partitions),
    }
    if state_store_provider is not None:
        pinned[_PROVIDER_CONF] = state_store_provider
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


@contextmanager
def replayed_events(
    spark: SparkSession,
    sf_dir: str,
    state_partitions: int = 4,
    sentinel_batches: Sequence[Sequence[dict]] = (),
    max_files_per_trigger: int | None = 1,
    state_store_provider: str | None = None,
) -> Iterator[tuple[DataFrame, Callable[[DataFrame, str], DataFrame]]]:
    """Yield ``(stream_df, run)`` where ``stream_df`` is the streaming
    view of ``{sf_dir}/events.parquet`` and ``run(result_df, name, output_mode)``
    executes the streaming plan through a memory sink (update mode by
    default; session-window aggregations require complete/append)
    (availableNow trigger) and returns the sink table, materialized so
    it survives the cleanup that follows the ``with`` block.

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

    ``state_store_provider``: fully-qualified provider class for the
    stateful operators' state store (``ROCKSDB_PROVIDER`` for the
    at-scale RocksDB store); ``None`` keeps the session default
    (HDFS-backed in-memory). Every conf is restored on exit
    (:func:`stream_confs`)."""
    from ..sources.io import normalize_nanos, parquet_schema

    stage_dir = tempfile.mkdtemp(prefix="eds_stream_")
    queries = []
    names = []
    try:
        with stream_confs(spark, state_partitions, state_store_provider):
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

            def run(result: DataFrame, name: str, output_mode: str = "update") -> DataFrame:
                q = (
                    result.writeStream.outputMode(output_mode)
                    .format("memory")
                    .queryName(name)
                    .trigger(availableNow=True)
                    .start()
                )
                queries.append(q)
                names.append(name)
                q.awaitTermination()
                out = spark.table(name)
                # DRIVER-BOUNDED collect: the memory sink already holds the
                # result on the driver, and every carrier aggregates before
                # sinking (per-key/window counts, <= a few thousand rows at
                # any tested sf). The round-trip only detaches the frame
                # from the temp view dropped below. Do NOT lift this into a
                # production sink path — raw/unaggregated streams must go
                # to a file/Kafka sink instead.
                return spark.createDataFrame(out.collect(), schema=out.schema)

            yield normalize_nanos(stream), run
    finally:
        for q in queries:
            q.stop()
        for name in names:
            spark.catalog.dropTempView(name)
        shutil.rmtree(stage_dir, ignore_errors=True)
