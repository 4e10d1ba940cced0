"""Kafka source factory for the communication-monitoring stream.

The reference specifies the Task-5 feed as arriving via Kafka
(``/root/reference/README.md:103-105``) but ships no code. The test
carriers in this package run on the file-replay stand-in
(``replay.replayed_events``) because the sandbox has no broker; this
module supplies the production source so a cluster user can point the
SAME strike pipeline (``strikes.flag_messages`` →
``applyInPandasWithState`` machine) at a real topic:

    raw    = kafka_reader(spark, "broker:9092", "emp-comms").load()
    events = parse_kafka_events(raw)
    ...identical plan from here on...

Wire contract: each Kafka record's ``value`` is one UTF-8 JSON object
with the events-table fields —
``{"event_id": long, "ts": ISO-8601 string, "user_id": long,
"event_type": str, "value": double, "props": JSON string}`` —
so a parsed Kafka frame is column-compatible with the replayed parquet
frame and every downstream operator is source-agnostic.

Testing: the JSON parse/projection is covered by unit tests on static
frames shaped like Kafka's wire schema (binary key/value + topic/
partition/offset/timestamp), and option plumbing is tested on the
built option dict. ``kafka_reader(...).load()`` itself requires the
``spark-sql-kafka`` package and a reachable broker, which the sandbox
lacks — that one line is exercised only on a real cluster, and is
deliberately kept a one-liner so everything testable is tested.

Scale notes: ``maxOffsetsPerTrigger`` bounds each micro-batch (back-
pressure); ``minPartitions`` lets Spark split oversized topic
partitions so executor parallelism is not capped by the topic's
partition count. ``from_json`` with an explicit schema is JVM-side —
no Python in the parse path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Parsed payload schema == the events-table shape every carrier uses.
EVENTS_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),  # ISO-8601; to_timestamp below
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
    fail_on_data_loss: bool = True,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Validated option dict for ``readStream.format("kafka")``.

    Kept separate from the reader so tests can assert the plumbing
    without a broker, and so callers can log/inspect the exact source
    config they deploy."""
    if not bootstrap_servers:
        raise ValueError("bootstrap_servers is required (host1:port1[,host2:port2...])")
    if not topic:
        raise ValueError("topic is required")
    if starting_offsets not in ("earliest", "latest") and not starting_offsets.startswith("{"):
        raise ValueError(
            "starting_offsets must be 'earliest', 'latest', or a per-partition JSON spec"
        )
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        if max_offsets_per_trigger <= 0:
            raise ValueError("max_offsets_per_trigger must be positive")
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if min_partitions is not None:
        if min_partitions <= 0:
            raise ValueError("min_partitions must be positive")
        opts["minPartitions"] = str(min_partitions)
    # extras may add passthrough options (kafka.* client confs etc.)
    # but must not silently override the validated core options above —
    # that would bypass the validation this function advertises. The
    # clash check runs against the FULL core option-name set, not just
    # the keys present in this call's opts dict: leaving
    # max_offsets_per_trigger unset must not open a side door for
    # extra={"maxOffsetsPerTrigger": "0"} to skip the positivity check.
    core = {
        "kafka.bootstrap.servers",
        "subscribe",
        "startingOffsets",
        "failOnDataLoss",
        "maxOffsetsPerTrigger",
        "minPartitions",
    }
    clash = sorted(k for k in (extra or {}) if k in core)
    if clash:
        raise ValueError(
            f"extra options would override validated core options: {clash}; "
            "pass these through the named parameters instead"
        )
    for k, v in (extra or {}).items():
        opts[k] = v
    return opts


def kafka_reader(spark: SparkSession, bootstrap_servers: str, topic: str, **kwargs):
    """A configured ``DataStreamReader`` for the topic; call ``.load()``
    on a cluster with the spark-sql-kafka package to start the feed."""
    return spark.readStream.format("kafka").options(
        **kafka_source_options(bootstrap_servers, topic, **kwargs)
    )


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka wire frame → events-shaped frame.

    Works identically on the streaming frame from
    ``kafka_reader(...).load()`` and on a static test frame carrying
    the same columns (``value`` binary is all it reads). Rows whose
    payload fails to parse keep NULL fields rather than killing the
    stream — count them with ``filter(col("event_id").isNull())`` as a
    dead-letter metric."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), EVENTS_PAYLOAD_SCHEMA).alias("j")
    )
    return parsed.select(
        F.col("j.event_id").alias("event_id"),
        F.to_timestamp("j.ts").alias("ts"),
        F.col("j.user_id").alias("user_id"),
        F.col("j.event_type").alias("event_type"),
        F.col("j.value").alias("value"),
        F.col("j.props").alias("props"),
    )


#: Kafka's full wire schema, as ``readStream.format("kafka")`` delivers
#: it. A file-backed replay dir written in this shape is plug-compatible
#: with the broker source, so the composed topology below is testable
#: end-to-end in the sandbox and deployable unchanged on a cluster.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def run_strike_stream_from_wire(spark: SparkSession, wire_dir: str) -> DataFrame:
    """The COMPLETE production Kafka topology in one call: wire frames →
    ``parse_kafka_events`` → reserved-word ``flag_messages`` over the
    message payload (the production path, not the ``event_type``
    stand-in) → the bucketed stateful strike machine → final state
    (emp_id, strike_count, status).

    ``wire_dir`` holds parquet files of ``KAFKA_WIRE_SCHEMA`` rows —
    a file-backed stand-in whose one-line difference from production is
    the source (``readStream.parquet(dir)`` here,
    ``kafka_reader(...).load()`` on a cluster); every operator after
    the source is byte-identical. One staged file per micro-batch, so a
    multi-file dir exercises cross-batch state continuation exactly as
    a long-lived topic would.
    """
    from .replay import STATE_PARTITIONS, run_memory_sink, stream_confs
    from .strikes import _latest_state, _strike_states, flag_messages

    with stream_confs(spark, STATE_PARTITIONS):
        wire = (
            spark.readStream.schema(KAFKA_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(wire_dir)
        )
        prepared = flag_messages(parse_kafka_events(wire), "props").select(
            F.col("user_id").alias("emp_id"),
            "flagged",
            F.date_format("ts", "yyyy-MM").alias("month"),
        )
        out = run_memory_sink(spark, _strike_states(prepared), "kafka_wire_strikes_sink")
    return _latest_state(out)
