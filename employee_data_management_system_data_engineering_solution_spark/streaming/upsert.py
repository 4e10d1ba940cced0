"""Streaming upsert: ``foreachBatch`` merge of a micro-batched event
stream into a keyed parquet dim — the streaming half of the
reference's clean→stage→merge loop (its README describes Kafka
messages updating the employee dim; SURVEY §2.9).

Mechanics: the events table is split into deterministic micro-batch
files (``event_id % n``), replayed through a file-source stream one
file per trigger, and every micro-batch is MERGED into the dim with an
associative combine (count/sum add), so the final dim state equals the
one-shot batch aggregate regardless of batch boundaries — which is
exactly what the oracle checks.

Scale notes: ``foreachBatch`` + keyed merge is the idiomatic Spark
pattern for streaming upserts onto table formats; the merge itself is
one shuffle join per micro-batch on the dim key. The dim swap is
write-new → atomic rename, never read-and-overwrite in place (a
lazy-read overwrite of the same path loses data). State never lives in
the stream (no ``applyInPandasWithState`` here): the dim IS the state,
so micro-batch size bounds memory, not key cardinality.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import parquet_schema, read_parquet, scratch_dir
from .replay import stream_confs


def _stage_batches(spark: SparkSession, sf_dir: str, stage_dir: str, n_batches: int) -> None:
    """Split events into n deterministic single-file micro-batches in
    ONE pass: ``partitionBy`` on the computed batch id writes every
    split in a single job (n filtered re-scans of the source would cost
    n × scan). ``repartition(n, batch)`` puts each batch id in exactly
    one task, so each partition directory holds exactly one file."""
    part_root = os.path.join(stage_dir, "__parts")
    (
        read_parquet(spark, f"{sf_dir}/events.parquet")
        # pmod + coalesce: a NULL event_id lands in batch 0 and a
        # negative one in [0, n) — a plain % would route both to
        # partition dirs (__HIVE_DEFAULT_PARTITION__ / __b=-1) the
        # staging loop never collects, silently dropping the rows
        .withColumn(
            "__b",
            F.coalesce(F.pmod(F.col("event_id"), F.lit(n_batches)), F.lit(0)),
        )
        .repartition(n_batches, F.col("__b"))
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(part_root)
    )
    for i in range(n_batches):
        part_dir = os.path.join(part_root, f"__b={i}")
        if not os.path.isdir(part_dir):
            continue  # empty input writes no partition dirs at all
        part_file = next(
            f for f in os.listdir(part_dir) if f.endswith(".parquet") and f.startswith("part-")
        )
        os.replace(os.path.join(part_dir, part_file), os.path.join(stage_dir, f"batch_{i}.parquet"))
    shutil.rmtree(part_root, ignore_errors=True)


def run_upsert_stream(spark: SparkSession, sf_dir: str, n_batches: int = 2) -> DataFrame:
    """Replay events in ``n_batches`` micro-batches, foreachBatch-merge
    per-user (n_events, total_value) into a parquet dim, return the
    final dim. Deterministic and idempotent per invocation (staging and
    dim dirs are rebuilt each call).

    Two batches are the minimum that still exercises BOTH merge paths
    (batch 0 inserts its keys; batch 1 updates the users it shares with
    batch 0 and inserts any it doesn't), and each extra batch costs a
    full read-dim→union→rewrite cycle — ~0.8 s at sf0.1 — so the
    default stays at 2; raise it to stress repeated-merge behavior."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    root = scratch_dir("upsert", sf_dir)
    stage_dir, dim_dir = os.path.join(root, "stage"), os.path.join(root, "dim")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(stage_dir)

    _stage_batches(spark, sf_dir, stage_dir, n_batches)

    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage_dir)
    )
    # the schema of the dim as last written: its read-backs declare it
    dim_schema = None

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        nonlocal dim_schema
        # exact decimal partials: the cross-batch re-adds would
        # otherwise accumulate order-dependent double error (see
        # functions/money.py)
        from ..functions.money import money

        agg = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).alias("sum_value"),
        )
        if os.path.isdir(dim_dir):
            cur = read_parquet(spark, dim_dir, dim_schema)
            merged = (
                cur.alias("c")
                .join(agg.alias("a"), "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("c.n_events"), F.lit(0))
                        + F.coalesce(F.col("a.n_events"), F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce(F.col("c.sum_value"), F.lit("0.00").cast("decimal(22,2)"))
                        + F.coalesce(F.col("a.sum_value"), F.lit("0.00").cast("decimal(22,2)"))
                    ).alias("sum_value"),
                )
            )
        else:
            merged = agg
        nxt = dim_dir + ".next"
        merged.write.mode("overwrite").parquet(nxt)
        shutil.rmtree(dim_dir, ignore_errors=True)
        os.replace(nxt, dim_dir)
        dim_schema = merged.schema

    # no state: the merge keeps the session's shuffle partitions
    with stream_confs(spark, None):
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    if not os.path.isdir(dim_dir):
        # empty replay: no batch ever fired, so no dim was written —
        # return the dim's schema with zero rows instead of failing
        # the read (mirrors a first-ever run over an empty topic)
        return spark.createDataFrame(
            [], "user_id LONG, n_events LONG, total_value DOUBLE"
        )

    out = read_parquet(spark, dim_dir, dim_schema).select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("total_value"),
    )
    # DRIVER-BOUNDED collect: the dim is one aggregated row per user
    # (O(#users), ~150 rows at tested sf) and the round-trip detaches
    # the result from dim_dir, which the next invocation deletes. A
    # production caller reads the dim parquet directly instead.
    return spark.createDataFrame(out.collect(), schema=out.schema)
