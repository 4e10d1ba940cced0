"""Communication-monitoring strike pipeline (SURVEY.md §2.9).

The reference specifies this in ``README.md:101-105`` (real-time Kafka
messages; flag against reserved words; strike accumulation; salary
deduction per strike; >= 10 strikes ⇒ INACTIVE; monthly cooldown reset)
but ships no code — only the prepared columns ``strike_count``,
``updated_salary``, ``cooldown_start_date``
(``clean_load_2_tf_staging.py:87-90``). This module implements those
semantics on Structured Streaming, with the driver's ``events`` table
standing in for the Kafka feed (``user_id``→emp_id, ``event_type`` ==
'error' → flagged message; a reserved-word ``rlike`` over a message
column is the production path and is exposed via ``flag_messages``).

Scale notes: the stateful path (``applyInPandasWithState``) groups by
a fixed key bucket, ``pmod(xxhash64(emp_id), STATE_BUCKETS)``, not by
employee. Each bucket's state row holds parallel arrays with one slot
per employee, so the state store holds at most ``STATE_BUCKETS`` rows
and each micro-batch makes at most that many Python group calls,
however many employees it touches — per-group Arrow slicing and pandas
conversion, not the fold, dominated the per-employee layout. State
size is still O(#employees), not O(#messages). The trade-off shows at
large key counts: every bucket a batch touches is rewritten whole (all
of its employees), so per-batch state-store writes grow with
#employees / STATE_BUCKETS per touched bucket instead of with the
employees actually updated. The batch-equivalent aggregation is a
single partial-agg shuffle used for the DuckDB oracle and backfills.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RESERVED_WORDS = ["confidential", "secret", "prohibited", "error"]
BASE_SALARY = 100000.0
STRIKE_LIMIT = 10
DEDUCTION_RATE = 0.10  # salary multiplier per strike: *(1 - 0.10)


def flag_messages(df: DataFrame, message_col: str, words: list[str] | None = None) -> DataFrame:
    """Per-message reserved-word flag (``README.md:104``): word-boundary
    regex against the reserved list, JVM-side."""
    pattern = r"\b(" + "|".join(words or RESERVED_WORDS) + r")\b"
    return df.withColumn("flagged", F.lower(F.col(message_col)).rlike(pattern))


def flagged_expr(event_type_col: str = "event_type") -> Column:
    """Stand-in flag for the driver's ``events`` table: 'error' events
    are the flagged communications."""
    return F.col(event_type_col) == "error"


def strike_report(events: DataFrame, emp_col: str = "user_id") -> DataFrame:
    """Batch-equivalent of the stream state: strikes per employee,
    INACTIVE at >= STRIKE_LIMIT, compounded salary deduction.

    Output: (emp_id, strike_count, status, updated_salary).
    """
    strikes = (
        events.filter(flagged_expr())
        .groupBy(F.col(emp_col).alias("emp_id"))
        .agg(F.count("*").alias("strike_count"))
    )
    return strikes.select(
        "emp_id",
        "strike_count",
        F.when(F.col("strike_count") >= STRIKE_LIMIT, F.lit("INACTIVE"))
        .otherwise(F.lit("ACTIVE"))
        .alias("status"),
        F.round(
            F.lit(BASE_SALARY)
            * F.pow(F.lit(1.0 - DEDUCTION_RATE), F.least(F.col("strike_count"), F.lit(STRIKE_LIMIT))),
            2,
        ).alias("updated_salary"),
    )


#: Key buckets of the applyInPandasWithState strike operator: it groups
#: by ``pmod(xxhash64(emp_id), STATE_BUCKETS)``, so one Python group
#: call folds every employee of a bucket and the state store holds at
#: most this many rows. A module constant, not a parameter: the
#: checkpoint pins the grouping key the same way it pins the
#: shuffle-partition count, so a different value needs a fresh
#: checkpoint.
STATE_BUCKETS = 64

#: Per-employee strike state, as the transformWithState tier
#: (:class:`StrikeProcessor`) stores it.
_STATE_SCHEMA = StructType(
    [
        StructField("strikes", IntegerType()),
        StructField("month", StringType()),
        StructField("timeless", IntegerType()),
    ]
)
#: Per-bucket state of the applyInPandasWithState tier: parallel
#: arrays holding one slot per employee ever seen in the bucket.
_BUCKET_STATE_SCHEMA = StructType(
    [
        StructField("emp_id", ArrayType(LongType())),
        StructField("strikes", ArrayType(IntegerType())),
        StructField("month", ArrayType(StringType())),
        StructField("timeless", ArrayType(IntegerType())),
    ]
)
_OUTPUT_SCHEMA = StructType(
    [
        StructField("emp_id", LongType()),
        StructField("strike_count", IntegerType()),
        StructField("status", StringType()),
        StructField("month", StringType()),
    ]
)


def _coerce_state(raw) -> tuple[int, str, int]:
    """Normalize a stored per-employee strike tuple to the 3-field
    ``_STATE_SCHEMA`` shape.

    Strike checkpoints are not portable across state-layout changes:
    Spark's state-store schema check rejects a checkpoint whose key or
    value schema differs before Python sees a row (observed as
    STRUCT_ARRAY_LENGTH_MISMATCH when the value widened from 2 fields
    to 3). Two such changes happened: the value gained the timeless
    counter, and the applyInPandasWithState tier moved from one state
    row per employee to one :data:`_BUCKET_STATE_SCHEMA` row per key
    bucket (key and value both changed). A checkpoint written before
    either change MUST be discarded and the stream replayed from the
    source. This coercion is defense in depth for the one tier that
    still stores per-employee tuples, on handles that round-trip
    python tuples without a JVM schema check (the fake typed-state
    handle in the transformWithState parity tests, any future such
    handle): a legacy (strikes, month) pair loads as timeless=0
    instead of failing to unpack.
    """
    if raw is None:
        return 0, "", 0
    vals = tuple(raw)
    if len(vals) == 2:  # legacy shape: no timeless counter
        return int(vals[0]), vals[1], 0
    strikes, month, timeless = vals
    return int(strikes), month, int(timeless)


def _fold_employee(
    strikes: int,
    month: str,
    timeless: int,
    month_counts: Iterable[tuple[str, int]],
    n_timeless: int,
) -> tuple[int, str, int]:
    """One micro-batch of ONE employee's flagged rows folded into its
    strike state — the fold every stateful API tier runs (the bucketed
    applyInPandasWithState machine, :func:`_strike_state_fn`, and the
    transformWithState twin, :class:`StrikeProcessor`), so the tiers
    cannot drift. ``month_counts`` are the batch's (month, flagged
    count) pairs; ``n_timeless`` counts its flagged rows with no month.

    Three rules, all here:

    * Months are folded in ascending order within a batch. A new month
      resets the strikes unless they already reached STRIKE_LIMIT
      (the monthly cooldown, ``README.md:105``).
    * The cooldown reset keys on the DATED count only. A reset gated on
      the total would fire or not depending on how early the timeless
      rows arrive.
    * The timeless counter is never reset. A flagged row with NULL ts
      carries no position in event time, so no month's cooldown can
      claim it; the reported strike_count/status are computed on dated
      + timeless. This is the one choice whose final state is
      independent of how the feed is split into micro-batches
      (crediting the strike to any month makes the answer depend on
      WHICH batch the malformed row lands in relative to a month
      transition), and one malformed row can never kill the query. The
      closed-form oracle adds the per-employee NULL-ts flagged count
      the same way. Pinned by
      test_timeless_strike_survives_cross_batch_reset
      (tests/test_streaming.py) and the single-batch cases in
      tests/test_empty_inputs.py; the batch twin counts flagged rows
      unconditionally (no cooldown), so dated-vs-timeless cannot
      diverge there.
    """
    timeless += n_timeless
    for m, c in sorted(month_counts):
        if m != month and strikes < STRIKE_LIMIT:
            strikes = 0  # cooldown: new month, threshold not hit
        month = max(month, m)
        strikes += c
    return strikes, month, timeless


def _flagged_counts(pdf: pd.DataFrame) -> tuple[list[tuple[str, int]], int]:
    """(month, count) pairs and the month-less count of one employee's
    flagged rows. A NULL flagged (NULL event_type upstream) is "not
    flagged" — the batch twin's filter(flagged_expr()) drops it the
    same way."""
    months = pdf.loc[pdf["flagged"].eq(True), "month"]
    dated = months[months.notna()].value_counts()
    return [(m, int(c)) for m, c in dated.items()], int(months.isna().sum())


def _strike_state_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The strike machine for one key bucket: folds the micro-batch
    rows of every employee in the bucket, then emits ONE frame holding
    only the employees that are new or whose state changed — an
    unchanged employee's last emission is still its state. Flagged
    counts per (employee, month) come from numpy; the Python loop runs
    only over employees with flagged rows, through
    :func:`_fold_employee` (the per-employee contract).

    Rows arrive as :func:`_strike_states` prepares them: ``emp_id``
    with NULL coalesced to 0 plus an ``emp_null`` flag, so NULL stays a
    key of its own and no id is widened to float64."""
    frames = list(pdfs)
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    ids, strikes, months, timeless = (
        [list(v) for v in state.get] if state.exists else [[], [], [], []]
    )
    slot = {e: i for i, e in enumerate(ids)}

    emp = pdf["emp_id"].to_numpy(np.int64)
    is_null = pdf["emp_null"].to_numpy(bool)
    uniq, inv = np.unique(emp[~is_null], return_inverse=True)
    code = np.full(len(emp), len(uniq))  # NULL emp_id: the last key
    code[~is_null] = inv
    changed = set()
    at = []  # state slot per key code
    for k in uniq.tolist() + ([None] if is_null.any() else []):
        if k not in slot:  # first sighting emits, strike or not
            slot[k] = len(ids)
            changed.add(len(ids))
            ids.append(k)
            strikes.append(0)
            months.append("")
            timeless.append(0)
        at.append(slot[k])

    flagged = pdf["flagged"].eq(True).to_numpy()
    month = pdf["month"].to_numpy(object)
    has_month = pd.notna(month)
    n_timeless = np.bincount(code[flagged & ~has_month], minlength=len(at))
    dated = flagged & has_month
    names, m_code = np.unique(month[dated].astype(str), return_inverse=True)
    names = names.tolist()
    nm = max(len(names), 1)
    pairs, counts = np.unique(code[dated] * nm + m_code, return_counts=True)
    per_key: dict[int, list[tuple[str, int]]] = {}
    for p, c in zip(pairs.tolist(), counts.tolist()):
        per_key.setdefault(p // nm, []).append((names[p % nm], c))

    for c in per_key.keys() | set(np.flatnonzero(n_timeless).tolist()):
        i = at[c]
        old = (strikes[i], months[i], timeless[i])
        new = _fold_employee(*old, per_key.get(c, ()), int(n_timeless[c]))
        if new != old:
            strikes[i], months[i], timeless[i] = new
            changed.add(i)

    if not changed:
        return
    state.update((ids, strikes, months, timeless))
    rows = sorted(changed)
    total = np.array([strikes[i] + timeless[i] for i in rows], np.int32)
    yield pd.DataFrame(
        {
            "emp_id": pd.array([ids[i] for i in rows], dtype="Int64"),
            "strike_count": total,
            "status": np.where(total >= STRIKE_LIMIT, "INACTIVE", "ACTIVE").astype(object),
            "month": [months[i] for i in rows],
        }
    )


def _prepared_events(stream: DataFrame) -> DataFrame:
    """Events-shaped frame → the strike operator's input (emp_id,
    flagged, month) with the ``event_type`` flag stand-in."""
    return stream.select(
        F.col("user_id").alias("emp_id"),
        flagged_expr().alias("flagged"),
        F.date_format("ts", "yyyy-MM").alias("month"),
    )


def _strike_states(prepared: DataFrame) -> DataFrame:
    """The stateful strike operator over ``prepared`` (emp_id, flagged,
    month): one applyInPandasWithState group per key bucket
    (:data:`STATE_BUCKETS`). Update-mode output in ``_OUTPUT_SCHEMA``:
    per micro-batch, one row per employee that is new or whose state
    changed."""
    emp = F.col("emp_id")
    keyed = prepared.select(
        # pandas widens a NULL-bearing long column to float64, which
        # rounds ids above 2**53: ship a non-NULL id plus a NULL flag
        F.coalesce(emp, F.lit(0).cast("long")).alias("emp_id"),
        emp.isNull().alias("emp_null"),
        "flagged",
        "month",
        F.pmod(F.xxhash64(emp), F.lit(STATE_BUCKETS)).alias("bucket"),
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _strike_state_fn,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _latest_state(out: DataFrame) -> DataFrame:
    """Final per-employee state from update-mode strike emissions in a
    memory sink, which carry no batch id: per employee, the emission
    with the latest (month, strike_count) wins."""
    from pyspark.sql import Window

    w = Window.partitionBy("emp_id").orderBy(
        F.col("month").desc(), F.col("strike_count").desc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("emp_id", "strike_count", "status")
    )


def run_windowed_flag_stream(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "1 day",
    watermark_delay: str = "1 day",
    state_partitions: int = 4,
) -> DataFrame:
    """Watermarked tumbling-window flagged-message counts per employee
    (SURVEY.md §2.9's standard carrier: ``withWatermark`` + ``window()``
    — the idiomatic Structured Streaming shape for the strike counter,
    tolerant of late data up to ``watermark_delay``).

    Returns (window_start, window_end, emp_id, n_flagged) as a batch
    DataFrame. The post-stream MAX collapse keeps the latest emission
    per window should the replay ever split into multiple micro-batches.
    """
    from .replay import replayed_events

    with replayed_events(spark, sf_dir, state_partitions) as (stream, run):
        flagged = stream.filter(flagged_expr()).select(
            F.col("user_id").alias("emp_id"), "ts"
        )
        agg = (
            flagged.withWatermark("ts", watermark_delay)
            .groupBy(F.window("ts", window_duration).alias("w"), "emp_id")
            .agg(F.count("*").alias("n_flagged"))
        )
        out = run(agg, "flag_window_sink")
    return (
        out.groupBy("w", "emp_id")
        .agg(F.max("n_flagged").alias("n_flagged"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            F.col("w.end").cast("string").alias("window_end"),
            "emp_id",
            "n_flagged",
        )
    )


def run_sliding_window_counts(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "1 hour",
    slide_duration: str = "15 minutes",
    watermark_delay: str = "1 day",
    state_partitions: int = 4,
) -> DataFrame:
    """Watermarked SLIDING-window flagged-event counts — the window
    tier the tumbling carrier cannot express: each event contributes
    to duration/slide (= 4) overlapping windows, so the count surface
    is a smooth 15-minute-granularity trend instead of disjoint
    buckets (the shape an alerting monitor reads). Spark implements
    the multi-assignment with the same Expand machinery as CUBE;
    state is one row per open (window, key) and watermark eviction
    closes duration/slide windows per slide tick.

    Returns (window_start, window_end, n_flagged) as a batch frame;
    the post-stream MAX collapse keeps the latest emission per window
    should the replay split into micro-batches."""
    from .replay import replayed_events

    with replayed_events(spark, sf_dir, state_partitions) as (stream, run):
        flagged = stream.filter(flagged_expr()).select("ts")
        agg = (
            flagged.withWatermark("ts", watermark_delay)
            .groupBy(F.window("ts", window_duration, slide_duration).alias("w"))
            .agg(F.count("*").alias("n_flagged"))
        )
        out = run(agg, "sliding_window_sink")
    return (
        out.groupBy("w")
        .agg(F.max("n_flagged").alias("n_flagged"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            F.col("w.end").cast("string").alias("window_end"),
            "n_flagged",
        )
    )


def run_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark_delay: str = "1 day",
    state_partitions: int = 4,
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming exact-once deduplication: ``dropDuplicates`` on the
    event id under a watermark, then per-type counts — the standard
    at-least-once-source → effectively-once-pipeline shape (a training
    -data ingest dedupe, run as a stream).

    ``within_watermark=True`` switches to
    ``dropDuplicatesWithinWatermark``: dedup state is evicted once the
    watermark passes an id's event time, so state size is bounded by
    the watermark window instead of growing with every key ever seen —
    the production choice for unbounded streams (plain
    ``dropDuplicates`` keeps ALL keys forever; on an infinite feed that
    is an unbounded state store). Results are identical whenever true
    duplicates arrive within ``watermark_delay`` of each other — the
    at-least-once-redelivery case the operator exists for.

    Returns (event_type, n_events) with duplicates collapsed.
    """
    from .replay import replayed_events

    with replayed_events(spark, sf_dir, state_partitions) as (stream, run):
        keyed = stream.select("event_id", "event_type", "ts").withWatermark(
            "ts", watermark_delay
        )
        deduped = (
            keyed.dropDuplicatesWithinWatermark(["event_id"])
            if within_watermark
            else keyed.dropDuplicates(["event_id"])
        )
        agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))
        out = run(agg, "dedup_stream_sink")
    return out.groupBy("event_type").agg(F.max("n_events").alias("n_events"))


def run_stream_static_enrich(
    spark: SparkSession,
    sf_dir: str,
    state_partitions: int = 4,
) -> DataFrame:
    """Stream-STATIC broadcast enrichment: the purchase stream joins
    the customer dimension read as a plain batch table — the standard
    dimension-lookup topology (clickstream x user profile). Unlike the
    stream-stream join there is NO join state to buffer or evict: the
    static side broadcasts into every micro-batch (Spark re-plans it
    per batch, so a dim refresh between batches is picked up), and the
    only stateful operator is the running per-segment aggregation.

    Returns (mktsegment, n_purchases, total_value) — the post-sink
    collapse keeps each segment's LAST update-mode emission by taking
    the struct-max keyed on ``n_purchases``: the per-segment count is
    STRICTLY monotone across emissions (update mode only re-emits a
    key when new rows arrived for it), so the row with the largest
    count IS the final emission regardless of the sign of ``value`` —
    unlike a per-column ``max(total_value)``, which would silently
    return a stale total if a source ever carried negative values
    (refunds/adjustments).
    """
    from ..functions.money import money, money_sum
    from ..sources.io import read_table
    from .replay import replayed_events

    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    with replayed_events(
        spark, sf_dir, state_partitions, max_files_per_trigger=None
    ) as (stream, run):
        enriched = (
            stream.filter(F.col("event_type") == "purchase")
            .select("user_id", "value")
            .join(F.broadcast(dim), "user_id")
            .groupBy("mktsegment")
            .agg(
                F.count("*").alias("n_purchases"),
                money_sum(money("value"), "total_value"),
            )
        )
        out = run(enriched, "stream_static_enrich_sink")
    return (
        out.groupBy("mktsegment")
        .agg(F.max(F.struct("n_purchases", "total_value")).alias("__last"))
        .select("mktsegment", "__last.n_purchases", "__last.total_value")
    )


def run_session_stream(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark_delay: str = "1 day",
    state_partitions: int = 4,
) -> DataFrame:
    """Per-employee activity sessions via ``session_window`` — the
    data-dependent-boundary window (merges events closer than ``gap``;
    session end = last event + gap). Batch-equivalent: gaps-and-islands
    with a strictly-greater-than-gap break, so a DuckDB oracle can
    reproduce the exact sessions.

    Returns (emp_id, session_start, session_end, n_events).
    """
    from .replay import replayed_events

    with replayed_events(spark, sf_dir, state_partitions) as (stream, run):
        agg = (
            stream.filter(flagged_expr())
            .select(F.col("user_id").alias("emp_id"), "ts")
            .withWatermark("ts", watermark_delay)
            .groupBy(F.session_window("ts", gap).alias("w"), "emp_id")
            .agg(F.count("*").alias("n_events"))
        )
        out = run(agg, "session_stream_sink", output_mode="complete")
    # sessions merge as batches arrive; keep the widest emission per start
    return (
        out.groupBy(F.col("w.start").alias("__start"), "emp_id")
        .agg(F.max(F.col("w.end")).alias("__end"), F.max("n_events").alias("n_events"))
        .select(
            "emp_id",
            F.col("__start").cast("string").alias("session_start"),
            F.col("__end").cast("string").alias("session_end"),
            "n_events",
        )
    )


def run_strike_stream(
    spark: SparkSession,
    sf_dir: str,
    state_partitions: int = 4,
    state_store_provider: str | None = None,
) -> DataFrame:
    """Drive the stateful strike pipeline over the ``events`` table
    replayed as a file-source micro-batch stream; returns the final
    per-employee state as a batch DataFrame.

    In production the source line changes to
    ``spark.readStream.format("kafka")`` — the rest of the plan is
    identical.

    ``state_partitions`` sizes the stateful exchange: each shuffle
    partition carries an HDFS-backed state store + an Arrow python
    worker, a fixed per-partition setup cost. The strike operator
    groups by ``STATE_BUCKETS`` key buckets, so at most that many
    groups spread over the partitions whatever the key count; more
    partitions than buckets leave some idle. 32 partitions measured 5×
    slower than 8 on a 1,500-key batch, and 4 is another ~15-30%
    cheaper across the carriers at sf0.1 with identical results. Size
    it to executor count in production (at most ``STATE_BUCKETS``).

    ``state_store_provider``: state-store implementation for the
    stateful operator (``replay.ROCKSDB_PROVIDER`` is the at-scale
    choice); ``None`` keeps the default HDFS-backed store.
    """
    from .replay import replayed_events

    with replayed_events(
        spark, sf_dir, state_partitions, state_store_provider=state_store_provider
    ) as (stream, run):
        out = run(_strike_states(_prepared_events(stream)), "strikes_stream_sink")
    return _latest_state(out)


class StrikeProcessor:
    """The strike machine on Spark 4's ``transformWithStateInPandas``
    (StatefulProcessor) — the successor API to
    ``applyInPandasWithState``: typed state handles (ValueState /
    ListState / MapState) with per-state TTL, timers, and schema
    evolution, instead of one opaque state tuple. Keeps one state per
    employee and runs the SAME per-employee fold
    (:func:`_fold_employee`) as the bucketed legacy-API machine, so
    the two tiers cannot drift; tier parity is pinned in
    tests/test_streaming.py by driving this processor's
    init/handleInputRows against a fake typed-state handle.

    Deployment notes: transformWithState requires (a) the RocksDB
    state-store provider (``replay.ROCKSDB_PROVIDER`` — the at-scale
    choice anyway) and (b) the ``protobuf`` python package on workers
    (its state-server protocol is protobuf-framed). This sandbox ships
    neither a broker nor protobuf, so :func:`run_strike_stream_tws`
    gates on the import — same discipline as the Kafka source
    (``streaming/kafka.py``): the plumbing is real and unit-tested,
    the ``.start()`` is cluster-only."""

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState("strike", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        strikes, month, timeless = _fold_employee(
            *_coerce_state(self._state.get()),
            *_flagged_counts(pd.concat(list(rows), ignore_index=True)),
        )
        self._state.update((strikes, month, timeless))
        total = strikes + timeless
        yield pd.DataFrame(
            {
                "emp_id": [key[0]],
                "strike_count": [total],
                "status": ["INACTIVE" if total >= STRIKE_LIMIT else "ACTIVE"],
                "month": [month],
            }
        )

    def close(self) -> None:
        pass


def run_strike_stream_tws(
    spark: SparkSession,
    sf_dir: str,
    state_partitions: int = 4,
) -> DataFrame:
    """:func:`run_strike_stream` on the Spark-4 transformWithState API
    — identical topology and output contract, with the stateful
    operator swapped for :class:`StrikeProcessor` and the state store
    pinned to RocksDB (a transformWithState requirement). Kept as a
    separate runner so both API tiers stay first-class: the legacy
    tier is what most deployed 3.x pipelines run; this is the forward
    path (typed state, timers, TTL, state schema evolution). Raises
    ``ImportError`` where the ``protobuf`` package is absent (the TWS
    state protocol needs it on every worker) — see
    :class:`StrikeProcessor` for the gating rationale."""
    import importlib.util

    if importlib.util.find_spec("google.protobuf") is None:
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(its state-server protocol is protobuf-framed); install it "
            "on the cluster. The processor logic itself is unit-tested "
            "without it (tests/test_streaming.py)."
        )
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # subclass dynamically so importing this module never hard-depends
    # on the Spark-4-only ABC (the class body above is plain Python)
    proc = type("_StrikeTWS", (StatefulProcessor,), dict(StrikeProcessor.__dict__))()

    from .replay import ROCKSDB_PROVIDER, replayed_events

    with replayed_events(
        spark, sf_dir, state_partitions, state_store_provider=ROCKSDB_PROVIDER
    ) as (stream, run):
        result = _prepared_events(stream).groupBy("emp_id").transformWithStateInPandas(
            proc,
            outputStructType=_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        out = run(result, "strikes_tws_sink")
    return _latest_state(out)


def run_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    join_window: str = "1 hour",
    watermark_delay: str = "2 hours",
    state_partitions: int = 4,
) -> DataFrame:
    """Stream-stream inner join with event-time range condition: each
    'purchase' joins the same user's 'view' events from the preceding
    ``join_window``. Both sides carry watermarks, so the join state
    (buffered views waiting for possible purchases) is bounded and
    evicted once the watermark passes — the canonical attribution
    topology where BOTH sides arrive as streams.

    The per-purchase count happens INSIDE the stream (chained stateful
    operators: time-interval join → windowed aggregation, append mode),
    so the memory sink and the final collect carry ONE row per purchase
    — never the raw join product, which at scale is a driver
    bottleneck. Append-mode groups only emit once the watermark passes
    their window, so the replay stages ONE inert far-future sentinel
    batch that advances the watermark beyond all real event time;
    ``availableNow`` then runs a no-data flush batch in which the
    finalized groups emit (the sentinel uses unmatchable user ids, so
    it joins nothing and produces no groups).

    Returns per-purchase view counts (purchase_id, user_id, n_views).
    """
    from .replay import replayed_events

    sentinel = [
        {"event_id": -1, "user_id": -1, "event_type": "view"},
        {"event_id": -2, "user_id": -2, "event_type": "purchase"},
    ]
    with replayed_events(
        spark,
        sf_dir,
        state_partitions,
        sentinel_batches=(sentinel,),
        # one batch may ingest data + sentinel together: the join pairs
        # within the batch, the watermark jumps at batch end, and the
        # no-data flush emits every finalized group — identical output,
        # one fewer stateful-commit cycle across both operators
        max_files_per_trigger=None,
    ) as (stream, run):
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("view_ts"),
                F.col("event_id").alias("view_id"),
            )
            .withWatermark("view_ts", watermark_delay)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_ts", watermark_delay)
        )
        pairs = purchases.join(
            views,
            F.expr(
                f"p_user = v_user AND "
                f"view_ts >= p_ts - INTERVAL {join_window} AND view_ts <= p_ts"
            ),
            "inner",
        )
        # in-stream per-purchase count; the window on the propagated
        # purchase event time is what lets append mode finalize groups
        per_purchase = pairs.groupBy(
            F.window("p_ts", join_window).alias("__w"), "purchase_id", "p_user"
        ).agg(F.count(F.lit(1)).alias("n_views"))
        out = run(per_purchase, "stream_join_sink", output_mode="append")
    # append mode emits each finalized group exactly once; just project
    return out.select(
        "purchase_id", F.col("p_user").alias("user_id"), "n_views"
    )


def run_stream_stream_left_join(
    spark: SparkSession,
    sf_dir: str,
    join_window: str = "1 hour",
    watermark_delay: str = "2 hours",
    state_partitions: int = 4,
    join_type: str = "leftOuter",
) -> DataFrame:
    """LEFT-OUTER stream-stream join: every purchase emits — matched
    against the same user's preceding-``join_window`` views when they
    exist, or ONCE with a NULL view once the watermark proves no match
    can still arrive. The null-emission path is the capability the
    inner join (:func:`run_stream_stream_join`) cannot express: "which
    purchases had NO preceding engagement" as a stream, with join state
    still bounded and watermark-evicted on both sides.

    ``join_type="fullOuter"`` upgrades the null-emission guarantee to
    BOTH sides: unmatched views (no purchase within the window) also
    emit exactly once after watermark eviction — the "engagement that
    converted nothing" stream the left join cannot express; Spark
    supports full-outer stream-stream joins with watermarks + a time
    constraint since 3.1.

    Returns the raw joined rows (purchase_id, user_id, view_id —
    nullable). Output-size note: the inner-join carrier aggregates
    in-stream because its matched product can be large; the outer
    variant exists to surface unmatched rows, and callers aggregating
    should chain the same windowed-count shape. Parity with the batch
    left join is pinned in tests/test_streaming.py.
    """
    from .replay import replayed_events

    sentinel = [
        {"event_id": -1, "user_id": -1, "event_type": "view"},
        {"event_id": -2, "user_id": -2, "event_type": "purchase"},
    ]
    with replayed_events(
        spark,
        sf_dir,
        state_partitions,
        sentinel_batches=(sentinel,),
        max_files_per_trigger=None,
    ) as (stream, run):
        views = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("view_ts"),
                F.col("event_id").alias("view_id"),
            )
            .withWatermark("view_ts", watermark_delay)
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("purchase_id"),
            )
            .withWatermark("p_ts", watermark_delay)
        )
        pairs = purchases.join(
            views,
            F.expr(
                f"p_user = v_user AND "
                f"view_ts >= p_ts - INTERVAL {join_window} AND view_ts <= p_ts"
            ),
            join_type,
        )
        # fullOuter also emits watermark-expired unmatched VIEWS, whose
        # p_user is NULL — the caller-facing user_id is whichever side
        # exists (they agree on matched rows by the join condition)
        user_id = (
            F.coalesce(F.col("p_user"), F.col("v_user"))
            if join_type == "fullOuter"
            else F.col("p_user")
        )
        out = run(
            pairs.select("purchase_id", user_id.alias("user_id"), "view_id"),
            f"stream_{join_type.lower()}_join_sink",
            output_mode="append",
        )
    # drop the sentinels (users -1/-2): they exist only to advance
    # the watermark and would otherwise surface as unmatched rows
    return out.filter(F.col("user_id") >= 0)


def _run_checkpointed_pass(
    spark: SparkSession,
    stage_dir: str,
    ckpt_dir: str,
    out_dir: str,
    plan_fn,
    state_partitions: int = 4,
    state_store_provider: str | None = None,
) -> dict | None:
    """Shared scaffolding for every durable-checkpoint availableNow
    pass: pinned stream confs (:func:`replay.stream_confs`), staged-file
    gate, schema-pinned file stream, batch-id-tagged parquet
    ``foreachBatch`` sink, and checkpointed trigger. ``plan_fn(stream)
    -> DataFrame`` supplies the per-carrier streaming plan — the ONLY
    part that differs between the stateful strike pass and the
    windowed-aggregation pass, so the restart/recovery contract cannot
    drift between them. Returns the query's ``lastProgress``."""
    import glob as _glob
    import os as _os

    from ..sources.io import normalize_nanos
    from .replay import events_schema, stream_confs

    with stream_confs(spark, state_partitions, state_store_provider):
        staged = sorted(_glob.glob(_os.path.join(stage_dir, "*.parquet")))
        if not staged:
            raise ValueError(f"no parquet files staged in {stage_dir}")
        stream = normalize_nanos(
            spark.readStream.schema(events_schema(spark, staged[0]))
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        result = plan_fn(stream)

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("__batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            result.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress


def _latest_per_key(df: DataFrame, key_cols: list, out_cols: list) -> DataFrame:
    """Newest-batch-wins projection over a batch-id-tagged pass output."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("__batch_id").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*out_cols)
    )


def run_strike_pass(
    spark: SparkSession,
    stage_dir: str,
    ckpt_dir: str,
    out_dir: str,
    state_partitions: int = 4,
    state_store_provider: str | None = None,
) -> dict | None:
    """ONE availableNow pass of the stateful strike pipeline over the
    files currently staged in ``stage_dir``, with a DURABLE checkpoint.

    This is the restart/recovery contract the memory-sink carriers
    cannot exercise: re-invoking after staging more files resumes from
    ``ckpt_dir`` (file-source offset log + state store), processes ONLY
    the not-yet-committed files, and folds them into the RECOVERED
    per-employee state. Each micro-batch's emissions append to
    ``out_dir`` as parquet via ``foreachBatch`` (a restart-safe sink:
    committed batch ids are not re-run), tagged with the batch id so
    :func:`strike_final_state` can take the latest emission per key.

    Kill-and-restart is the same code path: a stream stopped mid-pass
    replays its last uncommitted batch from the offset log on the next
    invocation, and the state store restores the last committed
    version — exactly-once state, at-least-once sink appends
    deduplicated by batch id downstream.

    A batch appends rows only for employees that are new or whose
    state changed; the newest row per key is its state either way.
    Returns the pass's ``lastProgress`` (a dict-like
    ``StreamingQueryProgress``); its
    ``stateOperators[0].numRowsTotal`` is the bucket-row count, at
    most ``STATE_BUCKETS``.
    """
    return _run_checkpointed_pass(
        spark, stage_dir, ckpt_dir, out_dir,
        lambda stream: _strike_states(_prepared_events(stream)),
        state_partitions, state_store_provider,
    )


def strike_final_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest per-employee state from a :func:`run_strike_pass` output
    directory: at most one emission per key per batch, newest batch
    wins."""
    return _latest_per_key(
        spark.read.parquet(out_dir),
        ["emp_id"],
        ["emp_id", "strike_count", "status"],
    )


def run_windowed_pass(
    spark: SparkSession,
    stage_dir: str,
    ckpt_dir: str,
    out_dir: str,
    window_duration: str = "1 day",
    watermark_delay: str = "1 day",
    state_partitions: int = 4,
) -> None:
    """ONE availableNow pass of the WATERMARK + TUMBLING-WINDOW flagged
    counter over the files staged in ``stage_dir``, with a durable
    checkpoint — the window-state sibling of :func:`run_strike_pass`.

    Recovery contract: re-invoking after staging more files resumes
    from ``ckpt_dir``, restores the windowed aggregation state (open
    windows whose watermark has not passed), folds the new files'
    events INTO those recovered windows, and emits updated counts —
    NOT fresh counts computed from only the new files. This is the
    restart guarantee for the built-in windowed-agg state machine,
    complementing the applyInPandasWithState guarantee the strike pass
    proves. Each micro-batch's updates append to ``out_dir`` tagged
    with the batch id; :func:`windowed_final_counts` takes the newest
    emission per (window, employee).
    """
    def _plan(stream: DataFrame) -> DataFrame:
        return (
            stream.filter(flagged_expr())
            .select(F.col("user_id").alias("emp_id"), "ts")
            .withWatermark("ts", watermark_delay)
            .groupBy(F.window("ts", window_duration).alias("w"), "emp_id")
            .agg(F.count("*").alias("n_flagged"))
            .select(
                F.col("w.start").cast("string").alias("window_start"),
                F.col("w.end").cast("string").alias("window_end"),
                "emp_id",
                "n_flagged",
            )
        )

    _run_checkpointed_pass(
        spark, stage_dir, ckpt_dir, out_dir, _plan, state_partitions
    )


def windowed_final_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest count per (window, employee) from a
    :func:`run_windowed_pass` output directory — newest batch wins, the
    update-mode mirror of :func:`strike_final_state`."""
    return _latest_per_key(
        spark.read.parquet(out_dir),
        ["window_start", "emp_id"],
        ["window_start", "window_end", "emp_id", "n_flagged"],
    )
