"""Strike state machine (SURVEY.md §5 item 5; reference semantics at
``README.md:101-105``: reserved-word flag → strikes → ≥10 ⇒ INACTIVE,
salary deduction per strike, monthly cooldown reset)."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
    STATE_BUCKETS,
    STRIKE_LIMIT,
    StrikeProcessor,
    _STRIKE_SINK_SCHEMA,
    _WINDOWED_SINK_SCHEMA,
    _coerce_state,
    _strike_state_fn,
    flag_messages,
    run_strike_stream,
    strike_report,
)


def test_coerce_state_pads_legacy_two_field_checkpoint():
    """r14 widened _STATE_SCHEMA 2→3 fields (timeless). A JVM state
    store rejects an old-schema checkpoint outright (documented in
    _coerce_state), but any handle that round-trips python tuples must
    load a legacy (strikes, month) pair as timeless=0 rather than fail
    to unpack — ADVICE r14 item 1."""
    assert _coerce_state(None) == (0, "", 0)
    assert _coerce_state((4, "2021-02")) == (4, "2021-02", 0)
    assert _coerce_state((4, "2021-02", 2)) == (4, "2021-02", 2)
    # a legacy tuple resumes correctly through the per-employee tier
    # (the bucketed tier's state is schema-checked by the JVM store)
    handle = _FakeHandle()
    handle.getValueState("strike", None).update((3, "2021-01"))
    proc = StrikeProcessor()
    proc.init(handle)
    pdf = pd.DataFrame({"flagged": [True], "month": ["2021-01"]})
    row = next(iter(proc.handleInputRows((7,), iter([pdf]), None))).iloc[0]
    assert row.strike_count == 4 and handle.states["strike"]._v == (4, "2021-01", 0)


def test_flag_messages_word_boundary(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, msg="this is CONFIDENTIAL data"),
            Row(id=2, msg="nothing to see"),
            Row(id=3, msg="secretive"),  # substring must NOT match (\b boundary)
            Row(id=4, msg="a secret plan"),
        ]
    )
    got = {r.id: r.flagged for r in flag_messages(df, "msg").collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}


def test_strike_report_threshold_and_salary(spark):
    rows = [Row(user_id=1, event_type="error")] * 3 + [Row(user_id=2, event_type="error")] * 12 + [
        Row(user_id=3, event_type="click")
    ]
    out = {r.emp_id: r for r in strike_report(spark.createDataFrame(rows)).collect()}
    assert out[1].status == "ACTIVE" and out[1].strike_count == 3
    assert out[1].updated_salary == round(100000 * 0.9**3, 2)
    assert out[2].status == "INACTIVE" and out[2].strike_count == 12
    # deduction caps at the limit
    assert out[2].updated_salary == round(100000 * 0.9**STRIKE_LIMIT, 2)
    assert 3 not in out  # unflagged employees don't appear


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the state fn."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _bucket_rows(emp_months_flags):
    """Bucket-fn input rows as _strike_states ships them."""
    return pd.DataFrame(
        {
            "emp_id": [0 if e is None else e for e, _, _ in emp_months_flags],
            "emp_null": [e is None for e, _, _ in emp_months_flags],
            "flagged": [f for _, _, f in emp_months_flags],
            "month": [m for _, m, _ in emp_months_flags],
        }
    )


def _run_state(months_flags, state=None):
    """Employee 7 alone in its bucket through the bucket state fn;
    ``state`` in and out is 7's per-employee (strikes, month, timeless)."""
    pdf = _bucket_rows([(7, m, f) for m, f in months_flags])
    st = _FakeState(None if state is None else tuple([v] for v in (7, *state)))
    out = list(_strike_state_fn((0,), iter([pdf]), st))
    ids, strikes, months, timeless = st._v
    return out[0].iloc[0], (strikes[0], months[0], timeless[0])


def test_state_fn_accumulates_within_month(erase=None):
    row, state = _run_state([("2021-01", True)] * 4)
    assert row.strike_count == 4 and row.status == "ACTIVE"
    assert state == (4, "2021-01", 0)


def test_state_fn_monthly_cooldown_resets_below_limit():
    # 4 strikes in Jan, then 2 in Feb → Feb starts fresh (cooldown)
    row, state = _run_state([("2021-02", True)] * 2, state=(4, "2021-01", 0))
    assert row.strike_count == 2 and row.status == "ACTIVE"


def test_state_fn_no_reset_once_inactive():
    # ≥10 strikes: the INACTIVE flag survives the month rollover
    row, state = _run_state([("2021-02", True)] * 1, state=(11, "2021-01", 0))
    assert row.strike_count == 12 and row.status == "INACTIVE"


def test_state_fn_timeless_counter_is_reset_immune():
    # r14 contract: the timeless counter survives a month rollover that
    # resets the dated count, and both feed the reported total/status
    row, state = _run_state([("2021-02", True)] * 2, state=(4, "2021-01", 3))
    assert state == (2, "2021-02", 3)
    assert row.strike_count == 5 and row.status == "ACTIVE"
    # the dated reset keys on the DATED count only: dated 8 < 10 resets
    # even though the total (8 + 3) crossed the threshold
    row, state = _run_state([("2021-03", True)] * 7, state=(8, "2021-02", 3))
    assert state == (7, "2021-03", 3)
    assert row.strike_count == 10 and row.status == "INACTIVE"


def test_state_fn_ignores_unflagged():
    row, state = _run_state([("2021-01", False)] * 5)
    assert row.strike_count == 0 and row.status == "ACTIVE"


def test_state_fn_matches_oracle_closed_form():
    """The registered DuckDB oracle replays the fold via a closed form:
    final = sum(counts from the first month with count >= 10) if any,
    else the last month's count. Exhaustive check over random monthly
    count profiles keeps the two in lock-step."""
    import itertools
    import random

    def closed_form(counts):  # counts: list per ascending month
        for j, c in enumerate(counts):
            if c >= STRIKE_LIMIT:
                return sum(counts[j:])
        return counts[-1] if counts else 0

    rng = random.Random(7)
    months = [f"2021-{m:02d}" for m in range(1, 8)]
    profiles = [
        [3, 4, 2],
        [12],
        [9, 10, 1],
        [10, 0, 5],  # 0-count months emit no rows: skip zeros below
        [1, 1, 15, 2, 2],
    ] + [[rng.randint(1, 13) for _ in range(rng.randint(1, 7))] for _ in range(40)]
    for counts in profiles:
        pairs = list(
            itertools.chain.from_iterable(
                [(m, True)] * c for m, c in zip(months, counts) if c > 0
            )
        )
        nz = [c for c in counts if c > 0]
        if not pairs:
            continue
        row, _ = _run_state(pairs)
        assert row.strike_count == closed_form(nz), (counts, row.strike_count)


def test_run_strike_stream_matches_state_semantics(spark, tmp_path):
    # hand-built events replayed through the real Structured Streaming
    # pipeline: emp 1 → 3 in Jan + 2 in Feb ⇒ cooldown ⇒ 2 ACTIVE;
    # emp 2 → 12 in Jan + 3 in Feb ⇒ INACTIVE, no reset ⇒ 15
    rows = []
    for _ in range(3):
        rows.append(Row(user_id=1, event_type="error", ts=dt.datetime(2021, 1, 5)))
    for _ in range(2):
        rows.append(Row(user_id=1, event_type="error", ts=dt.datetime(2021, 2, 5)))
    for _ in range(12):
        rows.append(Row(user_id=2, event_type="error", ts=dt.datetime(2021, 1, 6)))
    for _ in range(3):
        rows.append(Row(user_id=2, event_type="error", ts=dt.datetime(2021, 2, 6)))
    rows.append(Row(user_id=3, event_type="click", ts=dt.datetime(2021, 1, 1)))

    out_dir = str(tmp_path / "stage")
    spark.createDataFrame(rows).coalesce(1).write.parquet(out_dir)
    part = glob.glob(os.path.join(out_dir, "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "events.parquet"))

    got = {
        r.emp_id: r
        for r in run_strike_stream(spark, str(tmp_path), state_partitions=2).collect()
    }
    assert got[1].strike_count == 2 and got[1].status == "ACTIVE"
    assert got[2].strike_count == 15 and got[2].status == "INACTIVE"
    assert 3 in got and got[3].strike_count == 0


def _stage_file(spark, tmp_path, rows, dest):
    work = str(tmp_path / "__writer")
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(work)
    part = glob.glob(os.path.join(work, "part-*.parquet"))[0]
    shutil.move(part, dest)


def _jan_feb_rows():
    # emp 1: 3 in Jan + 2 in Feb ⇒ cooldown reset ⇒ 2 ACTIVE
    # emp 2: 12 in Jan (INACTIVE latch) + 3 in Feb ⇒ 15 INACTIVE
    # emp 3: first seen in Feb ⇒ 1 ACTIVE
    jan = [Row(user_id=1, event_type="error", ts=dt.datetime(2021, 1, 5))] * 3
    jan += [Row(user_id=2, event_type="error", ts=dt.datetime(2021, 1, 6))] * 12
    feb = [Row(user_id=1, event_type="error", ts=dt.datetime(2021, 2, 5))] * 2
    feb += [Row(user_id=2, event_type="error", ts=dt.datetime(2021, 2, 6))] * 3
    feb += [Row(user_id=3, event_type="error", ts=dt.datetime(2021, 2, 7))]
    return jan, feb


def test_strike_pass_checkpoint_recovery(spark, tmp_path):
    """Stop/restart contract: a second availableNow pass from the same
    checkpoint must RECOVER per-key state (cooldown month, INACTIVE
    latch) and process only the newly staged file — reprocessing would
    double-count and diverge from the single-run reference."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
        strike_final_state,
    )

    jan, feb = _jan_feb_rows()
    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    _stage_file(spark, tmp_path, jan, str(stage_dir / "a_jan.parquet"))
    run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    p1 = {r.emp_id: r for r in strike_final_state(spark, out).collect()}
    assert p1[1].strike_count == 3 and p1[1].status == "ACTIVE"
    assert p1[2].strike_count == 12 and p1[2].status == "INACTIVE"
    assert 3 not in p1

    _stage_file(spark, tmp_path, feb, str(stage_dir / "b_feb.parquet"))
    run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    got = {r.emp_id: r for r in strike_final_state(spark, out).collect()}
    assert got[1].strike_count == 2 and got[1].status == "ACTIVE"
    assert got[2].strike_count == 15 and got[2].status == "INACTIVE"
    assert got[3].strike_count == 1 and got[3].status == "ACTIVE"

    # sink-level recovery proof: the restarted pass appended exactly one
    # new batch, containing only the keys present in the new file
    batches = spark.read.parquet(out)
    # the schema strike_final_state declares is what the sink writes
    assert batches.schema == _STRIKE_SINK_SCHEMA
    ids = sorted(r["__batch_id"] for r in batches.select("__batch_id").distinct().collect())
    assert ids == [0, 1]
    phase2_keys = {
        r.emp_id for r in batches.filter(F.col("__batch_id") == 1).collect()
    }
    assert phase2_keys == {1, 2, 3}

    # single-run reference: both files staged up front, fresh checkpoint
    ckpt2, out2 = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    run_strike_pass(spark, str(stage_dir), ckpt2, out2, state_partitions=2)
    ref = {r.emp_id: r for r in strike_final_state(spark, out2).collect()}
    assert {k: (v.strike_count, v.status) for k, v in got.items()} == {
        k: (v.strike_count, v.status) for k, v in ref.items()
    }


class _FakeValueState:
    """Typed-state stand-in for the transformWithState handle."""

    def __init__(self):
        self._v = None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


def test_tws_processor_matches_legacy_state_fn_across_batches():
    """API-tier parity: Spark 4's transformWithState StrikeProcessor
    and the bucketed applyInPandasWithState fn share _fold_employee —
    this drives both through the same three-batch feed (two months, a
    timeless strike, an INACTIVE latch) and pins identical emissions
    and state. The full streaming run is cluster-only (TWS needs the
    protobuf package on workers — gated in run_strike_stream_tws)."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        StrikeProcessor,
    )

    batches = [
        pd.DataFrame({"flagged": [True] * 3, "month": ["2021-01"] * 3}),
        pd.DataFrame({"flagged": [True, True], "month": [None, "2021-02"]}),
        pd.DataFrame({"flagged": [True] * 11, "month": ["2021-03"] * 11}),
    ]
    proc = StrikeProcessor()
    proc.init(_FakeHandle())
    tws_rows = [
        next(iter(proc.handleInputRows((7,), iter([pdf]), None))).iloc[0]
        for pdf in batches
    ]
    proc.close()

    legacy_state = None
    legacy_rows = []
    for pdf in batches:
        row, legacy_state = _run_state(
            list(zip(pdf["month"], pdf["flagged"])), state=legacy_state
        )
        legacy_rows.append(row)
    for t, l in zip(tws_rows, legacy_rows):
        assert (t.strike_count, t.status, t.month) == (
            l.strike_count, l.status, l.month,
        )
    # the walked feed: Jan 3 → Feb reset (1 dated + 1 timeless = 2) →
    # Mar reset then 11 dated (latch) + the permanent timeless one
    assert [r.strike_count for r in tws_rows] == [3, 2, 12]
    assert [r.status for r in tws_rows] == ["ACTIVE", "ACTIVE", "INACTIVE"]


def test_timeless_strike_survives_cross_batch_reset(spark, tmp_path):
    """The r14 timeless-strike contract (closes the advisor-r12 item):
    a month-less (NULL-ts) strike is PERMANENT — it accumulates in its
    own state counter and no later month's cooldown can wipe it, so
    the final state is independent of which micro-batch the malformed
    row lands in. Batch 1: 2 Jan strikes + 1 NULL-ts strike; batch 2:
    1 Feb strike. Feb's cooldown resets the dated count (2 → 1) but
    not the timeless strike: final 1 + 1 = 2. (Under the pre-r14
    'join the current open month' rule the timeless strike became
    ordinary Jan-credited state and Feb's reset wiped it → 1, making
    the answer depend on batch assignment.)"""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
        strike_final_state,
    )

    batch1 = [
        Row(user_id=1, event_type="error", ts=dt.datetime(2021, 1, 5)),
        Row(user_id=1, event_type="error", ts=dt.datetime(2021, 1, 6)),
        Row(user_id=1, event_type="error", ts=None),  # timeless
    ]
    batch2 = [Row(user_id=1, event_type="error", ts=dt.datetime(2021, 2, 5))]
    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    _stage_file(spark, tmp_path, batch1, str(stage_dir / "a.parquet"))
    run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    p1 = {
        r.emp_id: r.strike_count
        for r in strike_final_state(spark, out).collect()
    }
    assert p1[1] == 3  # 2 dated + 1 timeless

    _stage_file(spark, tmp_path, batch2, str(stage_dir / "b.parquet"))
    run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    got = {r.emp_id: r for r in strike_final_state(spark, out).collect()}
    assert got[1].strike_count == 2 and got[1].status == "ACTIVE"


def test_strike_stream_rocksdb_provider_matches_default(spark, tmp_path):
    """The documented at-scale state store (RocksDB) must produce
    identical results to the default HDFS-backed store on the same
    replay."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.replay import (
        ROCKSDB_PROVIDER,
    )

    jan, feb = _jan_feb_rows()
    _stage_file(spark, tmp_path, jan + feb, str(tmp_path / "events.parquet"))

    base = {
        r.emp_id: (r.strike_count, r.status)
        for r in run_strike_stream(spark, str(tmp_path), state_partitions=2).collect()
    }
    rocks = {
        r.emp_id: (r.strike_count, r.status)
        for r in run_strike_stream(
            spark,
            str(tmp_path),
            state_partitions=2,
            state_store_provider=ROCKSDB_PROVIDER,
        ).collect()
    }
    assert rocks == base
    assert rocks[2] == (15, "INACTIVE")


def test_dedup_within_watermark_matches_plain_dedup(spark):
    """dropDuplicatesWithinWatermark (state bounded by the watermark
    window — the unbounded-stream production variant) must agree with
    plain dropDuplicates when duplicates arrive inside the window."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_dedup_stream,
    )

    sf = "/root/testdata/sf0.001"
    plain = {
        r.event_type: r.n_events for r in run_dedup_stream(spark, sf).collect()
    }
    bounded = {
        r.event_type: r.n_events
        for r in run_dedup_stream(spark, sf, within_watermark=True).collect()
    }
    assert bounded == plain and sum(plain.values()) > 0


def test_windowed_pass_checkpoint_recovery(spark, tmp_path):
    """Window-state restart contract: a second availableNow pass from
    the same checkpoint must fold newly staged events INTO the
    recovered open windows (counts continue from 3 -> 5), not restart
    them — the windowed-agg sibling of the applyInPandasWithState
    recovery proof above."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_windowed_pass,
        windowed_final_counts,
    )

    # all events inside ONE tumbling day-window; watermark 1 day keeps
    # the window open across the restart
    d = dt.datetime(2021, 1, 5)
    first = [Row(user_id=1, event_type="error", ts=d.replace(hour=h)) for h in (1, 2, 3)]
    first += [Row(user_id=2, event_type="error", ts=d.replace(hour=4))]
    first += [Row(user_id=2, event_type="click", ts=d.replace(hour=5))]  # unflagged
    late = [Row(user_id=1, event_type="error", ts=d.replace(hour=6)) for _ in range(2)]
    late += [Row(user_id=3, event_type="error", ts=d.replace(hour=7))]

    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    _stage_file(spark, tmp_path, first, str(stage_dir / "a_first.parquet"))
    run_windowed_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    p1 = {r.emp_id: r.n_flagged for r in windowed_final_counts(spark, out).collect()}
    assert p1 == {1: 3, 2: 1}

    _stage_file(spark, tmp_path, late, str(stage_dir / "b_late.parquet"))
    run_windowed_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    rows = windowed_final_counts(spark, out).collect()
    got = {r.emp_id: r.n_flagged for r in rows}
    # emp 1's window count CONTINUED from recovered state (3+2), emp 2
    # untouched by the second file keeps its recovered count, emp 3 new
    assert got == {1: 5, 2: 1, 3: 1}
    assert all(r.window_start.startswith("2021-01-05") for r in rows)

    # update-mode sink discipline: the restarted pass's batch (the
    # newest id — pass 1 may also commit an empty watermark-advance
    # batch, so ids need not be consecutive) re-emitted only the
    # windows the new file touched (emp 1 and 3, not emp 2)
    batches = spark.read.parquet(out)
    # the schema windowed_final_counts declares is what the sink writes
    assert batches.schema == _WINDOWED_SINK_SCHEMA
    last = batches.agg(F.max("__batch_id")).collect()[0][0]
    phase2 = {r.emp_id for r in batches.filter(F.col("__batch_id") == last).collect()}
    assert phase2 == {1, 3}

    # single-run reference: both files staged up front, fresh checkpoint
    ckpt2, out2 = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    run_windowed_pass(spark, str(stage_dir), ckpt2, out2, state_partitions=2)
    ref = {r.emp_id: r.n_flagged for r in windowed_final_counts(spark, out2).collect()}
    assert got == ref


def test_stream_stream_left_join_matches_batch_left_join(spark):
    """Left-outer stream-stream join parity: matched purchases carry
    their in-window view ids, purchases with NO preceding view emit
    exactly once with a NULL view id after watermark passage — equal to
    the batch left join over the same events."""
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_stream_stream_left_join,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.purchase_id, r.user_id, r.view_id)
        for r in run_stream_stream_left_join(spark, sf).collect()
    }
    ev = read_table(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r.purchase_id, r.p_user, r.view_id)
        for r in purchases.join(
            views,
            F.expr(
                "p_user = v_user AND view_ts >= p_ts - INTERVAL 1 HOUR "
                "AND view_ts <= p_ts"
            ),
            "leftOuter",
        ).collect()
    }
    assert got == want
    assert any(v is None for _, _, v in got), "expected unmatched purchases"


def test_strike_pass_recovery_under_rocksdb_store(spark, tmp_path):
    """Durable-checkpoint recovery composed with the at-scale state
    store: the two-pass restart must recover applyInPandasWithState
    state from a RocksDB-backed store exactly as it does from the
    default HDFS-backed one (X71 x X72 — restart and store provider
    are independent axes, and this pins the composition)."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.replay import (
        ROCKSDB_PROVIDER,
    )
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
        strike_final_state,
    )

    jan, feb = _jan_feb_rows()
    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    _stage_file(spark, tmp_path, jan, str(stage_dir / "a_jan.parquet"))
    run_strike_pass(
        spark, str(stage_dir), ckpt, out,
        state_partitions=2, state_store_provider=ROCKSDB_PROVIDER,
    )
    _stage_file(spark, tmp_path, feb, str(stage_dir / "b_feb.parquet"))
    run_strike_pass(
        spark, str(stage_dir), ckpt, out,
        state_partitions=2, state_store_provider=ROCKSDB_PROVIDER,
    )
    got = {
        r.emp_id: (r.strike_count, r.status)
        for r in strike_final_state(spark, out).collect()
    }
    assert got == {1: (2, "ACTIVE"), 2: (15, "INACTIVE"), 3: (1, "ACTIVE")}


_EVENTS_DDL = "user_id LONG, event_type STRING, ts TIMESTAMP"


def _stage_events(spark, tmp_path, rows, dest):
    """Stage (user_id, event_type, ts) tuples as one parquet file."""
    work = str(tmp_path / "__writer")
    spark.createDataFrame(rows, _EVENTS_DDL).coalesce(1).write.mode("overwrite").parquet(work)
    shutil.move(glob.glob(os.path.join(work, "part-*.parquet"))[0], dest)


def _oracle_state(stage_dir):
    """The strike_stream_stateful DuckDB oracle over every staged file,
    as exact (emp_id, strike_count, status) tuples."""
    import duckdb

    from employee_data_management_system_data_engineering_solution_spark.plans import REGISTRY

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{stage_dir}/*.parquet')"
    )
    return set(con.execute(REGISTRY["strike_stream_stateful"].oracle_sql).fetchall())


def _final_state(spark, out):
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        strike_final_state,
    )

    return {tuple(r) for r in strike_final_state(spark, out).collect()}


def test_strike_pass_null_and_huge_emp_ids_match_oracle(spark, tmp_path):
    """Bucketed state keeps every key exact. pandas widens an int64
    column holding a NULL to float64, which rounds ids above 2**53, so
    a NULL emp_id and two such ids are planted in ONE key bucket: the
    NULL stays an employee of its own (apart from emp 0) and the big
    ids survive to the output bit for bit. Both passes must equal the
    strike_stream_stateful oracle, compared as exact ints."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
    )

    bucket = F.pmod(F.xxhash64("id"), F.lit(STATE_BUCKETS))
    null_bucket = spark.createDataFrame([(None,)], "id LONG").select(bucket).first()[0]
    big = [
        r.id
        for r in spark.range(2**60, 2**60 + 4096)
        .filter(bucket == null_bucket)
        .limit(2)
        .collect()
    ]
    assert len(big) == 2 and all(b > 2**53 for b in big)
    jan, feb = dt.datetime(2021, 1, 5), dt.datetime(2021, 2, 5)
    batch1 = (
        [(None, "error", jan)] * 3
        + [(big[0], "error", jan)] * 2
        + [(big[0], "click", jan), (0, "error", jan)]
        + [(big[1], "error", jan)] * 12
    )
    batch2 = [
        (None, "error", feb),  # cooldown: 3 → 1
        (None, "error", None),  # + 1 timeless
        (big[0], "error", feb),
        (big[1], "error", feb),  # INACTIVE latch: 12 → 13
    ]
    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    for name, rows in (("a.parquet", batch1), ("b.parquet", batch2)):
        _stage_events(spark, tmp_path, rows, str(stage_dir / name))
        run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
        assert _final_state(spark, out) == _oracle_state(stage_dir), name
    assert _final_state(spark, out) == {
        (None, 2, "ACTIVE"),
        (0, 1, "ACTIVE"),
        (big[0], 1, "ACTIVE"),
        (big[1], 13, "INACTIVE"),
    }


def test_strike_pass_emits_only_new_or_changed_employees(spark, tmp_path):
    """A batch writes rows only for employees that are new or whose
    state changed: emp 1's unflagged-only batch writes no row and
    leaves its final state as it was, emp 2 gains a strike, and emp 3
    (new, unflagged) emits its 0-strike state."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
    )

    jan, feb = dt.datetime(2021, 1, 5), dt.datetime(2021, 2, 5)
    batch1 = [(1, "error", jan)] * 2 + [(2, "error", jan)]
    batch2 = [(1, "click", feb)] * 3 + [(2, "error", jan), (3, "click", feb)]
    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _stage_events(spark, tmp_path, batch1, str(stage_dir / "a.parquet"))
    run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    before = _final_state(spark, out)
    _stage_events(spark, tmp_path, batch2, str(stage_dir / "b.parquet"))
    run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)

    emitted = spark.read.parquet(out).filter(F.col("__batch_id") == 1)
    assert {r.emp_id for r in emitted.collect()} == {2, 3}
    after = {r[0]: r for r in _final_state(spark, out)}
    assert after[1] == {r[0]: r for r in before}[1] == (1, 2, "ACTIVE")
    assert after[2] == (2, 2, "ACTIVE") and after[3] == (3, 0, "ACTIVE")
    assert set(after.values()) == _oracle_state(stage_dir)


def test_strike_pass_state_rows_bounded_by_buckets(spark, tmp_path):
    """1,500 employees in one pass leave at most STATE_BUCKETS state
    rows — one per key bucket, not one per employee — while every
    employee still reaches the final state."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
    )

    stage_dir = tmp_path / "stage"
    stage_dir.mkdir()
    work = str(tmp_path / "__writer")
    spark.range(3000).select(
        (F.col("id") % 1500).alias("user_id"),
        F.when(F.col("id") % 3 == 0, "error").otherwise("click").alias("event_type"),
        F.lit(dt.datetime(2021, 1, 5)).alias("ts"),
    ).coalesce(1).write.parquet(work)
    shutil.move(
        glob.glob(os.path.join(work, "part-*.parquet"))[0], str(stage_dir / "a.parquet")
    )
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    progress = run_strike_pass(spark, str(stage_dir), ckpt, out, state_partitions=2)
    assert progress["numInputRows"] == 3000
    assert 0 < progress["stateOperators"][0]["numRowsTotal"] <= STATE_BUCKETS
    final = _final_state(spark, out)
    assert len(final) == 1500 and final == _oracle_state(stage_dir)


def test_stream_confs_restore_prior_values(spark):
    """Every conf a stream run pins is put back on exit: prior values
    restored, previously-unset keys unset again."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.replay import (
        FILESYSTEM_CHECKPOINT_MANAGER,
        ROCKSDB_PROVIDER,
        _CHECKPOINT_MANAGER_CONF,
        _PROVIDER_CONF,
        stream_confs,
    )

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(_PROVIDER_CONF, None) is None
    assert spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) is None
    with stream_confs(spark, 3, ROCKSDB_PROVIDER):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get(_PROVIDER_CONF) == ROCKSDB_PROVIDER
        assert spark.conf.get(_CHECKPOINT_MANAGER_CONF) == FILESYSTEM_CHECKPOINT_MANAGER
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(_PROVIDER_CONF, None) is None
    assert spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) is None


def test_events_schema_sees_a_file_rewritten_at_the_same_path(spark, tmp_path):
    """The stream readers take the events schema from the
    ``parquet_schema`` memo, which keys on every data file's size and
    mtime too, so a file rewritten in place within one session is
    re-read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        parquet_schema,
    )

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [1, 2]}), path)
    assert parquet_schema(spark, path).fieldNames() == ["event_id"]
    pq.write_table(pa.table({"event_id": [1, 2], "extra": ["a", "b"]}), path)
    assert parquet_schema(spark, path).fieldNames() == ["event_id", "extra"]


def test_strike_final_state_of_an_empty_output_dir_is_empty(spark, tmp_path):
    """The read-back declares the sink schema, so an output dir that no
    batch has written to yet reads as an empty frame."""
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        strike_final_state,
    )

    got = strike_final_state(spark, str(tmp_path))
    assert got.columns == ["emp_id", "strike_count", "status"]
    assert got.collect() == []


def test_bucket_fold_matches_per_employee_processor():
    """The vectorized bucket fold against the per-employee reference
    (StrikeProcessor: pandas counts, one state per key) over random
    multi-batch feeds with many employees per bucket, a NULL emp_id,
    NULL flags, NULL months and out-of-order months: every employee's
    state must match after every batch, and each batch must emit
    exactly the new or changed employees, with the reference's row."""
    import random

    rng = random.Random(11)
    emps = [None, 0, 2**60 + 3] + list(range(1, 40))
    months = ["2021-01", "2021-02", "2021-03", None]
    st = _FakeState()
    ref: dict = {}
    for _ in range(25):
        batch = [
            (
                rng.choice(emps),
                rng.choice(months),
                rng.choice([True, True, False, None]),
            )
            for _ in range(rng.randint(1, 120))
        ]
        want = {}
        for e in dict.fromkeys(e for e, _, _ in batch):
            proc = ref.setdefault(e, StrikeProcessor())
            if not hasattr(proc, "_state"):
                proc.init(_FakeHandle())
            before = proc._state.get()
            rows = pd.DataFrame(
                {
                    "flagged": [f for k, _, f in batch if k == e],
                    "month": [m for k, m, _ in batch if k == e],
                }
            )
            row = next(iter(proc.handleInputRows((e,), iter([rows]), None))).iloc[0]
            if before is None or proc._state.get() != before:
                want[e] = (row.strike_count, row.status, row.month)
        out = list(_strike_state_fn((0,), iter([_bucket_rows(batch)]), st))
        got = {}
        for frame in out:
            for r in frame.itertuples(index=False):
                e = None if pd.isna(r.emp_id) else int(r.emp_id)
                got[e] = (r.strike_count, r.status, r.month)
        assert got == want
        ids, strikes, ms, timeless = st._v
        assert {
            e: (s, m, t) for e, s, m, t in zip(ids, strikes, ms, timeless)
        } == {e: p._state.get() for e, p in ref.items()}
