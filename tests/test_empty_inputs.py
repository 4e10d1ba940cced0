"""Empty-warehouse hardening pins (round 12): operators must either
return a well-typed empty/zero result or raise an EXPLICIT documented
precondition error — never an engine artifact (ANSI divide-by-zero,
VOID-typed literals, schema-inference failures on empty write-backs).
The r10 judge falsified mann_whitney_u exactly this way; these pin the
fixes found by the r12 self-probe over all 190 queries."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def empty_wh(tmp_path_factory):
    """All ten warehouse tables with their real schemas and zero rows
    (single-file parquet, sliced from sf0.001 so DuckDB could read it
    too if ever needed)."""
    d = tmp_path_factory.mktemp("empty_wh")
    for t in TABLES:
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), f"{d}/{t}.parquet")
    return str(d)


def test_fd_violation_report_empty_rate_is_null_not_raise(spark, empty_wh):
    """n_keys = 0: the violation_rate division is guarded (ANSI mode
    would otherwise raise DIVIDE_BY_ZERO) and reports NULL."""
    rows = REGISTRY["fd_violation_report"].fn(spark, empty_wh).collect()
    assert len(rows) == 4  # one row per declared FD, even with no data
    for r in rows:
        assert (r.n_keys, r.n_violating_keys) == (0, 0)
        assert r.violation_rate is None and r.max_distinct_rhs is None


def test_ivf_family_empty_pivot_literal_is_typed(spark, empty_wh):
    """_pivot_literal([]) must emit a correctly-typed empty array — a
    bare array() types as ARRAY<VOID> and every lambda field
    extraction then fails ANALYSIS. The assignment-based queries must
    analyze and return zero rows."""
    for name in (
        "ivf_topk",
        "ivf_topk_multiprobe",
        "quantized_ivf_topk",
        "embedding_neardup_pairs",
        "hard_negative_mining",
    ):
        assert REGISTRY[name].fn(spark, empty_wh).collect() == [], name


def test_partition_pruned_report_empty_write_readback(spark, empty_wh):
    """The partitioned write of an empty projection leaves nothing to
    infer a schema from; the read-back passes the writer's schema
    explicitly and the report is simply empty."""
    assert REGISTRY["partition_pruned_report"].fn(spark, empty_wh).collect() == []


def test_streaming_upsert_dim_empty_replay(spark, empty_wh):
    """An empty replay stages no batch files and writes no dim; the
    operator returns the dim schema with zero rows instead of failing
    the read (a first-ever run over an empty topic)."""
    df = REGISTRY["streaming_upsert_dim"].fn(spark, empty_wh)
    assert df.collect() == []
    assert set(df.columns) == {"user_id", "n_events", "total_value"}


def test_training_preconditions_raise_explicit_errors(spark, empty_wh):
    """The k-means / PQ trainers and PageRank REQUIRE input by
    contract; on an empty corpus they must raise their documented
    ValueError (clear message), never an engine artifact."""
    for name, frag in (
        ("kmeans_ivf_assign", "0 vectors"),
        ("pq_adc_search", "0 < ksub"),
        ("supplier_pagerank", "empty edge list"),
    ):
        with pytest.raises(ValueError, match=frag):
            REGISTRY[name].fn(spark, empty_wh).collect()


@pytest.fixture(scope="module")
def nullrow_wh(tmp_path_factory):
    """sf0.001 with two appended rows per table in which every NON-KEY
    column is NULL (keys = max+1/max+2) — the one-malformed-row-in-
    100TB scenario, all ten tables (the r13 NULL-parity campaign's
    probe warehouse; see tools/null_parity_probe.py)."""
    import pyarrow as pa

    d = tmp_path_factory.mktemp("nullrow_wh")
    keys = {
        "region": {"r_regionkey"},
        "nation": {"n_nationkey", "n_regionkey"},
        "customer": {"c_custkey", "c_nationkey"},
        "supplier": {"s_suppkey", "s_nationkey"},
        "part": {"p_partkey"},
        "orders": {"o_orderkey", "o_custkey"},
        "lineitem": {"l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"},
        "events": {"event_id", "user_id"},
        "documents": {"doc_id"},
        "embeddings": {"vec_id"},
    }
    for t in TABLES:
        tbl = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet")
        if t in keys:
            pdf = tbl.to_pandas()
            add = {}
            for f in tbl.schema:
                if f.name in keys[t]:
                    mx = int(pdf[f.name].max())
                    add[f.name] = [mx + 1, mx + 2]
                else:
                    add[f.name] = [None, None]
            extra = pa.table(
                {f.name: pa.array(add[f.name], f.type) for f in tbl.schema}
            )
            tbl = pa.concat_tables([tbl, extra])
        pq.write_table(tbl, f"{d}/{t}.parquet")
    return str(d)


def test_one_null_row_never_kills_the_job(spark, nullrow_wh):
    """A single all-NULL-payload row must not crash any of the three
    previously-fragile paths: the ANSI division in the contamination
    share (n_grams = 0 group), the NaN→int cast in the Arrow decode
    worker, and the NULL boolean mask / NULL month in the stateful
    strikes machine."""
    for name in ("benchmark_contamination", "multimodal_decode"):
        rows = REGISTRY[name].fn(spark, nullrow_wh).collect()
        assert rows, name
    rows = REGISTRY["strike_stream_stateful"].fn(spark, nullrow_wh).collect()
    assert rows
    # NULL-flagged rows are "not flagged": strike counts equal the
    # batch twin, which filters flagged_expr() (NULL drops) the same
    # way. Key-set discipline: every batch employee appears in the
    # stream with the SAME count (a silently-dropped key would hide
    # here otherwise), and stream-only employees are the 0-strike ones
    # the batch report has no row for.
    batch = {
        r.emp_id: r.strike_count
        for r in REGISTRY["strike_report_batch"].fn(spark, nullrow_wh).collect()
    }
    stream = {r.emp_id: r.strike_count for r in rows}
    assert set(batch) <= set(stream)
    assert {k: stream[k] for k in batch} == batch
    assert all(stream[k] == 0 for k in set(stream) - set(batch))


def test_decode_features_null_payload_row(spark):
    """decode_features: a NULL payload yields NULL n_bytes and NULL
    feature (SQL NULL propagation), real payloads are untouched."""
    from employee_data_management_system_data_engineering_solution_spark.operators.multimodal import (
        decode_features,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id LONG, text STRING"
    )
    rows = {
        r.doc_id: r
        for r in decode_features(
            with_binary_payload(docs, "doc_id", "text")
        ).collect()
    }
    assert rows[1].n_bytes == 5 and rows[1].feature is not None
    assert rows[2].n_bytes is None and rows[2].feature is None



def _write_events_file(path, rows):
    """Write events as ONE parquet file (the replay harness symlinks
    {sf_dir}/events.parquet as a single file, the testdata layout)."""
    import pyarrow as pa

    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], "int64"),
                "ts": pa.array(cols[1], pa.timestamp("us")),
                "user_id": pa.array(cols[2], "int64"),
                "event_type": pa.array(cols[3], "string"),
                "value": pa.array(cols[4], "float64"),
                "props": pa.array(cols[5], "string"),
            }
        ),
        path,
    )


def test_flagged_event_with_null_ts_counts_without_reset(spark, tmp_path):
    """A flagged row whose ts is NULL counts as a strike in the current
    state month WITHOUT driving the monthly-cooldown reset (a sentinel
    month fed into the reset comparison would wipe accumulated
    strikes); the batch twin counts it identically."""
    import datetime as dt

    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_stream,
        strike_report,
    )
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    _write_events_file(
        f"{tmp_path}/events.parquet",
        [
            (1, dt.datetime(2024, 1, 5), 10, "error", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 6), 10, "error", 1.0, "{}"),
            (3, None, 10, "error", 1.0, "{}"),  # timeless strike
            (4, dt.datetime(2024, 1, 7), 10, "view", 1.0, "{}"),
            (5, dt.datetime(2024, 1, 7), 20, "view", 1.0, "{}"),
        ],
    )
    stream = {
        r.emp_id: r.strike_count
        for r in run_strike_stream(spark, str(tmp_path)).collect()
    }
    assert stream[10] == 3  # two dated strikes + the timeless one
    assert stream[20] == 0
    batch = {
        r.emp_id: r.strike_count
        for r in strike_report(read_table(spark, str(tmp_path), "events")).collect()
    }
    assert batch[10] == 3


def test_timeless_strike_with_month_transition_in_one_batch(spark, tmp_path):
    """Timeless-strike contract (documented at _fold_employee):
    a NULL-ts strike is PERMANENT — it accumulates in its own state
    counter, immune to every monthly cooldown, so its survival does
    not depend on where the malformed row sits relative to a month
    transition in the feed. Here: 2 Jan strikes, a timeless strike
    placed between them and a Feb strike. Feb's cooldown wipes the Jan
    strikes (threshold not hit) but cannot touch the timeless one:
    final count 1 (Feb) + 1 (timeless) = 2. The cross-batch half of
    the contract is pinned by
    test_timeless_strike_survives_cross_batch_reset
    (tests/test_streaming.py)."""
    import datetime as dt

    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_stream,
    )

    _write_events_file(
        f"{tmp_path}/events.parquet",
        [
            (1, dt.datetime(2024, 1, 5), 10, "error", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 6), 10, "error", 1.0, "{}"),
            (3, None, 10, "error", 1.0, "{}"),  # timeless, mid-feed
            (4, dt.datetime(2024, 2, 2), 10, "error", 1.0, "{}"),
        ],
    )
    got = {
        r.emp_id: r.strike_count
        for r in run_strike_stream(spark, str(tmp_path)).collect()
    }
    assert got[10] == 2


def test_null_event_id_row_is_staged_not_dropped(spark, tmp_path):
    """The micro-batch staging keyed on event_id must route a NULL (or
    negative) event_id into a real batch — a plain % would send it to
    a partition directory the staging loop never collects, silently
    losing the row from the stream."""
    import datetime as dt

    from employee_data_management_system_data_engineering_solution_spark.streaming.upsert import (
        run_upsert_stream,
    )

    _write_events_file(
        f"{tmp_path}/events.parquet",
        [
            (0, dt.datetime(2024, 1, 5), 10, "view", 1.0, "{}"),
            (1, dt.datetime(2024, 1, 6), 10, "view", 2.0, "{}"),
            (None, dt.datetime(2024, 1, 7), 10, "view", 4.0, "{}"),  # malformed id
            (-3, dt.datetime(2024, 1, 8), 20, "view", 8.0, "{}"),  # negative id
        ],
    )
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in run_upsert_stream(spark, str(tmp_path)).collect()
    }
    assert got == {10: (3, 7.0), 20: (1, 8.0)}


# ---------------------------------------------------------------------------
# Round-13 NULL-parity campaign pins (tools/null_parity_probe.py): the
# per-family NULL contracts applied identically on BOTH engines.
# ---------------------------------------------------------------------------
def test_null_embedding_excluded_from_similarity(spark, nullrow_wh):
    """Similarity-family contract: a NULL embedding participates in no
    index/search — the injected vec_ids never appear on either side of
    a top-k pair, and the query still runs (DuckDB's oracle twin would
    otherwise refuse NULL components outright)."""
    base_max = 499  # sf0.001 embeddings: vec_id 0..499
    rows = REGISTRY["embedding_topk"].fn(spark, nullrow_wh).collect()
    assert rows
    for r in rows:
        assert r.query_id <= base_max and r.neighbor_id <= base_max


def test_null_text_excluded_from_gate_and_dedup(spark, nullrow_wh):
    """Gate + dedup family contract: a NULL-text document has no
    features, no label, and no pairs — the gate report drops it and
    the two injected docs never pair with each other."""
    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm

    gate = REGISTRY["quality_gate_logistic"].fn(spark, nullrow_wh).collect()
    assert len(gate) == 500  # the two NULL-text docs are not scorable
    try:
        pairs = REGISTRY["ngram_jaccard_pairs"].fn(spark, nullrow_wh).collect()
    finally:
        _llm._verified_pairs.clear()
    injected = {500, 501}
    for r in pairs:
        assert r.id_a not in injected and r.id_b not in injected


def test_null_ts_event_survives_staging_split(spark, nullrow_wh):
    """The two-phase checkpoint-restart staging splits events on
    ``ts < cut`` / ``ts >= cut`` — a NULL ts fails BOTH predicates, so
    without the isNull arm the injected employees would silently
    vanish from the stream (the r12 event_id%n lesson). They must
    appear in the final state with 0 strikes (their only event has
    NULL event_type = not flagged)."""
    got = {
        r.emp_id: r.strike_count
        for r in REGISTRY["checkpoint_restart_strikes"].fn(spark, nullrow_wh).collect()
    }
    ev = pq.read_table(f"{nullrow_wh}/events.parquet").to_pandas()
    injected = set(ev["user_id"].tail(2).astype(int))
    for emp in injected:
        assert got.get(emp) == 0, (emp, got.get(emp))


def test_null_rows_excluded_from_stats_reports(spark, nullrow_wh):
    """Stats-family contracts: NULL price rows get no decile (the
    oracle's CASE would dump them into the top bucket), NULL group
    keys/metrics get no winsorization group, NULL dates sit nowhere on
    the CUSUM time axis."""
    deciles = REGISTRY["price_decile_stats"].fn(spark, nullrow_wh).collect()
    assert sorted(r.decile for r in deciles) == list(range(1, 11))
    wins = REGISTRY["value_winsorized_stats"].fn(spark, nullrow_wh).collect()
    assert all(r.event_type is not None for r in wins)
    cusum = REGISTRY["revenue_cusum_shift"].fn(spark, nullrow_wh).collect()
    assert all(r.day is not None for r in cusum)


# ---------------------------------------------------------------------------
# Round-13 build-outs (X182-X186): empty-warehouse and one-malformed-
# row behavior.
# ---------------------------------------------------------------------------
def test_r13_ops_on_empty_warehouse(spark, empty_wh):
    """Series/plan/retrieval newcomers return well-typed empties; the
    RI audit still reports all 7 edges with zero counts and a NULL
    orphan share (0/0 is undefined, not 0)."""
    for name in (
        "seasonal_decompose_report",
        "mann_kendall_trend",
        "range_partition_plan",
        "mmr_diversified_topk",
    ):
        assert REGISTRY[name].fn(spark, empty_wh).collect() == [], name
    rows = REGISTRY["referential_integrity_audit"].fn(spark, empty_wh).collect()
    assert len(rows) == 7
    for r in rows:
        assert (r.n_rows, r.n_null_fk, r.n_orphan_rows, r.n_orphan_keys) == (
            0, 0, 0, 0)
        assert r.orphan_pct is None


def test_r13_ops_on_nullrow_warehouse(spark, nullrow_wh):
    """One malformed row must not crash or skew the newcomers: NULL
    dates sit on no series axis, NULL prices get no range bucket, NULL
    embeddings join no MMR pool, and the RI audit REPORTS the NULL FKs
    instead of calling them orphans."""
    seas = REGISTRY["seasonal_decompose_report"].fn(spark, nullrow_wh).collect()
    # sf0.001's calendar is sparse — only SOME dows hold a full
    # gap-free week; the contract is merely that the NULL-date row
    # crashed nothing and landed nowhere
    assert seas and all(1 <= r.dow <= 7 and r.n_days > 0 for r in seas)
    mk = REGISTRY["mann_kendall_trend"].fn(spark, nullrow_wh).collect()
    assert mk and all(r.n_name is not None for r in mk)

    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table
    from pyspark.sql import functions as F

    live = (
        read_table(spark, nullrow_wh, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .count()
    )
    plan = REGISTRY["range_partition_plan"].fn(spark, nullrow_wh).collect()
    assert sum(r.n_rows for r in plan) == live
    assert all(1 <= r.bucket <= 8 for r in plan)

    emb = read_table(spark, nullrow_wh, "embeddings")
    injected = {
        r.vec_id for r in emb.filter(F.col("embedding").isNull()).collect()
    }
    assert injected
    mmr = REGISTRY["mmr_diversified_topk"].fn(spark, nullrow_wh).collect()
    assert len(mmr) == 25
    assert not ({r.neighbor_id for r in mmr} & injected)

    audit = {
        r.edge: r
        for r in REGISTRY["referential_integrity_audit"].fn(spark, nullrow_wh).collect()
    }
    # every FK column is a KEY column in the probe (keys get max+1/+2,
    # never NULL), and each parent got the matching injected keys — so
    # the audit sees the two extra rows per child and stays orphan-free
    assert len(audit) == 7
    assert audit["supplier.s_nationkey->nation.n_nationkey"].n_rows == 12
    assert all(r.n_null_fk == 0 for r in audit.values())
