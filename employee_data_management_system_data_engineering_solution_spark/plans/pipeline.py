"""Composed end-to-end pipeline + production-path queries.

``daily_pipeline`` mirrors the reference's daily chain
(``daily_dag.py:238``: file-arrival gate → clean → stage → merge →
publish) as ONE invocable flow over real sinks: newest-file discovery,
CSV staging read, W1 keep-best dedup, SCD-2 close-out, parquet dim
write, read-back. The oracle recomputes the same result straight from
the warehouse tables, so the whole loop — including both sinks and the
file-discovery gate — is hash-checked.

``strike_report_rlike`` exercises the PRODUCTION reserved-word path
(``README.md:104``): a word-boundary regex over the message payload,
not the ``event_type == 'error'`` stand-in.

``ordered_designation_report`` covers SURVEY §2.7 O1/O2 with the sort
made hash-visible via a position stamp.

``strike_window_counts`` is SURVEY §2.9's watermark + tumbling-window
carrier, driven through real Structured Streaming.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import cleaning, scd
from ..operators.reports import ordered_with_rank
from ..functions.money import money, money_sum
from ..sources.io import (
    fan_out,
    latest_file,
    read_csv,
    read_table,
    write_csv,
    write_parquet,
)
from ..streaming.strikes import (
    RESERVED_WORDS,
    flag_messages,
    run_dedup_stream,
    run_session_stream,
    run_windowed_flag_stream,
)
from .memo import session_memo
from .registry import REGISTRY, register

_STAGING_SCHEMA = T.StructType(
    [
        T.StructField("emp_id", T.LongType()),
        T.StructField("period_id", T.LongType()),
        T.StructField("start_date", T.DateType()),
        T.StructField("end_date", T.DateType()),
        T.StructField("status", T.StringType()),
        T.StructField("salary", T.DoubleType()),
    ]
)


def _scd_shape(orders: DataFrame, order_status: str) -> DataFrame:
    return orders.filter(F.col("o_orderstatus") == order_status).select(
        F.col("o_custkey").alias("emp_id"),
        F.col("o_orderkey").alias("period_id"),
        F.col("o_orderdate").cast("date").alias("start_date"),
        F.lit(None).cast("date").alias("end_date"),
        F.lit("Active").alias("status"),
        F.col("o_totalprice").alias("salary"),
    )


@register(
    "daily_pipeline",
    """
    WITH dim AS (
      SELECT o_custkey AS emp_id, o_orderkey AS period_id,
             CAST(o_orderdate AS DATE) AS start_date,
             CAST(NULL AS DATE) AS end_date, 'Active' AS status,
             o_totalprice AS salary
      FROM orders WHERE o_orderstatus = 'O'
    ),
    stg_raw AS (
      SELECT o_custkey AS emp_id, o_orderkey AS period_id,
             CAST(o_orderdate AS DATE) AS start_date,
             CAST(NULL AS DATE) AS end_date, 'Active' AS status,
             o_totalprice AS salary
      FROM orders WHERE o_orderstatus = 'F'
    ),
    stg AS (
      SELECT emp_id, period_id, start_date, end_date, status, salary
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY emp_id ORDER BY salary DESC, period_id ASC) AS rn
        FROM stg_raw
      ) WHERE rn = 1
    ),
    mins AS (SELECT emp_id, min(start_date) AS min_start FROM stg GROUP BY emp_id)
    SELECT d.emp_id, d.period_id,
           CAST(d.start_date AS VARCHAR) AS start_date,
           CAST(CASE WHEN d.end_date IS NULL AND m.min_start IS NOT NULL
                     THEN m.min_start ELSE d.end_date END AS VARCHAR) AS end_date,
           CASE WHEN d.end_date IS NULL AND m.min_start IS NOT NULL
                THEN 'Inactive' ELSE d.status END AS status,
           d.salary
    FROM dim d LEFT JOIN mins m USING (emp_id)
    UNION ALL
    SELECT emp_id, period_id, CAST(start_date AS VARCHAR), CAST(end_date AS VARCHAR),
           status, salary
    FROM stg
    """,
)
def daily_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's daily chain end-to-end (``daily_dag.py:238``):
    stage CSV drop → newest-file gate → schema'd CSV read → W1 dedup →
    SCD-2 close-out → ordered parquet dim write → read-back.

    Deterministic paths under the system temp dir, overwrite mode — a
    rerun replaces, never accumulates.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = os.path.join(
        tempfile.gettempdir(), f"eds_pipeline_{os.path.basename(sf_dir.rstrip(os.sep))}"
    )
    in_dir = os.path.join(base, "incoming")

    # simulate the S3 drop zone: an older decoy batch plus the real
    # newest batch; the newest-file gate must pick the latter
    decoy = _scd_shape(orders, "P").limit(10)
    batch = _scd_shape(orders, "F")
    old_path = os.path.join(in_dir, "batch_old.csv")
    new_path = os.path.join(in_dir, "batch_new.csv")
    write_csv(decoy, old_path)
    write_csv(batch, new_path)
    now = os.path.getmtime(old_path)
    os.utime(new_path, (now + 60, now + 60))  # unambiguous arrival order

    newest = latest_file(in_dir, suffix=".csv")
    staged = read_csv(spark, newest, schema=_STAGING_SCHEMA)

    # W1 keep-best: one open period per employee, highest salary wins
    # (clean_load_2_tf_staging.py:78-82), tie-broken for determinism
    cleaned = cleaning.dedup_keep_best(
        staged, ["emp_id"], [F.col("salary").desc(), F.col("period_id").asc()]
    )
    merged = scd.scd2_close_out(_scd_shape(orders, "O"), cleaned, key="emp_id")

    out_dir = os.path.join(base, "dim_out")
    write_parquet(merged.orderBy("emp_id", "start_date"), out_dir)

    return spark.read.schema(merged.schema).parquet(out_dir).select(
        "emp_id",
        "period_id",
        F.col("start_date").cast("string").alias("start_date"),
        F.col("end_date").cast("string").alias("end_date"),
        "status",
        "salary",
    )


@register(
    "staging_promote_roundtrip",
    """
    WITH dim AS (
      SELECT o_custkey AS emp_id, o_orderkey AS period_id,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS start_date,
             'Active' AS status, o_totalprice AS salary
      FROM orders WHERE o_orderstatus = 'O'
    ),
    stg AS (
      SELECT o_custkey AS emp_id, o_orderkey AS period_id,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS start_date,
             'Active' AS status, o_totalprice AS salary
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT emp_id, period_id, start_date, status, salary,
           CAST(0 AS BIGINT) AS staging_left
    FROM (SELECT * FROM dim UNION ALL SELECT * FROM stg)
    """,
)
def staging_promote_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's K5/K2 promotion loop end-to-end
    (``daily_dag.py:159-166``: ``INSERT INTO dim SELECT * FROM staging``
    then ``TRUNCATE staging``): write a fresh dim and staging, run
    :func:`promote_staging` (parquet append + schema-preserving
    truncate), then read the dim back. The oracle is the dim∪staging
    union, and ``staging_left`` carries the post-truncate staging row
    count (must be 0) so the truncate is hash-checked too.

    Both pre-writes are ``overwrite``, so a rerun starts from a clean
    dim and the append can't accumulate across invocations.
    """
    from ..sources.io import promote_staging

    orders = read_table(spark, sf_dir, "orders")
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"eds_promote_{tag}")
    dim_path = os.path.join(base, "dim")
    stg_path = os.path.join(base, "staging")

    dim, stg = _scd_shape(orders, "O"), _scd_shape(orders, "F")
    write_parquet(dim, dim_path, mode="overwrite")
    write_parquet(stg, stg_path, mode="overwrite")
    promote_staging(spark, stg_path, dim_path, stg.schema)

    staging_left = spark.read.schema(stg.schema).parquet(stg_path).count()  # 0 after truncate
    return spark.read.schema(dim.schema).parquet(dim_path).select(
        "emp_id",
        "period_id",
        F.col("start_date").cast("string").alias("start_date"),
        "status",
        "salary",
        F.lit(staging_left).cast("long").alias("staging_left"),
    )


@register(
    "strike_report_rlike",
    rf"""
    WITH s AS (
      SELECT user_id AS emp_id, count(*) AS strike_count
      FROM events
      WHERE regexp_matches(lower(event_type || ' ' || props),
                           '\b({'|'.join(RESERVED_WORDS)})\b')
      GROUP BY user_id
    )
    SELECT emp_id, strike_count,
           CASE WHEN strike_count >= 10 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
           round(100000 * pow(0.9, least(strike_count, 10)), 2) AS updated_salary
    FROM s
    """,
)
def strike_report_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production reserved-word path (``README.md:104``): word-boundary
    regex over the message payload via :func:`flag_messages` — not the
    ``event_type`` equality stand-in. Carries the full ST2+ST4 contract
    (flagging, ≥10 ⇒ INACTIVE, 10%-per-strike deduction) so it stands
    alone as the reserved-word report's gate carrier."""
    ev = read_table(spark, sf_dir, "events")
    # the alternation regex is the expensive narrow map here — fan the
    # compact projection out first or a single-file scan serializes it
    msgs = fan_out(
        ev.select(
            F.col("user_id").alias("emp_id"),
            F.concat_ws(" ", F.col("event_type"), F.col("props")).alias("message"),
        )
    )
    strikes = (
        flag_messages(msgs, "message")
        .filter(F.col("flagged"))
        .groupBy("emp_id")
        .agg(F.count("*").alias("strike_count"))
    )
    return strikes.select(
        "emp_id",
        "strike_count",
        F.when(F.col("strike_count") >= 10, F.lit("INACTIVE"))
        .otherwise(F.lit("ACTIVE"))
        .alias("status"),
        F.round(
            F.lit(100000) * F.pow(F.lit(0.9), F.least(F.col("strike_count"), F.lit(10))),
            2,
        ).alias("updated_salary"),
    )


@register(
    "ordered_designation_report",
    """
    SELECT designation, n_orders, CAST(position AS INT) AS position
    FROM (
      SELECT o_orderpriority AS designation, count(*) AS n_orders,
             row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) AS position
      FROM orders GROUP BY o_orderpriority
    )
    """,
)
def ordered_designation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 O1/O2: ordered report output with the sort order
    hash-visible through the position stamp."""
    agg = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("designation"))
        .agg(F.count("*").alias("n_orders"))
    )
    return ordered_with_rank(
        agg, [F.col("n_orders").desc(), F.col("designation").asc()]
    )


@register(
    "strike_window_counts",
    """
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS window_start,
           CAST(CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP) AS VARCHAR) AS window_end,
           user_id AS emp_id,
           count(*) AS n_flagged
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2, 3
    """,
)
def strike_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.9 watermark + tumbling-window carrier, driven through
    real Structured Streaming (1-day windows, 1-day late-data
    tolerance); the oracle is the batch-equivalent day-bucket count."""
    return run_windowed_flag_stream(spark, sf_dir)


@register(
    "sliding_window_counts",
    """
    WITH f AS (SELECT ts FROM events WHERE event_type = 'error'),
    w AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
               AS wstart
      FROM f CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)
    )
    SELECT CAST(CAST(wstart AS TIMESTAMP) AS VARCHAR) AS window_start,
           CAST(CAST(wstart + INTERVAL 1 HOUR AS TIMESTAMP) AS VARCHAR)
             AS window_end,
           count(*) AS n_flagged
    FROM w GROUP BY 1, 2
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X207: watermarked SLIDING-window counts (1-hour windows every
    15 minutes) through real Structured Streaming — the overlap tier
    the tumbling carrier (strike_window_counts) cannot express: each
    flagged event lands in exactly duration/slide = 4 windows, giving
    the smooth trend surface an alerting monitor reads. The oracle is
    the batch multi-assignment: every event exploded onto its 4
    epoch-aligned window starts (time_bucket − k·slide, the same
    alignment Spark's window() computes) and counted."""
    from ..streaming.strikes import run_sliding_window_counts

    return run_sliding_window_counts(spark, sf_dir)


@register(
    "partition_pruned_report",
    """
    SELECT l_returnflag,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """,
)
def partition_pruned_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned warehouse layout + partition pruning end-to-end:
    a lineitem projection is written ``partitionBy(l_returnflag)`` and
    the report filter then prunes to 2 of the 3 flag directories — the
    scan never touches the third partition's files (visible as
    PartitionFilters in the physical plan). At 100 TB this directory
    pruning is the difference between reading part of the table and all
    of it before the first filter runs."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    base = os.path.join(
        tempfile.gettempdir(), f"eds_part_{os.path.basename(sf_dir.rstrip(os.sep))}"
    )
    write_parquet(li, base, partition_by=["l_returnflag"])
    return (
        # explicit schema: skips footer-sampling inference on read-back
        # (at 100 TB that sampling is real I/O) and keeps an EMPTY
        # write readable (no files to infer from otherwise)
        spark.read.schema(li.schema).parquet(base)
        .filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(
            money_sum(money("l_extendedprice"), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "stream_dedup_counts",
    """
    SELECT event_type, count(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once dedup (watermarked ``dropDuplicates`` on the
    event id) → per-type counts, through real Structured Streaming; the
    oracle is the batch COUNT(DISTINCT)."""
    return run_dedup_stream(spark, sf_dir)


@register(
    "session_window_counts",
    """
    WITH s AS (
      SELECT user_id AS emp_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WHERE event_type = 'error'
    ),
    g AS (
      SELECT emp_id, ts,
             sum(new_s) OVER (PARTITION BY emp_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT emp_id,
           CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           count(*) AS n_events
    FROM g GROUP BY emp_id, sid
    """,
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity sessionization through real Structured Streaming
    ``session_window`` (30-min gap); the oracle reproduces the exact
    data-dependent boundaries with the gaps-and-islands idiom (break on
    gap strictly exceeded; end = last event + gap)."""
    return run_session_stream(spark, sf_dir)


@register(
    "json_props_stats",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload parsing: extract a field from the JSON
    ``props`` column (``get_json_object`` — JVM-side, codegen'd) and
    aggregate per event type. The JSON-string-column pattern is the
    bread and butter of log/training-data ingest."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "bucketed_colocated_join",
    """
    SELECT c_mktsegment,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
           count(*)                    AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'O'
    GROUP BY c_mktsegment
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-location: both join sides are written
    ``bucketBy(8, custkey).sortBy(custkey)``, so the sort-merge join
    reads pre-hashed, pre-sorted buckets and needs NO exchange on
    either side (bucket-pruned scan → SMJ directly; the only shuffle
    left is the tiny post-join segment agg). This is the 100 TB answer
    to a fact⋈dim join that repeats every load: pay the partitioning
    once at write time, never again at read time. The ``merge`` hint
    pins SMJ so the demo isn't silently converted to broadcast on the
    small test dim."""
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"eds_bucketed_{tag}")
    t_orders, t_cust = f"eds_b_orders_{tag}", f"eds_b_customer_{tag}"

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderstatus"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    (
        orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", os.path.join(base, "orders"))
        .mode("overwrite").format("parquet").saveAsTable(t_orders)
    )
    (
        cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", os.path.join(base, "customer"))
        .mode("overwrite").format("parquet").saveAsTable(t_cust)
    )
    bo, bc = spark.table(t_orders), spark.table(t_cust)
    return (
        bo.filter(F.col("o_orderstatus") == "O")
        .hint("merge")
        .join(bc, bo["o_custkey"] == bc["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            money_sum(money("o_totalprice"), "revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "streaming_upsert_dim",
    """
    SELECT user_id,
           count(*)               AS n_events,
           -- coalesce mirrors the incremental accumulator: the
           -- cross-batch merge seeds state at 0.00, so a user whose
           -- every value is NULL holds total_value 0, not NULL
           CAST(round(coalesce(sum(CAST(value AS DECIMAL(12,2))),
                               CAST(0.00 AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_upsert_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch streaming merge into a keyed parquet dim; the
    associative combine makes the final dim equal the one-shot batch
    aggregate, which is what the oracle verifies."""
    from ..streaming.upsert import run_upsert_stream

    return run_upsert_stream(spark, sf_dir)


@register(
    "salted_skew_join",
    """
    SELECT s_nationkey,
           count(*)                       AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key mitigation: the fact side is salted 8 ways (deterministic
    row-hash salt) and the dim side replicated 8x, so one skewed
    supplier key spreads over 8 shuffle partitions. Result is EXACTLY
    the plain inner join — the oracle checks that equivalence. (AQE
    skew-split handles most cases automatically; explicit salting is
    the deterministic fallback — see operators/skew.py.)"""
    from ..operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, sup, on=["suppkey"], salt=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            money_sum(money("l_extendedprice"), "revenue"),
        )
    )


@register(
    "published_report_roundtrip",
    """
    SELECT o_orderpriority AS designation, count(*) AS active_count
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def published_report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink publish (X30) under the gate: the active-count report
    is persisted ONCE and fanned out to parquet + CSV sinks
    (reference shape: Task_4_generate_active_table.py writes both a
    table and a CSV); the query returns the PARQUET read-back
    inner-joined with the CSV read-back on equal values — so a
    divergence between sinks breaks the row count, and the oracle
    checks the values themselves."""
    from ..sources.io import publish_report, read_csv

    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"eds_publish_{tag}")
    report = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_orderpriority").alias("designation"))
        .agg(F.count(F.lit(1)).alias("active_count"))
    )
    pq_path, csv_path = os.path.join(base, "report_pq"), os.path.join(base, "report_csv")
    publish_report(report, parquet_path=pq_path, csv_path=csv_path)
    pq = spark.read.schema(report.schema).parquet(pq_path)
    cs = read_csv(spark, csv_path, schema=T.StructType([
        T.StructField("designation", T.StringType()),
        T.StructField("active_count", T.LongType()),
    ]), header=True)
    return pq.join(cs, on=["designation", "active_count"], how="inner")


@register(
    "schema_evolution_read",
    """
    WITH evolved AS (
      SELECT o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      UNION ALL
      SELECT o_totalprice, o_orderstatus
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
    )
    SELECT coalesce(o_orderstatus, 'LEGACY') AS status,
           count(*)                          AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM evolved GROUP BY 1
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an old batch written
    WITHOUT ``o_orderstatus`` and a new batch WITH it land in the same
    warehouse directory; ``mergeSchema`` unifies them on read
    (missing column → NULL). The footer merge is an O(n_files)
    metadata pass — at 100 TB pin the unified schema in a catalog and
    skip per-read merging; the read-side semantics stay exactly
    these."""
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"eds_evolve_{tag}")
    orders = read_table(spark, sf_dir, "orders")
    cut = F.col("o_orderdate").cast("date") >= F.to_date(F.lit("1997-01-01"))
    orders.filter(~cut).select("o_totalprice").write.mode("overwrite").parquet(
        os.path.join(base, "batch=old")
    )
    orders.filter(cut).select("o_totalprice", "o_orderstatus").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "batch=new"))
    # keeps inference: merging the two batches' footers is the feature
    evolved = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=old"), os.path.join(base, "batch=new")
    )
    return (
        evolved.groupBy(F.coalesce("o_orderstatus", F.lit("LEGACY")).alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(money("o_totalprice"), "revenue"),
        )
    )


@register(
    "stream_purchase_view_join",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           count(*)   AS n_views
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    GROUP BY 1, 2
    """,
)
def stream_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (purchases ⋈ prior-hour views per
    user) driven through real Structured Streaming; the oracle is the
    batch-equivalent range join, so state eviction and join semantics
    are value-checked, not just smoke-tested."""
    from ..streaming.strikes import run_stream_stream_join

    return run_stream_stream_join(spark, sf_dir)


@register(
    "json_lines_roundtrip",
    """
    SELECT o_orderpriority AS priority,
           count(*)                     AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def json_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round-trip: the filtered orders slice is
    written as newline-delimited JSON and read back with an EXPLICIT
    schema (schema inference over JSON is a full extra pass at 100 TB
    — never rely on it), then aggregated. The oracle aggregates the
    original table, so a lossy round-trip (type drift, dropped rows)
    breaks the hash. Covers the JSON source format alongside
    parquet/CSV (SURVEY §2.1 breadth)."""
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"eds_jsonl_{tag}")
    slim = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    slim.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(money("o_totalprice"), "revenue"),
    )


@register(
    "orc_roundtrip",
    """
    SELECT l_linestatus                AS linestatus,
           count(*)                    AS n,
           round(sum(l_quantity), 2)   AS sum_qty
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (columnar alternative to parquet,
    same predicate-pushdown/column-pruning story): write the filtered
    lineitem slice as ORC, read it back, aggregate; oracle runs on the
    original table so any round-trip loss breaks the hash."""
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"eds_orc_{tag}")
    slim = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.to_date(F.lit("1997-01-01")))
        .select("l_linestatus", "l_quantity")
    )
    slim.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy(F.col("l_linestatus").alias("linestatus")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "format_roundtrips",
    """
    SELECT 'jsonl' AS fmt, o_orderpriority AS grp,
           count(*) AS n, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS val
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'orc' AS fmt, l_linestatus AS grp,
           count(*) AS n, round(sum(l_quantity), 2) AS val
    FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def format_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed non-parquet format carrier: the JSON-lines (X61) and
    ORC (X62) write→read→aggregate round-trips in one gate row, tagged
    by format. The oracle aggregates the ORIGINAL tables, so any
    round-trip loss in either format (type drift, dropped rows, schema
    skew) breaks the hash."""
    j = json_lines_roundtrip(spark, sf_dir).select(
        F.lit("jsonl").alias("fmt"),
        F.col("priority").alias("grp"),
        "n",
        F.col("revenue").alias("val"),
    )
    o = orc_roundtrip(spark, sf_dir).select(
        F.lit("orc").alias("fmt"),
        F.col("linestatus").alias("grp"),
        "n",
        F.col("sum_qty").alias("val"),
    )
    return j.unionByName(o)


def _pr_iter_cte(prev: str, out: str) -> str:
    """One fixed-point PageRank round as a CTE: integer contribution
    split along edges, integer damped recombination over the FULL node
    set (zero-in-degree nodes keep the teleport term) — the SQL mirror
    of ``operators.graph.pagerank_fixed_point`` (// is DuckDB floor
    division, matching Spark's ``div`` on positive BIGINTs)."""
    return f"""
    {out} AS (
      SELECT nd.node,
             CAST((SELECT 150000000000 // n FROM nn)
                  + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS r
      FROM nodes nd
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.r // deg.d) AS m
        FROM {prev} p
        JOIN deg ON deg.src = p.node
        JOIN e ON e.src = p.node
        GROUP BY e.dst
      ) s ON s.node = nd.node
    )"""


@register(
    "supplier_pagerank",
    f"""
    WITH su AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    e AS (
      SELECT DISTINCT a.sk AS src, b.sk AS dst
      FROM su a JOIN su b ON a.ok = b.ok AND a.sk <> b.sk
    ),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    p0 AS (
      SELECT node, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r
      FROM nodes
    ),
    {_pr_iter_cte("p0", "p1")},
    {_pr_iter_cte("p1", "p2")},
    {_pr_iter_cte("p2", "p3")}
    SELECT node AS supplier_id, r AS rank_fp, CAST(rn AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY r DESC, node ASC) AS rn FROM p3
    ) WHERE rn <= 100
    """,
)
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier importance by PageRank over the co-supply graph
    (suppliers are linked when they supplied the same order — the
    entity-importance ranking a crawl/curation pipeline runs over
    domain or author graphs; the reference has no iterative graph
    analytics at all). Three fixed-point iterations
    (``operators.graph.pagerank_fixed_point``): integer arithmetic on a
    1e12 grid makes the iterative float-summation hazard structurally
    impossible, so the DuckDB oracle unrolls the same three rounds and
    matches bit-exactly. Output: top-100 suppliers.

    Scale: edge construction is one distinct + a per-order self-join
    bounded by suppliers-per-order; each iteration is one equi-join
    against the once-partitioned pinned edge frame plus one map-side
    combined integer-sum groupBy. The top-100 cut is orderBy+limit
    (TakeOrderedAndProject — per-partition heaps; an entity graph's
    node set is NOT small at crawl scale), and only the bounded
    100-row result takes the rank-stamping window."""
    from ..operators.graph import pagerank_fixed_point

    li = read_table(spark, sf_dir, "lineitem")
    # ok-clustered dedup: one exchange serves both the distinct and the
    # basket self-join (the part_link_prediction r16 pattern)
    su = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .repartition(F.col("ok"))
        .dropDuplicates(["ok", "sk"])
    )
    a = su.select(F.col("ok"), F.col("sk").alias("src"))
    b = su.select(F.col("ok"), F.col("sk").alias("dst"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    pr = pagerank_fixed_point(edges, iters=3)
    from pyspark.sql import Window

    top = pr.orderBy(F.col("rank_fp").desc(), F.col("node").asc()).limit(100)
    w = Window.orderBy(F.col("rank_fp").desc(), F.col("node").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("node").alias("supplier_id"),
        "rank_fp",
        "rank",
    )


# --------------------------------------------------------------------------
# Z-order (Morton) data layout: multi-dimensional clustering statistics
# --------------------------------------------------------------------------
def _zorder_oracle() -> str:
    from ..operators.layout import morton_sql

    return f"""
    WITH keyed AS (
      SELECT o_orderkey,
             o_custkey % 1024 AS xb,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024 AS yb
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, xb, yb, {morton_sql("xb", "yb", 10)} >> 14 AS file_bucket
      FROM keyed
    )
    SELECT file_bucket,
           count(*) AS n_rows,
           min(xb) AS min_cust_bucket, max(xb) AS max_cust_bucket,
           min(yb) AS min_date_bucket, max(yb) AS max_date_bucket
    FROM z GROUP BY file_bucket
    """


@register("zorder_layout_stats", _zorder_oracle())
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout for two-dimensional scan pruning: every order maps
    to a 20-bit Morton key over (custkey bucket, orderdate bucket); the
    key's top 6 bits simulate the 64 output files of a
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` write. The
    report is each file's row count and per-dimension min/max — the
    exact statistics a parquet footer would carry — showing both
    dimensions stay tightly bounded per file (a lexicographic
    (custkey, date) sort would leave the date dimension unbounded in
    every file, defeating min/max pruning for date-only predicates).

    Scale: the key is a pure narrow map (shift/and/add in codegen, no
    UDF); at 100 TB the real write is one range-repartition by zkey —
    the same single shuffle a plain sorted write costs, so
    two-dimensional pruning is free at write time. The stats agg is
    map-side-combined into 64 groups."""
    from ..operators.layout import morton_key

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("xb"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            )
            % 1024
        ).alias("yb"),
    )
    z = orders.select(
        "xb", "yb", F.shiftright(morton_key(F.col("xb"), F.col("yb"), 10), 14).alias("file_bucket")
    )
    return z.groupBy("file_bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("xb").alias("min_cust_bucket"),
        F.max("xb").alias("max_cust_bucket"),
        F.min("yb").alias("min_date_bucket"),
        F.max("yb").alias("max_date_bucket"),
    )


# --------------------------------------------------------------------------
# Triangle counting over the supplier co-supply graph
# --------------------------------------------------------------------------
@session_memo("lineitem")
def _co_supply_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5000 co-supply edges by (shared-order count, pair), pinned —
    see supplier_triangles for why the backbone bound exists. Both
    graph queries (triangles, LPA communities) analyze the SAME graph;
    the pair-weighting self-join that builds it is their dominant cost,
    so it runs once per (session, sf) — the build-the-index-once
    discipline of the ANN harness and the LSH pair memo. bench.py
    clears it before each timed pass and hoists supplier_triangles as
    the payer."""
    li = read_table(spark, sf_dir, "lineitem")
    # ok-clustered dedup: one exchange serves both the distinct and
    # the basket self-join (the part_link_prediction r16 pattern)
    su = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .repartition(F.col("ok"))
        .dropDuplicates(["ok", "sk"])
    )
    a = su.select(F.col("ok"), F.col("sk").alias("src"))
    b = su.select(F.col("ok"), F.col("sk").alias("dst"))
    return (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .orderBy(F.col("w").desc(), F.col("src").asc(), F.col("dst").asc())
        .limit(5000)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )


@register(
    "supplier_triangles",
    """
    WITH su AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    pw AS (
      SELECT a.sk AS a, b.sk AS b, count(*) AS w
      FROM su a JOIN su b ON a.ok = b.ok AND a.sk < b.sk
      GROUP BY a.sk, b.sk
    ),
    und AS (
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (ORDER BY w DESC, a ASC, b ASC) AS rn
        FROM pw)
      WHERE rn <= 5000
    ),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
      GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN ka < kb THEN a ELSE b END AS u,
             CASE WHEN ka < kb THEN b ELSE a END AS v,
             CASE WHEN ka < kb THEN kb ELSE ka END AS kv
      FROM (SELECT und.a, und.b,
                   da.d * 4294967296 + und.a AS ka,
                   db.d * 4294967296 + und.b AS kb
            FROM und
            JOIN deg da ON da.v = und.a
            JOIN deg db ON db.v = und.b)
    ),
    wedge AS (
      SELECT x.u AS u, x.v AS v, y.v AS w
      FROM o x JOIN o y ON x.u = y.u AND x.kv < y.kv
    ),
    tri AS (
      SELECT wedge.u, wedge.v, wedge.w
      FROM wedge JOIN o ON o.u = wedge.v AND o.v = wedge.w
    ),
    nodes AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    )
    SELECT node AS supplier_id, count(*) AS n_triangles
    FROM nodes GROUP BY node
    """,
)
def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per supplier over the STRONG-TIES
    backbone of the co-supply graph: pairs are weighted by how many
    orders both supplied, and only the global top-5000 edges by
    (weight, pair) enter the triangle count — co-occurrence graphs
    densify toward completeness as data grows (91% complete at sf0.1
    already), so the raw graph's triangle count is a combinatorial
    blow-up with no analytic value, while the fixed-size backbone is
    the standard community-structure signal (tightly-coupled supplier
    cliques; on crawl/author graphs, link farms).

    Scale: pair weighting is one map-side-combined groupBy; the
    backbone selection is a distributed TakeOrderedAndProject (each
    partition forwards its local top-5000 — never a single-partition
    window over all pairs); triangle counting on the bounded backbone
    uses degree-ordered orientation (``operators.graph.
    triangle_counts``), whose wedge fan-out is O(sqrt(m)) per vertex —
    O(m^1.5) total instead of O(sum deg²) on skewed graphs."""
    from ..operators.graph import triangle_counts

    backbone = _co_supply_backbone(spark, sf_dir)
    return triangle_counts(backbone).select(
        F.col("node").alias("supplier_id"), "n_triangles"
    )


@register(
    "part_link_prediction",
    # Same co-purchase edges, per-node top-32 adjacency cap replay,
    # wedge-join common neighbors, NOT EXISTS against the edge set,
    # exact-rational Jaccard over capped degrees.
    """
    WITH su AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pw AS (
      SELECT a.pk AS a, b.pk AS b, CAST(count(*) AS BIGINT) AS w
      FROM su a JOIN su b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    ),
    adj0 AS (
      SELECT a AS v, b AS nb, w FROM pw UNION ALL SELECT b, a, w FROM pw
    ),
    adj AS (
      SELECT v, nb FROM (
        SELECT v, nb,
               row_number() OVER (PARTITION BY v ORDER BY w DESC, nb ASC) AS rn
        FROM adj0) WHERE rn <= 32
    ),
    deg AS (SELECT nb, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY nb),
    cn AS (
      SELECT x.nb AS a, y.nb AS b, CAST(count(*) AS BIGINT) AS cn
      FROM adj x JOIN adj y ON x.v = y.v AND x.nb < y.nb
      GROUP BY 1, 2
    ),
    ne AS (
      SELECT cn.a, cn.b, cn.cn FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM pw
                        WHERE pw.a = cn.a AND pw.b = cn.b)
    )
    SELECT ne.a AS part_a, ne.b AS part_b,
           ne.cn AS common_neighbors,
           da.d AS deg_a, db.d AS deg_b,
           round(ne.cn / (da.d + db.d - ne.cn), 6) AS jaccard
    FROM ne
    JOIN deg da ON da.nb = ne.a
    JOIN deg db ON db.nb = ne.b
    WHERE ne.cn >= 2 AND round(ne.cn / (da.d + db.d - ne.cn), 6) >= 0.1
    """,
)
def part_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X163: common-neighbor link prediction on the part co-purchase
    graph — the classic 'frequently bought together NEXT' candidate
    generator: for every NON-adjacent part pair at distance 2, score
    Jaccard = |N(a)∩N(b)| / |N(a)∪N(b)| over capped neighborhoods and
    report pairs with ≥ 2 common neighbors and score ≥ 0.1. (The
    part-basket graph, unlike the supplier graph, keeps a vertex
    universe that GROWS with the data — the supplier co-occurrence
    graph completes at small scale, leaving no non-edges to predict.)

    Exactness: the wedge count through shared LISTING vias and the
    degrees |R(a)| = #{v : a ∈ top-32(v)} are measured in the SAME
    direction of the (asymmetric) capped adjacency, so
    cn ≤ min(deg_a, deg_b), the union denominator is positive for
    every reported pair, and the score is guaranteed in [0, 1] —
    all integers from a deterministic adjacency (per-node top-32 by
    (weight, neighbor)); ONE rounded double division.

    Scale: the adjacency cap is a PER-NODE window (partitioned —
    never a global sort) and bounds the wedge self-join at
    Σ_v min(d_v, 32)² — linear in vertices regardless of basket
    skew, the covisitation-query discipline; the anti-join against
    the edge set and the degree joins are adjacency-sized. Nothing
    touches raw lineitem after the first distinct."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    # ONE exchange builds the distinct basket rows ALREADY clustered by
    # order key: hash-repartition by ok satisfies the (ok, pk)
    # dedup's clustering requirement, and the basket self-join below
    # then reuses that partitioning instead of re-shuffling both sides
    # — 3 corpus exchanges -> 1 (r16 optimization; A/B 1.8 s -> 0.8 s
    # for the pair stage at sf0.1; identical distinct semantics)
    su = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(F.col("ok"))
        .dropDuplicates(["ok", "pk"])
    )
    a_, b_ = su.select("ok", F.col("pk").alias("a")), su.select(
        "ok", F.col("pk").alias("b")
    )
    # pinned: referenced three times below (both adj0 branches + the
    # non-edge anti-join) — without the checkpoint Spark re-executes
    # the corpus-sized basket self-join per reference (the
    # _bucket_candidate_pairs lesson)
    pw = (
        a_.join(b_, "ok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    adj0 = pw.select(
        F.col("a").alias("v"), F.col("b").alias("nb"), "w"
    ).unionByName(pw.select(F.col("b").alias("v"), F.col("a").alias("nb"), "w"))
    rn = F.row_number().over(
        Window.partitionBy("v").orderBy(F.col("w").desc(), F.col("nb").asc())
    )
    # NOT checkpointed (r16): the capped adjacency reads the pinned pw,
    # so a re-reference replays only the window — and the window's
    # hashpartitioning(v) output feeds the wedge self-join WITHOUT new
    # exchanges; a checkpoint here erases that partitioning and forces
    # both wedge sides to re-shuffle (A/B: 4.6 s -> 2.7 s end to end)
    adj = adj0.withColumn("rn", rn).filter(F.col("rn") <= 32).select("v", "nb")
    # degree = |R(a)|, the count of vias whose capped list CONTAINS a —
    # the same direction the wedge join counts, so cn <= min(deg) and
    # the union denominator is positive and the score lands in [0, 1]
    # by construction (deg over the v side would mix directions: the
    # capped adjacency is not symmetric, cn could exceed it)
    deg = adj.groupBy("nb").agg(F.count(F.lit(1)).alias("d"))
    x = adj.select(F.col("v").alias("via"), F.col("nb").alias("a"))
    y = adj.select(F.col("v").alias("via"), F.col("nb").alias("b"))
    cn = (
        x.join(y, "via")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    ne = cn.join(
        pw.select("a", "b"),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("nb").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("nb").alias("b"), F.col("d").alias("deg_b"))
    scored = ne.join(da, "a").join(db, "b")
    jacc = F.round(
        F.col("cn") / (F.col("deg_a") + F.col("deg_b") - F.col("cn")), 6
    )
    return (
        scored.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            "deg_a",
            "deg_b",
            jacc.alias("jaccard"),
        )
        .filter((F.col("common_neighbors") >= 2) & (F.col("jaccard") >= 0.1))
    )


# --------------------------------------------------------------------------
# Stream-static broadcast enrichment (dimension lookup inside a stream)
# --------------------------------------------------------------------------
@register(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_purchases,
           CAST(round(sum(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join driven through real Structured Streaming
    (``streaming.strikes.run_stream_static_enrich``): purchases are
    enriched against the broadcast customer dimension inside the
    micro-batch and aggregated per market segment in the stream. The
    oracle is the batch-equivalent join+agg, so the stream's join
    semantics and running-aggregation state are value-checked. This is
    the §2.9 topology the stream-stream and foreachBatch carriers
    don't cover: a stateless dimension lookup (no join state at all)
    feeding a stateful aggregation."""
    from ..streaming.strikes import run_stream_static_enrich

    return run_stream_static_enrich(spark, sf_dir)


# --------------------------------------------------------------------------
# Durable-checkpoint restart carriers (X71/X81) + left stream-stream join
# (X90) + small-files compaction (X91): the restart/maintenance operators
# previously pinned only by pytest, registered so the driver exercises
# the real execution paths with full hash oracles.
# --------------------------------------------------------------------------
_TS_CUT = "2024-01-16"  # mid-range of the generated events (all of Jan 2024)
_CKPT_PREFIX = "eds_ckpt_"
_ckpt_dirs_removed_at_exit: set[str] = set()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # another user's process
    return True


def _restart_work_dir(kind: str, sf_dir: str) -> str:
    """Per-process work dir of a checkpoint-restart carrier:
    ``<tmp>/eds_ckpt_<kind>_<sf tag>_<pid>``. One per PID, so a
    concurrent pytest + check_oracle run never shares a checkpoint
    (offset-log/state collisions fail both). The returned frame reads
    the dir's ``out`` lazily, so the dir lives until the process exits
    and is removed then; the dirs of processes that died without
    running exit handlers are removed on the next call."""
    import atexit
    import shutil

    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        pid = name.rsplit("_", 1)[-1]
        if name.startswith(_CKPT_PREFIX) and pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tmp, f"{_CKPT_PREFIX}{kind}_{tag}_{os.getpid()}")
    if base not in _ckpt_dirs_removed_at_exit:
        _ckpt_dirs_removed_at_exit.add(base)
        atexit.register(shutil.rmtree, base, True)
    return base


def _stage_split_events(spark: SparkSession, sf_dir: str, base: str) -> str:
    """Stage the events table as TWO single-file, ts-ordered halves for
    the two-phase checkpoint-restart carriers, in a freshly wiped work
    dir (stale checkpoints/offset logs would make a rerun a no-op).

    The split is on event time so the concatenation of phase-1 and
    phase-2 files preserves global time order — the invariant the
    monthly-cooldown fold and the watermarked windows rely on: no event
    in the second file predates the watermark the first pass left
    behind. Single file per half ⇒ with ``maxFilesPerTrigger=1`` each
    pass is exactly one micro-batch, so the sink's batch-id tags are
    deterministic."""
    import glob
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    stage = os.path.join(base, "stage")
    os.makedirs(stage)
    ev = read_table(spark, sf_dir, "events")
    work = os.path.join(base, "__writer")
    for name, half in (
        # NULL-ts rows ride the EARLY half: `ts < cut` and `ts >= cut`
        # are both false for NULL, so without the isNull arm a
        # malformed row would fall into NEITHER file — silent row loss
        # in the staging split (the r12 event_id%n lesson again)
        ("a_early", ev.filter((F.col("ts") < _TS_CUT) | F.col("ts").isNull())),
        ("b_late", ev.filter(F.col("ts") >= _TS_CUT)),
    ):
        half.coalesce(1).write.mode("overwrite").parquet(work)
        part = glob.glob(os.path.join(work, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"{name}.parquet"))
    shutil.rmtree(work)
    return stage


@register(
    "checkpoint_restart_strikes",
    # identical final state to the one-shot stateful stream: recovery
    # that reprocessed or dropped state would diverge from this oracle
    REGISTRY["strike_stream_stateful"].oracle_sql,
)
def checkpoint_restart_strikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 end-to-end: the stateful strike pipeline run as TWO durable-
    checkpoint ``availableNow`` passes — phase 1 sees only the early
    half of the events, then the late half is staged and phase 2
    RESUMES from the same checkpoint (file-source offset log + state
    store), folding the new file into the recovered per-employee state.
    The result equals the one-shot stateful stream's closed-form
    oracle, so a recovery bug (reprocessing the early file,
    double-counting, or starting from empty state) hash-diverges.
    ``restart_batches`` pins the sink discipline: exactly one batch per
    pass (2 staged files, ``maxFilesPerTrigger=1``), so phase 2
    processed ONLY the not-yet-committed file."""
    from ..streaming.strikes import run_strike_pass, strike_final_state

    base = _restart_work_dir("strike", sf_dir)
    stage = _stage_split_events(spark, sf_dir, base)
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "out")

    early = os.path.join(stage, "b_late.parquet")
    held = os.path.join(base, "b_late.parquet")
    os.rename(early, held)  # phase 1: only the early file is visible
    run_strike_pass(spark, stage, ckpt, out, state_partitions=4)
    os.rename(held, early)  # phase 2: stage the late file, restart
    run_strike_pass(spark, stage, ckpt, out, state_partitions=4)
    return strike_final_state(spark, out)


@register(
    "checkpoint_restart_windowed",
    # identical to the one-shot windowed stream's day-bucket oracle
    REGISTRY["strike_window_counts"].oracle_sql,
)
def checkpoint_restart_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81 end-to-end: the watermark + tumbling-window flagged counter
    as TWO durable-checkpoint passes over a mid-month split. The day
    windows straddling the split must come back with their RECOVERED
    partial counts and fold the late file's events in (not restart at
    zero) for the final per-(window, employee) counts to equal the
    batch day-bucket oracle — the built-in windowed-agg state-machine
    recovery proof, sibling of ``checkpoint_restart_strikes``."""
    from ..streaming.strikes import run_windowed_pass, windowed_final_counts

    base = _restart_work_dir("window", sf_dir)
    stage = _stage_split_events(spark, sf_dir, base)
    ckpt, out = os.path.join(base, "ckpt"), os.path.join(base, "out")

    early = os.path.join(stage, "b_late.parquet")
    held = os.path.join(base, "b_late.parquet")
    os.rename(early, held)
    run_windowed_pass(spark, stage, ckpt, out, state_partitions=4)
    os.rename(held, early)
    run_windowed_pass(spark, stage, ckpt, out, state_partitions=4)
    return windowed_final_counts(spark, out).select(
        "window_start", "window_end", "emp_id", "n_flagged"
    )


@register(
    "stream_left_join_events",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           v.event_id AS view_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    """,
)
def stream_left_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 end-to-end: LEFT-OUTER watermarked stream-stream join —
    every purchase emits, matched against the same user's
    preceding-hour views, or exactly once with a NULL view id after the
    watermark proves no match can arrive. The oracle is the batch left
    join, so both the matched pairs AND the null-emission path are
    hash-checked (an inner-join regression would drop the NULL rows;
    broken watermark eviction would duplicate or lose purchases)."""
    from ..streaming.strikes import run_stream_stream_left_join

    return run_stream_stream_left_join(spark, sf_dir)


@register(
    "stream_full_join_events",
    """
    SELECT p.event_id AS purchase_id,
           coalesce(p.user_id, v.user_id) AS user_id,
           v.event_id AS view_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    """,
)
def stream_full_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X202: FULL-OUTER watermarked stream-stream join — the last
    join-type tier (inner: the attribution carrier; left: X90; full:
    here). Both null-emission paths are live: a purchase with no
    preceding-hour view emits once with a NULL view_id (the left
    join's guarantee), AND a view that converted no purchase emits
    once with a NULL purchase_id after the watermark proves none can
    arrive — the "wasted engagement" stream a funnel analysis reads.
    Join state is bounded and watermark-evicted on both sides; the
    oracle is the batch FULL JOIN, so matched pairs and BOTH
    null-emission paths are hash-checked (broken view-side eviction
    would silently drop or duplicate the unmatched-view rows)."""
    from ..streaming.strikes import run_stream_stream_left_join

    return run_stream_stream_left_join(spark, sf_dir, join_type="fullOuter")


@register(
    "partition_content_digest",
    """
    WITH r AS (
      SELECT ('0x' || substring(md5(
               coalesce(CAST(o_orderkey AS VARCHAR), '\\N') || '|' ||
               coalesce(CAST(o_custkey AS VARCHAR), '\\N') || '|' ||
               coalesce(o_orderstatus, '\\N') || '|' ||
               coalesce(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '\\N') || '|' ||
               coalesce(CAST(o_orderdate AS VARCHAR), '\\N')
             ), 1, 15))::BIGINT AS h,
             ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':pcd-v1'),
                                1, 15))::BIGINT % 16 AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket,
           count(*) AS n_rows,
           CAST(CAST(sum(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
             AS content_digest
    FROM r GROUP BY bucket
    """,
)
def partition_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X203: order-independent per-bucket content digest — the
    replica-verification primitive a 100 TB warehouse runs instead of
    row-by-row diffing: each row renders to a canonical string (every
    column through an explicit NULL marker and an exact-decimal money
    rendering, so no float formatting or NULL collapse can alias two
    different rows), hashes to a 60-bit integer, and the digests SUM
    per key-hashed bucket into DECIMAL(38,0) — addition commutes, so
    the digest is independent of partition order, task count, and file
    layout, and two copies of the table compare by 16 tiny rows. A
    corrupted row flips its bucket's digest; the bucket count localizes
    WHERE to re-scan (the Merkle-tree first level; deeper levels are
    the same query re-keyed inside one bucket).

    Exactness: md5 is the cross-engine hash; the sum accumulates
    exactly in DECIMAL(38,0) (1.5M rows x 2^60 < 10^25, overflow-safe
    to ~10^18 rows per bucket); the digest ships as its decimal string
    rendering so the driver canonicalizer compares text.

    Scale: one narrow scan + one map-side-combined 16-group
    aggregation — embarrassingly parallel, no shuffle of row data,
    the cheapest possible full-content audit."""
    ords = read_table(spark, sf_dir, "orders")
    nul = F.lit("\\N")
    canon = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), nul),
        F.coalesce(F.col("o_custkey").cast("string"), nul),
        F.coalesce(F.col("o_orderstatus"), nul),
        F.coalesce(money("o_totalprice").cast("string"), nul),
        F.coalesce(F.col("o_orderdate").cast("string"), nul),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":pcd-v1"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 16
    )
    return (
        ords.select(h.alias("h"), bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_digest"),
        )
    )


@register(
    "compact_parquet_roundtrip",
    f"""
    SELECT CAST(4 AS BIGINT) AS n_files,
           count(*) AS n_rows,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM lineitem
    """,
)
def compact_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91 end-to-end: the small-files maintenance pass. A lineitem
    projection is deliberately written as 64 tiny files (the shape a
    per-micro-batch streaming sink leaves behind), compacted to 4
    evenly-sized files with ``compact_parquet`` (round-robin
    repartition — ONE shuffle, skew-proof output sizes), and read back.
    ``n_files`` carries the actual post-compaction data-file count and
    the oracle pins it to the target, so a compaction that silently
    fell back to the fragmented layout fails the hash; the row count
    and money sum prove content preservation through the rewrite."""
    from ..sources.io import compact_parquet

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"eds_compact_{tag}")
    frag, dest = os.path.join(base, "frag"), os.path.join(base, "compact")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    n_files = compact_parquet(spark, frag, dest, target_files=4)
    return spark.read.schema(li.schema).parquet(dest).agg(
        F.lit(n_files).cast("long").alias("n_files"),
        F.count("*").alias("n_rows"),
        money_sum(money("l_extendedprice"), "total_price"),
    )


# --------------------------------------------------------------------------
# X105 driver carrier: the full Kafka wire topology as a checked query
# --------------------------------------------------------------------------
@register(
    "strike_stream_from_wire",
    # The staged payload carries a reserved word exactly on 'error'
    # events, so flagged ⟺ event_type='error' and the one-shot
    # stateful stream's closed-form oracle applies verbatim — the full
    # wire path (frame → JSON parse → regex flag → state machine) is
    # hash-checked, not just row-counted.
    REGISTRY["strike_stream_stateful"].oracle_sql,
)
def strike_stream_from_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105 end-to-end as a driver query: the events table is replayed
    as Kafka WIRE frames (binary key/value, topic/partition/offset —
    ``streaming.kafka.KAFKA_WIRE_SCHEMA``), staged as two time-ordered
    topic segments, and consumed by the COMPLETE production topology
    ``run_strike_stream_from_wire``: wire → ``parse_kafka_events``
    (JSON payload decode) → reserved-word ``flag_messages`` over the
    message text → ``applyInPandasWithState`` strike machine, across
    two micro-batches so cross-batch state continuation is exercised.
    The payload message deterministically embeds the reserved word
    'confidential' on 'error' events ('routine' text otherwise), so
    the regex flag must reproduce the error set exactly for the final
    state to match the closed-form oracle. One line differs from a
    cluster deployment: the source reads the staged dir instead of
    ``kafka_reader(...).load()``."""
    import glob
    import shutil

    from ..streaming.kafka import KAFKA_WIRE_SCHEMA, run_strike_stream_from_wire

    ev = read_table(spark, sf_dir, "events")
    message = F.when(
        F.col("event_type") == "error",
        F.concat(F.lit("review confidential item "), F.col("props")),
    ).otherwise(F.concat(F.lit("routine "), F.col("props")))
    payload = F.to_json(
        F.struct(
            F.col("event_id"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            message.alias("props"),
        )
    )
    wire = ev.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit("emp-comms").alias("topic"),
        (F.col("user_id") % 2).cast("int").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    # enforce the wire contract at write time, not by accident of select
    for f in KAFKA_WIRE_SCHEMA.fields:
        wire = wire.withColumn(f.name, F.col(f.name).cast(f.dataType))

    tag = os.path.basename(sf_dir.rstrip(os.sep)).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"eds_wire_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    stage = os.path.join(base, "topic")
    os.makedirs(stage)
    work = os.path.join(base, "__writer")
    for name, half in (
        # NULL-timestamp frames ride segment 0 (see _stage_split_events)
        (
            "seg_00",
            wire.filter(
                (F.col("timestamp") < _TS_CUT) | F.col("timestamp").isNull()
            ),
        ),
        ("seg_01", wire.filter(F.col("timestamp") >= _TS_CUT)),
    ):
        half.coalesce(1).write.mode("overwrite").parquet(work)
        part = glob.glob(os.path.join(work, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"{name}.parquet"))
    shutil.rmtree(work)
    return run_strike_stream_from_wire(spark, stage)


# --------------------------------------------------------------------------
# Community detection over the co-supply backbone (fixed-round LPA)
# --------------------------------------------------------------------------
def _lpa_oracle(rounds: int) -> str:
    """Unroll the synchronous label-propagation rounds as CTE chain —
    each round is one vote-join + one argmax, exactly the operator's
    update rule, so the oracle replays the algorithm rather than
    approximating it."""
    parts = [
        """
    WITH su AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    pw AS (
      SELECT a.sk AS a, b.sk AS b, count(*) AS w
      FROM su a JOIN su b ON a.ok = b.ok AND a.sk < b.sk
      GROUP BY a.sk, b.sk
    ),
    und AS (
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (ORDER BY w DESC, a ASC, b ASC) AS rn
        FROM pw)
      WHERE rn <= 5000
    ),
    bidir AS (SELECT a AS s, b AS d FROM und UNION ALL SELECT b, a FROM und),
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM bidir)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    v{i} AS (
      SELECT e.d AS node, l.label FROM bidir e JOIN l{i-1} l ON l.node = e.s
      UNION ALL SELECT node, label FROM l{i-1}
    ),
    c{i} AS (SELECT node, label, count(*) AS c FROM v{i} GROUP BY node, label),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        FROM c{i})
      WHERE rn = 1
    )""")
    parts.append(f"""
    SELECT node AS supplier_id, label AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM l{rounds}""")
    return "".join(parts)


@register("supplier_communities", _lpa_oracle(3))
def supplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community structure of the co-supply backbone via fixed-round
    synchronous label propagation (``operators.graph.
    label_propagation``) — the soft-clustering sibling of the
    connected-components dedup machinery: CC answers "what is
    reachable", LPA answers "what is densely knit", which is the
    signal for supplier cliques / link farms / topical author groups.
    Same top-5000 strong-ties backbone as ``supplier_triangles``
    (co-occurrence graphs densify toward completeness, so the raw
    graph's communities collapse to one blob; the backbone keeps the
    strong structure at ANY corpus scale). The oracle replays the
    exact per-round update unrolled as SQL, so the deterministic
    fixed-round contract is hash-checked, not approximated.

    Scale: O(rounds) edge-vs-labels joins shuffled on vertex key with
    map-side-combined vote counts; the backbone bounds |E| at 5000, and
    on an unbounded graph each round is the same two-shuffle shape as
    a CC round."""
    from ..operators.graph import label_propagation

    labels = label_propagation(_co_supply_backbone(spark, sf_dir), rounds=3)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("supplier_id"),
        F.col("label").alias("community"),
        "community_size",
    )


# --------------------------------------------------------------------------
# Range-partition planner over l_extendedprice (X185)
# --------------------------------------------------------------------------
_RANGE_BUCKETS = 8


def _range_plan_oracle() -> str:
    b = _RANGE_BUCKETS
    return f"""
    WITH vals AS (
      -- planning happens over the DISTINCT-value histogram, never the
      -- raw rows; NULL keys carry no position in a range layout
      SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v) AS c,
             sum(cnt) OVER ()           AS n
      FROM vals
    ),
    ks AS (SELECT unnest(generate_series(1, {b - 1})) AS k),
    cuts AS (
      -- cut_k = the smallest value whose cumulative count reaches the
      -- exact rank ceil(n*k/{b}) — pure integer arithmetic, no
      -- interpolated quantile whose float form could differ per engine
      SELECT k, min(v) AS cut
      FROM cum, ks
      WHERE c >= (n * k + {b - 1}) // {b}
      GROUP BY k
    ),
    assigned AS (
      SELECT vals.v, vals.cnt,
             1 + count(cuts.cut) AS bucket
      FROM vals LEFT JOIN cuts ON cuts.cut < vals.v
      GROUP BY vals.v, vals.cnt
    ),
    tot AS (SELECT sum(cnt) AS n FROM vals)
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           round(min(v), 2) AS min_key,
           round(max(v), 2) AS max_key,
           round(CAST(sum(cnt) AS DOUBLE) / tot.n, 6) AS row_share,
           round(CAST(sum(cnt) AS DOUBLE) * {b} / tot.n, 4) AS skew_ratio
    FROM assigned, tot
    GROUP BY bucket, tot.n
    """


@register("range_partition_plan", _range_plan_oracle())
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X185: the exact range-partition plan for a global sort/write of
    ``lineitem`` on ``l_extendedprice`` into 8 buckets — boundary
    values at the exact ranks ceil(n*k/8) plus, per resulting bucket,
    the row count, distinct-key count, key min/max, row share, and
    skew ratio (bucket rows x 8 / n; 1.0 = perfectly balanced). This
    is the planning pass behind every ``repartitionByRange``/sorted
    parquet write: whether the chosen key range-partitions evenly or
    some boundary swallows a hot value (a value spanning multiple
    octile ranks yields EMPTY buckets here — the report surfaces the
    skew instead of hiding it, exactly what you must know before
    sorting 100 TB by that key).

    Exactness: boundaries are DATA VALUES at integer ranks over the
    distinct-value histogram (ceil via (n*k+7)//8) — no interpolated
    quantile whose float arithmetic could differ per engine; bucket
    assignment counts strict cuts below each value; doubles appear
    only in the two reported shares, rounded.

    Scale: the histogram is one map-side-combined groupBy (|distinct
    values| rows, not |rows|); the cumulative window orders that
    histogram only. At 100 TB you'd feed the same plan a per-partition
    sample (Spark's RangePartitioner discipline: reservoir-sample,
    weight, same rank arithmetic) — the operator IS the planner, and
    the exact variant doubles as the sampled one's oracle."""
    from pyspark.sql import Window

    b = _RANGE_BUCKETS
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    vals = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = vals.select(
        "v",
        "cnt",
        F.sum("cnt").over(Window.orderBy("v")).alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ks = spark.range(1, b).select(F.col("id").alias("k"))
    cuts = (
        cum.crossJoin(F.broadcast(ks))
        .filter(
            # ceil(n*k/b) via (n*k + b-1) div b — Spark's `/` is double
            # division; `div` is the exact integral quotient (the
            # oracle's `//`) at any magnitude
            F.col("c") >= F.expr(f"(n * k + {b - 1}) div {b}")
        )
        .groupBy("k")
        .agg(F.min("v").alias("cut"))
    )
    assigned = (
        vals.join(F.broadcast(cuts), F.col("cut") < F.col("v"), "left")
        .groupBy("v", "cnt")
        .agg((F.lit(1) + F.count("cut")).alias("bucket"))
    )
    tot = vals.agg(F.sum("cnt").alias("n"))
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy(F.col("bucket").cast("int").alias("bucket"), "n")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.round(F.min("v"), 2).alias("min_key"),
            F.round(F.max("v"), 2).alias("max_key"),
            F.round(F.sum("cnt").cast("double") / F.col("n"), 6).alias(
                "row_share"
            ),
            F.round(
                F.sum("cnt").cast("double") * F.lit(b) / F.col("n"), 4
            ).alias("skew_ratio"),
        )
        .drop("n")
    )
