"""Reference-parity queries (SURVEY.md §2) over the driver's tables.

Stand-in mapping (FIXTURES.md §2): ``orders`` plays the employee
timeframe/SCD-2 dim (custkey→emp_id, orderdate→start_date,
totalprice→salary, orderpriority→designation); ``lineitem`` plays the
leave fact (suppkey→emp_id, shipdate→leave date, returnflag→status);
``events`` plays the communication stream.

All analytic dates are anchored at fixed literals (not
``current_date()``) so results are reproducible against the historical
test data — the operator shapes are identical to the reference's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import (
    money,
    money_avg,
    money_sum,
    one_minus_rate,
    one_plus_rate,
    sql_money,
    sql_money_avg,
    sql_money_sum,
    sql_one_minus_rate,
    sql_one_plus_rate,
)
from ..operators import cleaning, scd
from ..operators.reports import count_by, pct_of_quota, top_k_per_group, upcoming_pct_report
from ..sources.io import read_table
from ..streaming.strikes import strike_report
from .registry import register

ANCHOR = "1995-06-01"
HORIZON = "1995-12-31"


def _d(c: str) -> F.Column:
    return F.col(c).cast("date")


# --------------------------------------------------------------------------
# Flagship: TPC-H-Q1-shaped pricing summary (A-class aggs + arithmetic P16)
# --------------------------------------------------------------------------
_SQL_DISC = f"{sql_money('l_extendedprice')} * {sql_one_minus_rate('l_discount')}"


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           {sql_money_sum(sql_money('l_extendedprice'))}                    AS sum_base_price,
           {sql_money_sum(_SQL_DISC)}                                       AS sum_disc_price,
           {sql_money_sum(f"({_SQL_DISC}) * {sql_one_plus_rate('l_tax')}")} AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           {sql_money_avg(sql_money('l_extendedprice'), 4)}                 AS avg_price,
           {sql_money_avg(f"CAST(l_discount AS DECIMAL(3,2))", 4)}          AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money sums/averages run in exact DECIMAL (see functions/money.py:
    double summation order flips round() at half-cent boundaries — a
    real tie was observed at sf0.1); quantity aggregates stay double
    (integer-valued, exact below 2^53)."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = money("l_extendedprice") * one_minus_rate("l_discount")
    return (
        li.filter(_d("l_shipdate") <= F.to_date(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum(money("l_extendedprice"), "sum_base_price"),
            money_sum(disc_price, "sum_disc_price"),
            money_sum(disc_price * one_plus_rate("l_tax"), "sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            money_avg(money("l_extendedprice"), 4, "avg_price"),
            money_avg(F.col("l_discount").cast("decimal(3,2)"), 4, "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# 3-way join + agg (J2 shape at scale): shipping-priority revenue
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {sql_money_sum(_SQL_DISC)} AS revenue,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR)        AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1996-03-15'
      AND CAST(l_shipdate AS DATE)  > DATE '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3_impl(spark, sf_dir)


@register(
    "bloom_pruned_join",
    f"""
    SELECT l_returnflag,
           count(*) AS n_items,
           {sql_money_sum(_SQL_DISC)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
    GROUP BY l_returnflag
    """,
)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-×-large join with the fact side Bloom-pruned map-side
    before the exchange (``operators.bloom``): lineitem rows whose
    orderkey cannot be an urgent-finished order are dropped at the scan,
    so the shuffle moves only candidate rows. Bloom filters have no
    false negatives, so the result is byte-identical to the plain join —
    the oracle IS the plain join; the filter shows up only in exchange
    volume (asserted in tests/test_bloom.py, ~75% of fact rows cut at
    this selectivity). At 100 TB this is the standard semi-join
    reduction for selective dim filters, without relying on the
    optimizer's own runtime-filter injection heuristics."""
    from ..operators.bloom import bloom_pruned_join as _bpj

    dim = (
        read_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F"))
        .select("o_orderkey")
    )
    fact = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    joined = _bpj(fact, dim, "l_orderkey", "o_orderkey")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        money_sum(money("l_extendedprice") * one_minus_rate("l_discount"), "revenue"),
    )


def _q3_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").filter(_d("o_orderdate") < F.to_date(F.lit("1996-03-15")))
    li = read_table(spark, sf_dir, "lineitem").filter(_d("l_shipdate") > F.to_date(F.lit("1996-03-15")))
    # customer side is small after the segment filter: broadcast it;
    # orders⋈lineitem is the big shuffle join, on the join key only.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money_sum(
                money("l_extendedprice") * one_minus_rate("l_discount"), "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            _d("o_orderdate").cast("string").alias("orderdate"),
            "o_orderpriority",
        )
    )


# --------------------------------------------------------------------------
# A1: active employees per designation (Task_4_generate_active_table.py:27-30)
# --------------------------------------------------------------------------
@register(
    "active_count_by_designation",
    """
    SELECT o_orderpriority AS designation, count(*) AS active_count
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def active_count_by_designation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return count_by(
        orders.withColumnRenamed("o_orderpriority", "designation"),
        "designation",
        predicate=F.col("o_orderstatus") == "O",
        alias="active_count",
    )


# --------------------------------------------------------------------------
# W1: keep-best dedup (clean_load_2_tf_staging.py:78-82)
# --------------------------------------------------------------------------
@register(
    "dedup_keep_best",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey, o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return cleaning.dedup_keep_best(
        orders,
        ["o_custkey", "o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )


# --------------------------------------------------------------------------
# W2: last-write-wins dedup (clean_load_3_ld_staging.py:54-63)
# --------------------------------------------------------------------------
@register(
    "dedup_last_write_wins",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_returnflag
    FROM (
      SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_returnflag,
             row_number() OVER (
               PARTITION BY l_orderkey, l_partkey
               ORDER BY l_linenumber DESC, l_quantity DESC, l_returnflag ASC
             ) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def dedup_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (orderkey, partkey, linenumber) is NOT unique in the testdata, so
    # the arrival order needs tie-breakers to be total — without them
    # Spark and the oracle pick different winners (round-1 hash miss).
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    return cleaning.dedup_last_write_wins(
        li,
        ["l_orderkey", "l_partkey"],
        "l_linenumber",
        tie_breakers=[F.col("l_quantity").desc(), F.col("l_returnflag").asc()],
    )


# --------------------------------------------------------------------------
# O3: exceptAll-based dupe removal (clean_load_2_tf_staging.py:80-84)
# --------------------------------------------------------------------------
@register(
    "except_all_dupes",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    EXCEPT ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey, o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rn
      FROM orders
    ) WHERE rn > 1
    """,
)
def except_all_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return cleaning.remove_dupes_except_all(
        orders,
        ["o_custkey", "o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )


# --------------------------------------------------------------------------
# J1/A5/P17/O4: SCD-2 close-out merge (merge2_tf_dim_staging.py:32-48)
# --------------------------------------------------------------------------
_SCD2_SHAPE = """
      SELECT o_custkey            AS emp_id,
             o_orderkey           AS period_id,
             CAST(o_orderdate AS DATE) AS start_date,
             CAST(NULL AS DATE)   AS end_date,
             'Active'             AS status,
             o_totalprice         AS salary
      FROM orders WHERE o_orderstatus = '{st}'
"""


@register(
    "scd2_merge",
    f"""
    WITH dim AS ({_SCD2_SHAPE.format(st="O")}),
         stg AS ({_SCD2_SHAPE.format(st="F")}),
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
def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")

    def shape(status: str) -> DataFrame:
        return orders.filter(F.col("o_orderstatus") == status).select(
            F.col("o_custkey").alias("emp_id"),
            F.col("o_orderkey").alias("period_id"),
            _d("o_orderdate").alias("start_date"),
            F.lit(None).cast("date").alias("end_date"),
            F.lit("Active").alias("status"),
            F.col("o_totalprice").alias("salary"),
        )

    merged = scd.scd2_close_out(shape("O"), shape("F"), key="emp_id")
    return merged.select(
        "emp_id",
        "period_id",
        F.col("start_date").cast("string").alias("start_date"),
        F.col("end_date").cast("string").alias("end_date"),
        "status",
        "salary",
    )


# --------------------------------------------------------------------------
# K6/J4: keyed upsert / MERGE (daily_dag.py:198-210)
# --------------------------------------------------------------------------
@register(
    "keyed_upsert",
    """
    WITH dim AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_linestatus
      FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1997-01-01'
    ),
    stg AS (
      SELECT l_orderkey, l_linenumber, l_quantity + 100 AS l_quantity,
             l_extendedprice, l_linestatus
      FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT COALESCE(d.l_orderkey, s.l_orderkey)     AS l_orderkey,
           COALESCE(d.l_linenumber, s.l_linenumber) AS l_linenumber,
           COALESCE(s.l_quantity, d.l_quantity)     AS l_quantity,
           COALESCE(s.l_extendedprice, d.l_extendedprice) AS l_extendedprice,
           COALESCE(s.l_linestatus, d.l_linestatus) AS l_linestatus
    FROM dim d FULL OUTER JOIN stg s
      ON d.l_orderkey = s.l_orderkey AND d.l_linenumber = s.l_linenumber
    """,
)
def keyed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_linestatus"]
    dim = li.filter(_d("l_shipdate") < F.to_date(F.lit("1997-01-01"))).select(*cols)
    stg = (
        li.filter(F.col("l_returnflag") == "R")
        .withColumn("l_quantity", F.col("l_quantity") + 100)
        .select(*cols)
    )
    return scd.keyed_upsert(dim, stg, keys=["l_orderkey", "l_linenumber"])


# --------------------------------------------------------------------------
# Task_4_80perc.py: upcoming-leave >8% of working days (calendar arithmetic)
# --------------------------------------------------------------------------
@register(
    "upcoming_leave_pct",
    f"""
    WITH wk_hol AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS holiday_date
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND day(CAST(o_orderdate AS DATE)) = 13
        AND isodow(CAST(o_orderdate AS DATE)) BETWEEN 1 AND 5
    ),
    cal AS (
      SELECT CAST(unnest(generate_series(DATE '{ANCHOR}' + INTERVAL 1 DAY,
                                         DATE '{HORIZON}', INTERVAL 1 DAY)) AS DATE) AS d
    ),
    wdays AS (
      SELECT count(*) AS total_working_days FROM cal
      WHERE isodow(d) BETWEEN 1 AND 5
        AND d NOT IN (SELECT holiday_date FROM wk_hol)
    ),
    leaves AS (
      SELECT DISTINCT l_suppkey AS emp_id, CAST(l_shipdate AS DATE) AS leave_date
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >  DATE '{ANCHOR}'
        AND CAST(l_shipdate AS DATE) <= DATE '{HORIZON}'
        AND l_returnflag <> 'R'
        AND isodow(CAST(l_shipdate AS DATE)) BETWEEN 1 AND 5
        AND CAST(l_shipdate AS DATE) NOT IN (SELECT holiday_date FROM wk_hol)
    ),
    per_emp AS (SELECT emp_id, count(*) AS upcoming_leaves FROM leaves GROUP BY emp_id)
    SELECT emp_id, upcoming_leaves, total_working_days,
           round(upcoming_leaves / total_working_days * 100, 2) AS percentage
    FROM per_emp, wdays
    WHERE round(upcoming_leaves / total_working_days * 100, 2) > 4
    """,
)
def upcoming_leave_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    leaves = li.select(
        F.col("l_suppkey").alias("emp_id"),
        _d("l_shipdate").alias("leave_date"),
        F.col("l_returnflag").alias("status"),
    )
    # day-of-month == 13 keeps the holiday dim SPARSE at every scale
    # factor: without it, a bigger orders table eventually covers every
    # weekday in the window and the working-day denominator hits zero
    holidays = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.dayofmonth(_d("o_orderdate")) == 13)
        )
        .select(_d("o_orderdate").alias("holiday_date"))
        .distinct()
    )
    return upcoming_pct_report(
        spark,
        leaves,
        emp_col="emp_id",
        date_col="leave_date",
        status_col="status",
        cancelled="R",
        anchor=ANCHOR,
        horizon=HORIZON,
        holidays=holidays,
        threshold_pct=4.0,
    )


# --------------------------------------------------------------------------
# Task_4_monthly_80_percent.py: percent-of-quota report (J2+A3+A4)
# --------------------------------------------------------------------------
@register(
    "pct_of_quota",
    """
    WITH quota AS (
      SELECT l_suppkey AS emp_id, round(sum(l_quantity), 2) AS leave_available
      FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1995
      GROUP BY l_suppkey
    ),
    availed AS (
      SELECT l_suppkey AS emp_id, count(*) AS leave_availed
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) = 1995 AND l_returnflag = 'A'
      GROUP BY l_suppkey
    )
    SELECT q.emp_id, q.leave_available, a.leave_availed,
           round(a.leave_availed / q.leave_available * 100, 2) AS percentage
    FROM quota q JOIN availed a ON q.emp_id = a.emp_id
    WHERE round(a.leave_availed / q.leave_available * 100, 2) > 1
    """,
)
def pct_of_quota_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.year(_d("l_shipdate")) == 1995)
    quota = li.groupBy(F.col("l_suppkey").alias("emp_id")).agg(
        F.round(F.sum("l_quantity"), 2).alias("leave_available")
    )
    availed = (
        li.filter(F.col("l_returnflag") == "A")
        .groupBy(F.col("l_suppkey").alias("emp_id"))
        .agg(F.count("*").alias("leave_availed"))
    )
    return pct_of_quota(
        quota, availed, key="emp_id",
        quota_col="leave_available", availed_col="leave_availed",
        threshold=1.0,
    )


# --------------------------------------------------------------------------
# Cleaning: epoch→timestamp + status derivation (clean_load_2_tf_staging.py:73-90)
# --------------------------------------------------------------------------
@register(
    "epoch_status_clean",
    """
    WITH base AS (
      SELECT event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS start_date,
             CASE WHEN event_type <> 'signup'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) * 3600
             END AS end_date
      FROM events
    )
    SELECT event_id,
           make_timestamp(start_date * 1000000) AS start_date,
           make_timestamp(end_date * 1000000)   AS end_date,
           CASE WHEN end_date IS NULL THEN 'Active' ELSE 'Inactive' END AS status,
           0 AS strike_count,
           CAST(CAST(NULL AS DATE) AS VARCHAR) AS cooldown_start_date
    FROM base
    """,
)
def epoch_status_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("start_date"),
        F.when(
            F.col("event_type") != "signup",
            F.unix_timestamp("ts") + F.floor("value").cast("bigint") * 3600,
        ).alias("end_date"),
    )
    converted = cleaning.epoch_seconds_to_timestamp(base, ["start_date", "end_date"])
    return cleaning.derive_status(converted, end_col="end_date").select(
        "event_id",
        "start_date",
        "end_date",
        "status",
        F.lit(0).alias("strike_count"),
        F.lit(None).cast("date").cast("string").alias("cooldown_start_date"),
    )


# --------------------------------------------------------------------------
# O4: union-by-name entity list
# --------------------------------------------------------------------------
@register(
    "union_entities",
    """
    SELECT c_custkey AS entity_id, c_name AS entity_name, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_id, s_name AS entity_name, 'supplier' AS src FROM supplier
    """,
)
def union_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("src"),
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("entity_name"),
        F.lit("supplier").alias("src"),
    )
    return cust.unionByName(supp)


# --------------------------------------------------------------------------
# O5: distinct keys (dropDuplicates on a projection)
# --------------------------------------------------------------------------
@register(
    "distinct_order_supp_pairs",
    "SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem",
)
def distinct_order_supp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )


# --------------------------------------------------------------------------
# Top-k per group (window; WindowGroupLimit pushdown)
# --------------------------------------------------------------------------
@register(
    "top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank_in_group
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 3
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_group")


# --------------------------------------------------------------------------
# Multi-join star query (TPC-H Q5 shape): fact ⋈ 5 dims, broadcast chain
# --------------------------------------------------------------------------
@register(
    "region_supplier_volume",
    f"""
    SELECT n_name,
           {sql_money_sum(_SQL_DISC)} AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
    GROUP BY n_name
    """,
)
def region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): the 6-table star with the
    region filter riding down the dimension chain. region→nation→
    supplier are broadcast (tiny after the filter); only the
    orders⋈lineitem fact join shuffles. The compound condition
    (``c_nationkey = s_nationkey``) makes this the classic
    join-reorder/broadcast showcase."""
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    supplier = read_table(spark, sf_dir, "supplier")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (_d("o_orderdate") >= F.to_date(F.lit("1996-01-01")))
        & (_d("o_orderdate") < F.to_date(F.lit("1997-01-01")))
    )
    li = read_table(spark, sf_dir, "lineitem")
    asia_supp = (
        supplier.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            supplier.s_nationkey == nation.n_nationkey,
        )
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(asia_supp),
            (li.l_suppkey == F.col("s_suppkey"))
            & (customer.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            money_sum(money("l_extendedprice") * one_minus_rate("l_discount"), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Conditional aggregation over a join (TPC-H Q14 shape)
# --------------------------------------------------------------------------
@register(
    "promo_revenue_share",
    f"""
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN {_SQL_DISC}
                                  ELSE CAST(0.00 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(sum({_SQL_DISC}) AS DOUBLE), 4) AS promo_pct,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-09-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1995-10-01'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share (TPC-H Q14 shape): conditional aggregate
    over a fact⋈dim join — the date filter prunes the fact scan, the
    part side broadcasts under AQE, and the CASE rides inside the
    single aggregation pass."""
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (_d("l_shipdate") >= F.to_date(F.lit("1995-09-01")))
        & (_d("l_shipdate") < F.to_date(F.lit("1995-10-01")))
    )
    disc = money("l_extendedprice") * one_minus_rate("l_discount")
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(
        F.lit("0.00").cast("decimal(12,2)")
    )
    # both sums are exact decimals; the ratio is one double division of
    # two well-defined values — order-independent
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(disc).cast("double"), 4
        ).alias("promo_pct"),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------------
# Rollup aggregation (engine capability beyond the reference's flat GROUP BY)
# --------------------------------------------------------------------------
@register(
    "rollup_revenue",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {sql_money_sum(sql_money('l_extendedprice'))} AS revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in ONE pass: ``rollup`` computes (flag,
    status), (flag), and grand-total levels through a single partial-agg
    shuffle — replacing three separate scans+aggs. NULL level markers
    are labeled 'ALL' on both engines so the hash comparison is
    representation-stable.

    Money comes from the DECIMAL-native warehouse
    (``sources.io.money_native_table``): under ROLLUP the Expand
    operator replicates each row per grouping level, so a query-time
    double→decimal cast would run once per level per row — storing the
    column DECIMAL makes the ``money()`` cast a no-op Catalyst elides,
    which reclaimed the 3.1× regression the exact-money fix cost this
    query in round 6."""
    from ..sources.io import money_native_table

    li = money_native_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            money_sum(money("l_extendedprice"), "revenue"),
            F.count("*").alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


# --------------------------------------------------------------------------
# Semi / anti joins as named capabilities (the reference only hand-rolls
# an anti via collect+isin — Task_4_80perc.py:59,65)
# --------------------------------------------------------------------------
@register(
    "customers_with_urgent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: membership probe without row duplication — the
    EXISTS shape. One shuffle on the key; the probe side carries only
    the key column."""
    cust = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "customers_without_urgent_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: the NOT EXISTS shape (the idiom that replaces the
    reference's collect+isin holiday exclusion at scale). Filtered to
    the urgent-priority subset so the complement is non-empty at every
    scale factor — an anti-join against ALL orders matches no one in
    this testdata."""
    cust = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Exact percentile aggregates (distribution reporting beyond count/sum/min)
# --------------------------------------------------------------------------
@register(
    "salary_percentiles",
    """
    SELECT o_orderpriority AS designation,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50_salary,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_salary,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def salary_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (``percentile`` ==
    DuckDB ``quantile_cont``). At very large groups the exact sort-based
    aggregate gets expensive — ``approx_percentile`` (t-digest) is the
    100 TB variant, kept out of the oracle-checked surface because its
    sketch values aren't engine-portable."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("designation"))
        .agg(
            # One percentile state per group instead of two: the exact
            # aggregate's value->count map is the expensive part, and the
            # array form shares it across both requested quantiles.
            F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("_ps"),
            F.count("*").alias("n"),
        )
        .select(
            "designation",
            F.round(F.col("_ps")[0], 4).alias("p50_salary"),
            F.round(F.col("_ps")[1], 4).alias("p90_salary"),
            "n",
        )
    )


@register("salary_percentiles_approx", None)  # sketch quantiles are engine-specific: no cross-engine oracle
def salary_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path ``salary_percentiles``'s docstring
    promises, exercised as a first-class carrier: same report via
    ``approx_percentile`` (Greenwald-Khanna sketch, bounded state per
    group, mergeable partials) instead of the exact aggregate's full
    value→count map. Sketch outputs aren't engine-portable (DuckDB's
    ``approx_quantile`` is a different sketch), so the driver records
    the weaker rows-only verdict — ``tests/test_quality.py`` pins the
    strong properties instead: group set and counts equal the exact
    report's, and each approximate quantile lands within the sketch's
    rank-error bound of the exact order statistics."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("designation"))
        .agg(
            F.expr(
                "approx_percentile(o_totalprice, array(0.5, 0.9), 1000)"
            ).alias("_ps"),
            F.count("*").alias("n"),
        )
        .select(
            "designation",
            F.round(F.col("_ps")[0], 4).alias("p50_salary"),
            F.round(F.col("_ps")[1], 4).alias("p90_salary"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# Advanced windows: gaps-and-islands + lag deltas (beyond the reference's
# row_number-only window usage, SURVEY §2.6)
# --------------------------------------------------------------------------
@register(
    "longest_leave_streak",
    """
    WITH leaves AS (
      SELECT DISTINCT l_suppkey AS emp_id, CAST(l_shipdate AS DATE) AS d
      FROM lineitem WHERE l_returnflag = 'A'
    ),
    runs AS (
      SELECT emp_id, d,
             d - CAST(row_number() OVER (PARTITION BY emp_id ORDER BY d) AS INT) AS grp
      FROM leaves
    )
    SELECT emp_id, max(run_len) AS longest_streak
    FROM (SELECT emp_id, grp, count(*) AS run_len FROM runs GROUP BY emp_id, grp)
    GROUP BY emp_id
    HAVING max(run_len) >= 3
    """,
)
def longest_leave_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day leave run per employee — the
    gaps-and-islands idiom: ``date - row_number`` is constant within a
    consecutive run, so runs group on it with NO self-join or iterative
    logic; two window/agg shuffles total regardless of streak length."""
    from pyspark.sql import Window

    leaves = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "A")
        .select(F.col("l_suppkey").alias("emp_id"), _d("l_shipdate").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("emp_id").orderBy("d")
    runs = leaves.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    run_lens = runs.groupBy("emp_id", "grp").agg(F.count("*").alias("run_len"))
    return (
        run_lens.groupBy("emp_id")
        .agg(F.max("run_len").alias("longest_streak"))
        .filter(F.col("longest_streak") >= 3)
    )


@register(
    "salary_change_deltas",
    """
    WITH seq AS (
      SELECT o_custkey AS emp_id,
             CAST(o_orderdate AS DATE) AS start_date,
             o_totalprice AS salary,
             lag(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_salary
      FROM orders
    )
    SELECT emp_id, CAST(start_date AS VARCHAR) AS start_date,
           round(salary - prev_salary, 2) AS delta
    FROM seq
    WHERE prev_salary IS NOT NULL
      AND abs(salary - prev_salary) > 100000
    """,
)
def salary_change_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-employee period-over-period salary delta via ``lag`` — the
    change-detection window shape (SURVEY notes the reference uses only
    row_number; lag/lead come free from the same sort)."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(_d("o_orderdate"), F.col("o_orderkey"))
    seq = orders.select(
        F.col("o_custkey").alias("emp_id"),
        _d("o_orderdate").alias("start_date"),
        F.col("o_totalprice").alias("salary"),
        F.lag("o_totalprice").over(w).alias("prev_salary"),
    )
    return (
        seq.filter(
            F.col("prev_salary").isNotNull()
            & (F.abs(F.col("salary") - F.col("prev_salary")) > 100000)
        )
        .select(
            "emp_id",
            F.col("start_date").cast("string").alias("start_date"),
            F.round(F.col("salary") - F.col("prev_salary"), 2).alias("delta"),
        )
    )


# --------------------------------------------------------------------------
# §2.9 batch-equivalent: strike report (README.md:101-105 semantics)
# --------------------------------------------------------------------------
@register(
    "strike_report_batch",
    """
    WITH s AS (
      SELECT user_id AS emp_id, count(*) AS strike_count
      FROM events WHERE event_type = 'error' GROUP BY user_id
    )
    SELECT emp_id, strike_count,
           CASE WHEN strike_count >= 10 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
           round(100000 * pow(0.9, least(strike_count, 10)), 2) AS updated_salary
    FROM s
    """,
)
def strike_report_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return strike_report(read_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Pivot (wide) report: order counts + revenue per designation × status
# --------------------------------------------------------------------------
@register(
    "status_pivot_report",
    """
    SELECT o_orderpriority AS designation,
           count(*) FILTER (WHERE o_orderstatus = 'O')                         AS O_cnt,
           coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderstatus = 'O'), 2) AS DOUBLE), 0) AS O_rev,
           count(*) FILTER (WHERE o_orderstatus = 'F')                         AS F_cnt,
           coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE), 0) AS F_rev,
           count(*) FILTER (WHERE o_orderstatus = 'P')                         AS P_cnt,
           coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderstatus = 'P'), 2) AS DOUBLE), 0) AS P_rev
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def status_pivot_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list: Spark otherwise
    runs a separate distinct-collect job to discover pivot columns —
    a full extra scan at 100 TB. With pinned values the pivot compiles
    to one pass of conditional aggregates (same plan as the oracle)."""
    orders = read_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy(F.col("o_orderpriority").alias("designation"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),  # count("*") is rejected inside pivot aggs
            money_sum(money("o_totalprice"), "rev"),
        )
        .na.fill(0)
    )
    return out


# --------------------------------------------------------------------------
# Analytic window frames: trailing 30-day revenue per customer
# --------------------------------------------------------------------------
@register(
    "trailing_revenue_90d",
    """
    WITH seq AS (
      SELECT o_custkey AS emp_id,
             CAST(o_orderdate AS DATE) AS d,
             o_totalprice,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
             ), 2) AS DOUBLE) AS trail_90d,
             count(*) OVER (
               PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
             ) AS n_in_window
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT emp_id, CAST(d AS VARCHAR) AS order_date, trail_90d, n_in_window
    FROM seq WHERE n_in_window >= 2
    """,
)
def trailing_revenue_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based bounds, not row counts): per
    customer, the trailing-90-day revenue at each order date. The frame
    is expressed on unix days so ``rangeBetween`` gets a numeric
    ordering — one shuffle on the partition key, sorted scan within.
    Rows with the same date share one frame value (RANGE semantics),
    so the result is deterministic without a total order."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    day = F.datediff(_d("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(day.alias("day")).rangeBetween(-90, 0)
    seq = orders.select(
        F.col("o_custkey").alias("emp_id"),
        _d("o_orderdate").alias("d"),
        # decimal window sum: frame membership is deterministic, but the
        # ORDER the engine folds frame members in is not (Spark
        # incremental add vs DuckDB segment tree) — exact decimal makes
        # the fold order irrelevant
        F.round(F.sum(money("o_totalprice")).over(
            Window.partitionBy("o_custkey")
            .orderBy(F.datediff(_d("o_orderdate"), F.lit("1970-01-01").cast("date")))
            .rangeBetween(-90, 0)
        ), 2).cast("double").alias("trail_90d"),
        F.count(F.lit(1)).over(
            Window.partitionBy("o_custkey")
            .orderBy(F.datediff(_d("o_orderdate"), F.lit("1970-01-01").cast("date")))
            .rangeBetween(-90, 0)
        ).alias("n_in_window"),
    )
    return seq.filter(F.col("n_in_window") >= 2).select(
        "emp_id", F.col("d").cast("string").alias("order_date"), "trail_90d", "n_in_window"
    )


# --------------------------------------------------------------------------
# CUBE aggregation with grouping_id (all 4 grouping combinations, one pass)
# --------------------------------------------------------------------------
@register(
    "cube_order_stats",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*)                         AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in ONE pass (Catalyst plans
    an Expand, not 4 scans); ``grouping_id`` disambiguates real NULL
    keys from subtotal rows — the reason the raw key columns are
    coalesced only for display. Money is DECIMAL-native (see
    ``rollup_revenue``): Expand quadruples the rows here, so the
    per-replica cast the warehouse conversion eliminates was 2.8× of
    the whole query."""
    from ..sources.io import money_native_table

    orders = money_native_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(money("o_totalprice"), "revenue"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "revenue",
        )
    )


# --------------------------------------------------------------------------
# Window-analytics suite: rank family + distribution + frame navigation
# --------------------------------------------------------------------------
@register(
    "salary_rank_analytics",
    """
    WITH w AS (
      SELECT o_custkey AS emp_id,
             o_orderkey AS period_id,
             o_totalprice AS salary,
             dense_rank()   OVER win                        AS drank,
             round(percent_rank() OVER win, 4)              AS prank,
             round(cume_dist()    OVER win, 4)              AS cdist,
             first_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             )                                              AS best_period
      FROM orders
      WINDOW win AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    )
    SELECT emp_id, period_id, round(salary, 2) AS salary, drank, prank, cdist, best_period
    FROM w WHERE drank <= 2
    """,
)
def salary_rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank/distribution window family over one sorted pass:
    dense_rank, percent_rank, cume_dist, and an unbounded-frame
    first_value share a single window spec, so Catalyst evaluates all
    four in ONE shuffle + sort (WindowGroupLimit prunes to the top
    ranks before the filter at scale). Order is made total with the
    period-id tie-break so both engines rank identically."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    frame = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w = orders.select(
        F.col("o_custkey").alias("emp_id"),
        F.col("o_orderkey").alias("period_id"),
        F.round("o_totalprice", 2).alias("salary"),
        F.dense_rank().over(win).alias("drank"),
        F.round(F.percent_rank().over(win), 4).alias("prank"),
        F.round(F.cume_dist().over(win), 4).alias("cdist"),
        F.first("o_orderkey").over(frame).alias("best_period"),
    )
    return w.filter(F.col("drank") <= 2)


# --------------------------------------------------------------------------
# Argmax aggregate (max_by shape, tie-proof via lexicographic struct max)
# --------------------------------------------------------------------------
@register(
    "top_earner_per_designation",
    """
    SELECT o_orderpriority AS designation,
           (max(struct_pack(p := o_totalprice, k := o_orderkey))).k          AS top_period,
           round((max(struct_pack(p := o_totalprice, k := o_orderkey))).p, 2) AS top_salary,
           count(*)                                                          AS n_periods
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def top_earner_per_designation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax without a window: ``max`` over a (value, key) struct is a
    lexicographic max — ONE hash aggregate with map-side combine, where
    the row_number()-window formulation would shuffle-sort every group.
    The key inside the struct doubles as the tie-break, so the answer
    is total-ordered on both engines (bare max_by/arg_max is
    tie-nondeterministic)."""
    orders = read_table(spark, sf_dir, "orders")
    top = F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    return orders.groupBy(F.col("o_orderpriority").alias("designation")).agg(
        top.getField("k").alias("top_period"),
        F.round(top.getField("p"), 2).alias("top_salary"),
        F.count(F.lit(1)).alias("n_periods"),
    )


# --------------------------------------------------------------------------
# Hierarchical aggregation: CUBE with grouping_id (all mask levels).
# The single-table two-level ROLLUP lives at `rollup_revenue`; this one
# exercises the full CUBE mask set + GROUPING() parity over a star join.
# --------------------------------------------------------------------------
@register(
    "revenue_cube_report",
    """
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY CUBE(r_name, n_name)
    """,
)
def revenue_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four aggregation levels in ONE pass: ``cube(region,
    nation)`` produces (region, nation), per-region, per-NATION (the
    cross-hierarchy level ROLLUP cannot emit), and grand-total rows
    without re-scanning the fact table per level (the alternative —
    four groupBys unioned — is four shuffles of the same data).
    ``grouping_id()`` disambiguates aggregation level the same way on
    both engines (bit per grouping column, 1 = rolled up) — necessary
    here because a nation-level row and a region-level row are
    otherwise ambiguous once keys are sentinel'd to 'ALL' for
    representation-stable hashing. GROUPING SETS is this same Expand
    operator with an arbitrary mask list.

    Scale: Expand multiplies rows ×4 BEFORE the exchange, but map-side
    partial aggregation collapses them to (distinct keys × levels) per
    partition, so the shuffle stays dimension-bounded; nation/region
    broadcast into the fact scan. Money is DECIMAL-native (see
    ``rollup_revenue``) so no per-replica cast runs under Expand."""
    from ..sources.io import money_native_table

    orders = money_native_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    region = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer is NOT broadcast: at 100 TB it is a large dim (shuffle
    # join on custkey, AQE free to upgrade it at small SFs); nation and
    # region are constant-size and always broadcast.
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.cube("r_name", "n_name")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            money_sum(money("o_totalprice"), "sum_revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "gid",
            "sum_revenue",
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# Join-key skew diagnosis (X112): the report you run BEFORE deciding on
# salting/AQE for a join — operators.joins.salted_join is the
# mitigation, this is the measurement
# --------------------------------------------------------------------------
@register(
    "join_key_skew_report",
    """
    WITH c AS (SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
    t AS (SELECT sum(n) AS total, count(*) AS n_keys, max(n) AS max_n FROM c)
    SELECT r.rank, r.key, r.n,
           round(r.n * 100.0 / t.total, 4) AS share_pct,
           t.n_keys,
           round(t.max_n * t.n_keys * 1.0 / t.total, 4) AS skew_factor
    FROM (SELECT key, n,
                 row_number() OVER (ORDER BY n DESC, key ASC) AS rank
          FROM c) r, t
    WHERE r.rank <= 5
    """,
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnosis for a prospective join column: the top-5
    heaviest keys with their share of all rows, plus ``skew_factor`` —
    the heaviest key's row count relative to the mean (1.0 = perfectly
    uniform; the number that tells you whether a plain hash join's
    slowest partition will straggle and whether to reach for
    ``operators.joins.salted_join`` or trust AQE's skew split). The
    measurement every 100 TB join plan should start from — shuffle
    sizing from table stats alone misses exactly this.

    Scale: one map-side-combined groupBy to |keys| rows; the top-5 is
    a distributed TakeOrderedAndProject (never a global window over
    the key table); the totals ride a broadcast of ONE row."""
    li = read_table(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("key"))
    counts = li.groupBy("key").agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("total"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_n"),
    )
    top5 = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(5)
    from pyspark.sql import Window

    # rank over the 5 surviving rows only — the global order was
    # already established by the distributed TakeOrdered above
    ranked = top5.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("key").asc())
        ),
    )
    return ranked.crossJoin(F.broadcast(totals)).select(
        "rank",
        "key",
        "n",
        F.round(F.col("n") * 100.0 / F.col("total"), 4).alias("share_pct"),
        "n_keys",
        F.round(
            F.col("max_n") * F.col("n_keys") * F.lit(1.0) / F.col("total"), 4
        ).alias("skew_factor"),
    )


# --------------------------------------------------------------------------
# Multi-touch attribution (X113): fractional revenue credit across the
# views that assisted each purchase
# --------------------------------------------------------------------------
@register(
    "multi_touch_attribution",
    """
    WITH p AS (SELECT event_id AS pid, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS vid, user_id, ts FROM events
          WHERE event_type = 'view'),
    pairs AS (
      SELECT p.pid, p.user_id, p.value, v.vid
      FROM p JOIN v ON p.user_id = v.user_id
       AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    ),
    credit AS (
      SELECT user_id, vid,
             value / (count(*) OVER (PARTITION BY pid)) AS share
      FROM pairs
    )
    SELECT user_id,
           count(DISTINCT vid) AS n_assisting_views,
           round(sum(share), 2) AS attributed_revenue
    FROM credit
    GROUP BY user_id
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-split multi-touch attribution: each purchase's value is
    divided evenly across the same user's views in the preceding hour,
    and credits roll up per user — the fractional-credit generalization
    of the single-touch as-of join (``purchase_asof_view`` answers
    "which ONE view gets the sale"; this answers "how much does each
    assisting view earn"). Purchases with no assisting view carry no
    credit by definition (the left-join NULL path is pinned by
    ``stream_left_join_events``).

    Determinism: the per-purchase divisor is an exact integer count,
    each share is one double division, and the per-user sum is rounded
    to cents on both engines (sub-ulp summation-order noise vs a 1e-2
    boundary — the documented quality-ratio rounding-margin class, and
    at 2 decimals the margin is 12 orders of magnitude).

    Scale: ONE user-key shuffle for the interval pair join, a window
    count partitioned by purchase id (key cardinality = purchases),
    and a user-key rollup — no cartesian, no driver loop."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts", "value"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    pairs = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("ts")),
    )
    from pyspark.sql import Window

    credit = pairs.select(
        "user_id",
        "vid",
        (F.col("value") / F.count("*").over(Window.partitionBy("pid"))).alias(
            "share"
        ),
    )
    return credit.groupBy("user_id").agg(
        F.count_distinct("vid").alias("n_assisting_views"),
        F.round(F.sum("share"), 2).alias("attributed_revenue"),
    )


# --------------------------------------------------------------------------
# Group-wise OLS: closed-form simple linear regression from exact sums
# --------------------------------------------------------------------------
@register(
    "brand_price_regression",
    """
    WITH s AS (
      SELECT p.p_brand,
             count(*)                                                   AS n_rows,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)          AS sx,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l.l_quantity AS BIGINT)
                      * CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l.l_quantity AS BIGINT)
                      * CAST(l.l_quantity AS BIGINT)) AS DOUBLE)        AS sxx,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand, n_rows,
           CASE WHEN (n_rows * sxx - sx * sx) > 0
                THEN round((n_rows * sxy - sx * sy) / (n_rows * sxx - sx * sx), 6)
           END AS slope,
           CASE WHEN (n_rows * sxx - sx * sx) > 0
                THEN round((sy - ((n_rows * sxy - sx * sy) / (n_rows * sxx - sx * sx)) * sx)
                           / n_rows, 6)
           END AS intercept,
           CASE WHEN (n_rows * sxx - sx * sx) > 0 AND (n_rows * syy - sy * sy) > 0
                THEN round(((n_rows * sxy - sx * sy) * (n_rows * sxy - sx * sy))
                           / ((n_rows * sxx - sx * sx) * (n_rows * syy - sy * sy)), 6)
           END AS r2
    FROM s
    """,
)
def brand_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand simple OLS of extended price on quantity — the
    grouped closed-form regression (slope/intercept/R²) an analytics
    layer derives trend lines and anomaly baselines from, computed in
    ONE aggregation pass from sufficient statistics (n, Σx, Σy, Σxy,
    Σx², Σy²), never by iterating per group.

    Exactness discipline: every sufficient statistic is an EXACT sum —
    quantities as BIGINT, prices via the ``money()`` DECIMAL contract
    (X103), so partition/summation order cannot move a single bit. The
    exact sums are cast to double once, and slope/intercept/R² are the
    same closed-form double expressions on both engines, rounded to
    6 dp (the shared libm/IEEE discipline every derived-double query
    here uses). Degenerate groups (zero x- or y-variance) yield NULL
    by explicit guard on both sides rather than an engine-specific
    division-by-zero artifact.

    Scale shape: one shuffle for the part join (AQE broadcasts the
    dimension side when it fits), one map-side-combined groupBy to
    |brands| rows; the regression algebra runs on the tiny aggregate.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    x = F.col("l_quantity").cast("bigint")
    y = money("l_extendedprice")
    s = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * y).cast("double").alias("sxy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
        )
    )
    n = F.col("n_rows")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope_raw = num / den_x
    return s.select(
        "p_brand",
        "n_rows",
        F.when(den_x > 0, F.round(slope_raw, 6)).alias("slope"),
        F.when(den_x > 0, F.round((F.col("sy") - slope_raw * F.col("sx")) / n, 6)).alias(
            "intercept"
        ),
        F.when((den_x > 0) & (den_y > 0), F.round((num * num) / (den_x * den_y), 6)).alias(
            "r2"
        ),
    )


@register(
    "price_qty_elasticity",
    # Same closed-form OLS chain as X127, but over 6-dp-rounded ln
    # features accumulated as DECIMAL — exact sums even though the
    # features themselves are libm outputs.
    """
    WITH f AS (
      SELECT p.p_brand,
             CAST(round(ln(CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE)), 6)
                  AS DECIMAL(9,6)) AS x,
             CAST(round(ln(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                               AS DOUBLE)), 6) AS DECIMAL(9,6)) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    s AS (
      SELECT p_brand, count(*) AS n_rows,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM f GROUP BY 1
    )
    SELECT p_brand, n_rows,
           CASE WHEN (n_rows * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                THEN round((n_rows * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (n_rows * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
           END AS price_flexibility,
           CASE WHEN (n_rows * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                THEN round((CAST(sy AS DOUBLE)
                            - ((n_rows * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               / (n_rows * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                              * CAST(sx AS DOUBLE)) / n_rows, 6)
           END AS intercept,
           CASE WHEN (n_rows * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (n_rows * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN round(((n_rows * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            * (n_rows * CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                           / ((n_rows * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (n_rows * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           END AS r2
    FROM s
    """,
)
def price_qty_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X157: per-brand log-log price-quantity regression. The slope is
    d ln p / d ln q — price FLEXIBILITY (the reciprocal of the demand
    elasticity d ln q / d ln p; the column is named for what it is) —
    the power-law exponent a linear OLS (X127) cannot give, since it
    is constant across the price range only in log space.

    Float discipline, extending X127 to libm features: ln(quantity)
    and ln(price) are rounded to 6 dp and accumulated as DECIMAL(9,6)
    — so Σx, Σy, Σxy, Σx², Σy² are EXACT in any partition/summation
    order even though each feature is a libm output (the one ln per
    VALUE is the whole cross-engine exposure; X142's idf precedent).
    The exact decimal sums convert to double once and the
    slope/intercept/R² closed forms are the same fixed IEEE chains as
    X127, rounded 6 dp, NULL on degenerate variance.

    Scale: one dimension join (broadcastable), one map-side-combined
    groupBy to |brands| rows; algebra on the tiny aggregate."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    x = F.round(
        F.log(F.col("l_quantity").cast("bigint").cast("double")), 6
    ).cast("decimal(9,6)")
    y = F.round(F.log(money("l_extendedprice").cast("double")), 6).cast(
        "decimal(9,6)"
    )
    f = (
        lineitem.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(part, lineitem.l_partkey == part.p_partkey)
        .select("p_brand", x.alias("x"), y.alias("y"))
    )
    s = f.groupBy("p_brand").agg(
        F.count("*").alias("n_rows"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_rows")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = n * sxy - sx * sy
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    slope_raw = num / den_x
    return s.select(
        "p_brand",
        "n_rows",
        F.when(den_x > 0, F.round(slope_raw, 6)).alias("price_flexibility"),
        F.when(den_x > 0, F.round((sy - slope_raw * sx) / n, 6)).alias(
            "intercept"
        ),
        F.when(
            (den_x > 0) & (den_y > 0), F.round((num * num) / (den_x * den_y), 6)
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# One-pass pairwise Pearson correlation matrix from exact sums (X131)
# --------------------------------------------------------------------------
_CORR_COLS = ("quantity", "extendedprice", "discount", "tax")
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)
_CORR_SQL_EXPR = {
    "quantity": "CAST(l_quantity AS BIGINT)",
    "extendedprice": "CAST(l_extendedprice AS DECIMAL(12,2))",
    "discount": "CAST(l_discount AS DECIMAL(3,2))",
    "tax": "CAST(l_tax AS DECIMAL(3,2))",
}


def _corr_oracle() -> str:
    sums = ["count(*) AS n"]
    for c in _CORR_COLS:
        e = _CORR_SQL_EXPR[c]
        sums.append(f"CAST(sum({e}) AS DOUBLE) AS s_{c}")
        sums.append(f"CAST(sum(({e}) * ({e})) AS DOUBLE) AS ss_{c}")
    for a, b in _CORR_PAIRS:
        sums.append(
            f"CAST(sum(({_CORR_SQL_EXPR[a]}) * ({_CORR_SQL_EXPR[b]})) AS DOUBLE)"
            f" AS sp_{a}_{b}"
        )
    parts = []
    for a, b in _CORR_PAIRS:
        parts.append(f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b, n AS n_rows,
           CASE WHEN (n * ss_{a} - s_{a} * s_{a}) > 0
                 AND (n * ss_{b} - s_{b} * s_{b}) > 0
                THEN round((n * sp_{a}_{b} - s_{a} * s_{b})
                           / sqrt((n * ss_{a} - s_{a} * s_{a})
                                  * (n * ss_{b} - s_{b} * s_{b})), 6)
           END AS corr
    FROM s""")
    union = "\nUNION ALL\n".join(parts)
    return f"WITH s AS (\n  SELECT {', '.join(sums)} FROM lineitem\n)\n{union}"



@register(
    "brand_price_theilsen",
    # Same monthly decimal rollup, the same single-double-division
    # slope per pair, and median semantics shared by both engines
    # (even counts interpolate; X121 precedent).
    """
    WITH m AS (
      SELECT p.p_brand,
             CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) AS BIGINT) AS mi,
             sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.p_brand,
             CAST(b.rev - a.rev AS DOUBLE) / (b.mi - a.mi) AS slope
      FROM m a JOIN m b ON a.p_brand = b.p_brand AND a.mi < b.mi
    ),
    g1 AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_pairs,
             round(median(slope), 6) AS ts_slope
      FROM pairs GROUP BY 1
    ),
    g2 AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_months,
             round(median(CAST(rev AS DOUBLE)), 6) AS med_monthly_rev
      FROM m GROUP BY 1
    )
    SELECT g2.p_brand, n_months,
           coalesce(n_pairs, 0) AS n_pairs,
           ts_slope, med_monthly_rev
    FROM g2 LEFT JOIN g1 ON g1.p_brand = g2.p_brand
    """,
)
def brand_price_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X152: Theil-Sen robust trend per brand — the median-of-pairwise-
    slopes estimator that a single rogue month cannot move (breakdown
    point ~29%), the robust complement of the closed-form OLS (X127)
    exactly as median/MAD (X121) complements the z-score outlier path.

    The series is the MONTHLY revenue rollup (exact DECIMAL sums), so
    the O(n²) pair step is bounded by months² per brand (~3.5k pairs
    at 7 years), CONSTANT in corpus size — the same fan-out-bounding
    discipline as basket pairs (X135): never pairs over raw rows. Each
    pairwise slope is ONE double division of an exact decimal
    difference by an integer month gap; the median interpolates two
    middle doubles identically in both engines (X121), rounded 6 dp.
    Brands with a single month report NULL slope and 0 pairs."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    mi = (F.year("l_shipdate") * F.lit(12) + F.month("l_shipdate")).cast("long")
    m = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", mi.alias("mi"))
        .agg(F.sum(money("l_extendedprice")).alias("rev"))
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand")) & (F.col("a.mi") < F.col("b.mi")),
    ).select(
        F.col("a.p_brand").alias("p_brand"),
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.mi") - F.col("a.mi"))
        ).alias("slope"),
    )
    g1 = pairs.groupBy("p_brand").agg(
        F.count("*").alias("n_pairs"), F.round(F.median("slope"), 6).alias("ts_slope")
    )
    g2 = m.groupBy("p_brand").agg(
        F.count("*").alias("n_months"),
        F.round(F.median(F.col("rev").cast("double")), 6).alias("med_monthly_rev"),
    )
    return g2.join(g1, "p_brand", "left").select(
        "p_brand",
        "n_months",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "ts_slope",
        "med_monthly_rev",
    )

@register("lineitem_corr_matrix", _corr_oracle())
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    measures in ONE aggregation pass (X131): all 14 sufficient
    statistics (n, per-column Σx and Σx², per-pair Σxy) ride a single
    map-side-combined aggregate, and the 6 correlations are a narrow
    projection EXPLODED from that one row — never a per-pair scan, and
    never Spark's ``df.stat.corr`` loop (which runs one job per pair).

    Exactness discipline (X127's, widened to the matrix case): every
    Σ is exact — BIGINT quantities, DECIMAL money/rates — cast to
    double once; the closed form divides by ``sqrt`` (correctly
    rounded by IEEE 754 on both engines, unlike libm's ln/exp), and
    rounds to 6 dp. Degenerate variance yields NULL by explicit guard.

    Scale: one full scan, 14 partial aggregates, a 1-row final — the
    cost of ONE groupBy regardless of how many column pairs the
    matrix covers."""
    x = {
        "quantity": F.col("l_quantity").cast("bigint"),
        "extendedprice": money("l_extendedprice"),
        "discount": F.col("l_discount").cast("decimal(3,2)"),
        "tax": F.col("l_tax").cast("decimal(3,2)"),
    }
    aggs = [F.count("*").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(x[c]).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(x[c] * x[c]).cast("double").alias(f"ss_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(x[a] * x[b]).cast("double").alias(f"sp_{a}_{b}"))
    s = read_table(spark, sf_dir, "lineitem").agg(*aggs)

    n = F.col("n")
    structs = []
    for a, b in _CORR_PAIRS:
        den_a = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        den_b = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                n.alias("n_rows"),
                F.when(
                    (den_a > 0) & (den_b > 0),
                    F.round(num / F.sqrt(den_a * den_b), 6),
                ).alias("corr"),
            )
        )
    return s.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# --------------------------------------------------------------------------
# Calendar-completeness / freshness audit (X132)
# --------------------------------------------------------------------------
@register(
    "calendar_completeness_report",
    """
    WITH bounds AS (
      SELECT min(CAST(o_orderdate AS DATE)) AS lo,
             max(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    cal AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    present AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT strftime(cal.day, '%Y-%m') AS month,
           count(*)                    AS n_days,
           count(p.day)                AS n_days_present,
           count(*) - count(p.day)     AS n_days_missing,
           round(count(p.day) / count(*), 4) AS completeness
    FROM cal LEFT JOIN present p ON cal.day = p.day
    GROUP BY 1
    """,
)
def calendar_completeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health audit (X132): per month, how many calendar days the
    urgent-order feed actually delivered data for — the
    missing-partition / freshness check every scheduled ingest needs
    ("the pipeline ran, but did EVERY day land?"). The expected
    calendar spans the WHOLE warehouse's [min, max] order date (a gap
    detector must not derive its denominator from the possibly-gappy
    stream it is auditing), generated with the integer-range date
    machinery (S5) as a lazy 1-row bounds aggregate exploded into
    days — no collect, no driver loop.

    Scale: the only corpus-touching work is one min/max aggregate and
    one distinct over DATES (partial-agged to |days| rows); the
    calendar join is |days| × |days| — metadata-sized however big the
    fact table is."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    bounds = orders.agg(F.min(d).alias("lo"), F.max(d).alias("hi"))
    cal = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    present = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(d.alias("pday"))
        .distinct()
    )
    j = cal.join(present, cal.day == present.pday, "left")
    return j.groupBy(F.date_format("day", "yyyy-MM").alias("month")).agg(
        F.count("*").alias("n_days"),
        F.count("pday").alias("n_days_present"),
        (F.count("*") - F.count("pday")).alias("n_days_missing"),
        F.round(F.count("pday") / F.count("*"), 4).alias("completeness"),
    )


# --------------------------------------------------------------------------
# Exact grouped weighted median via cumulative-weight window (X134)
# --------------------------------------------------------------------------
@register(
    "weighted_median_by_flag",
    """
    WITH base AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_quantity > 0
        AND l_extendedprice IS NOT NULL
    ),
    c AS (
      SELECT l_returnflag, v, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
             sum(w) OVER (PARTITION BY l_returnflag)            AS tot
      FROM base
    )
    SELECT l_returnflag,
           CAST(max(tot) AS BIGINT)       AS total_weight,
           round(CAST(min(v) AS DOUBLE), 2) AS weighted_median
    FROM c
    WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
)
def weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of the extended price per return
    flag (X134): the (lower) weighted median — the smallest value v
    whose cumulative weight reaches half the group total — i.e. "the
    price at which half the UNITS (not half the line items) are
    cheaper", the robust location statistic pricing and inventory
    analyses actually want when rows carry multiplicities.

    Order-statistics discipline: the cumulative weight rides the
    default RANGE window frame, so VALUE PEERS collapse into one
    cumulative step on both engines (no tie-break column needed — the
    median is a value, and equal values are indistinguishable); every
    comparison (``2·cum ≥ tot``) is BIGINT-exact; the money value
    stays DECIMAL until the final projection.

    Scale: this is the EXACT path — one per-group sort (window
    shuffle) of the corpus, the irreducible cost of exact order
    statistics; the sketch twin for 100 TB first-pass work is the
    Greenwald-Khanna percentile report (X108), with this as the
    per-group exact refinement. No joins, no second scan (the group
    total is a second window over the SAME partitioning — one
    exchange, one sort feed both)."""
    base = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_quantity").isNotNull()
            & (F.col("l_quantity") > 0)
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            "l_returnflag",
            money("l_extendedprice").alias("v"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
    )
    from pyspark.sql import Window

    cum_w = Window.partitionBy("l_returnflag").orderBy("v")
    tot_w = Window.partitionBy("l_returnflag")
    c = base.select(
        "l_returnflag",
        "v",
        F.sum("w").over(cum_w).alias("cum"),
        F.sum("w").over(tot_w).alias("tot"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.max("tot").alias("total_weight"),
            F.round(F.min("v").cast("double"), 2).alias("weighted_median"),
        )
    )


# --------------------------------------------------------------------------
# Market-basket co-visitation mining with lift (X135)
# --------------------------------------------------------------------------
@register(
    "part_covisitation_topk",
    """
    WITH b AS (
      SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2
    ),
    support AS (SELECT l_partkey, count(*) AS n_part FROM b GROUP BY 1),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    pairs AS (
      SELECT x.l_partkey AS part_a, y.l_partkey AS part_b, count(*) AS n_co
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT part_a, part_b, n_co,
           sa.n_part AS n_a, sb.n_part AS n_b,
           round(CAST(n_co AS DOUBLE) * n.n_orders
                 / (sa.n_part * CAST(sb.n_part AS DOUBLE)), 6) AS lift
    FROM pairs
    JOIN support sa ON sa.l_partkey = part_a
    JOIN support sb ON sb.l_partkey = part_b
    CROSS JOIN n
    ORDER BY n_co DESC, part_a, part_b
    LIMIT 50
    """,
)
def part_covisitation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-visitation mining (X135): the top co-ordered
    part pairs with their lift — the count-based item-item signal a
    recommender / assortment analysis starts from, and the classic
    "frequent pairs" shape every large-scale pipeline needs to get
    right because the naive all-pairs blowup is per-BASKET, not
    per-corpus.

    Scale discipline: the pair fan-out is the within-order self-join
    of DISTINCT (order, part) rows, so the explosion is bounded by
    basket size squared (TPC-H baskets ≤ 7 lines) per order — linear
    in orders, never corpus-quadratic. The pair aggregate is a
    map-side-combined groupBy; supports join the pair REPORT (not the
    corpus); lift's only float work is one double expression mirrored
    in the oracle; the top-50 is a deterministic total order
    (n_co DESC, part_a, part_b) via TakeOrderedAndProject, and the
    ≥2-count floor keeps the report from being dominated by
    singleton-pair noise.
    """
    # ok-clustered dedup: one exchange serves both the distinct and the
    # within-order self-join (the part_link_prediction r16 pattern)
    b = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    support = b.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    n_orders = b.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("part_a"),
            F.col("y.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    enriched = (
        pairs.join(
            support.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")),
            "part_a",
        )
        .join(
            support.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_co",
            "n_a",
            "n_b",
            F.round(
                F.col("n_co").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return enriched.orderBy(
        F.col("n_co").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(50)


# --------------------------------------------------------------------------
# Salted skew-join carrier (X137): mitigation twin of X112's diagnosis
# --------------------------------------------------------------------------
@register(
    "salted_revenue_join",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def salted_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact×dim join (X137): lineitem salted-joins
    orders (``operators.joins.salted_join``, 8 salts) and rolls up
    revenue per priority. The ORACLE is the PLAIN join — the whole
    point is that salting is invisible in the result: every (left,
    right) pair meets in exactly one (key, salt) bucket, so the
    salted plan hash-matches the unsalted SQL bit-for-bit while the
    hot key's probe rows spread across 8 reducers instead of one.

    This is the mitigation twin of ``join_key_skew_report`` (X112):
    the report decides WHEN to salt (hot-key share × skew factor);
    this operator is WHAT you deploy when AQE's runtime skew split is
    unavailable (static partitioning, streaming micro-batches) or the
    build side must anyway shuffle. Cost: the orders side shuffles 8×
    (dimension-shaped payload) to buy 8-way parallelism on the fact
    side's hottest keys."""
    from ..operators.joins import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", money("l_extendedprice").alias("price")
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, orders, ["l_orderkey"], salts=8)
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("price"), 2).cast("double").alias("revenue"),
    )
