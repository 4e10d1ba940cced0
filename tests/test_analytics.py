"""Sequenced-funnel and cohort-retention semantics on hand-built
micro-corpora (the oracle pins cross-engine parity; these pin the
INTENDED semantics against cases the test data may not contain)."""

from __future__ import annotations

import datetime as dt

import pytest



def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, t, 1.0, "{}")
         for i, (s, u, t) in enumerate(rows)],
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )


def _funnel(spark, ev, tmp_path):
    import employee_data_management_system_data_engineering_solution_spark.plans.temporal as tp

    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return {
        r.step: (r.n_users, r.conv_from_view)
        for r in tp.funnel_conversion_report(spark, str(tmp_path)).collect()
    }


def test_funnel_requires_strict_event_ordering(spark, tmp_path):
    # u1 converts fully in order; u2 purchased BEFORE clicking (no step
    # 3); u3 clicked before viewing (click doesn't count, no step 2);
    # u4 only views
    ev = _events(
        spark,
        [
            (0, 1, "view"), (10, 1, "click"), (20, 1, "purchase"),
            (0, 2, "view"), (5, 2, "purchase"), (10, 2, "click"),
            (0, 3, "click"), (10, 3, "view"),
            (0, 4, "view"),
        ],
    )
    got = _funnel(spark, ev, tmp_path)
    assert got["1_view"][0] == 4
    assert got["2_click"][0] == 2  # u1 and u2 (u2's click follows its view)
    assert got["3_purchase"][0] == 1  # only u1: u2's purchase precedes its click
    assert got["1_view"][1] == 1.0 and got["3_purchase"][1] == 0.25


def test_cohort_retention_counts_distinct_users_per_offset(spark, tmp_path):
    import employee_data_management_system_data_engineering_solution_spark.plans.temporal as tp

    wk = 7 * 24 * 3600
    # u1 active weeks 0,1,1 (dup within offset 1 must count once);
    # u2 first appears week 1, active again week 3
    ev = _events(
        spark,
        [
            (0, 1, "view"), (wk + 5, 1, "click"), (wk + 9, 1, "view"),
            (wk, 2, "view"), (3 * wk + 2, 2, "purchase"),
        ],
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        (r.cohort_wk, r.week_offset): r.n_users
        for r in tp.weekly_cohort_retention(spark, str(tmp_path)).collect()
    }
    assert got == {(0, 0): 1, (0, 1): 1, (1, 0): 1, (1, 2): 1}


def test_boilerplate_scrub_removes_later_occurrences_and_reassembles(spark, tmp_path):
    import hashlib

    import employee_data_management_system_data_engineering_solution_spark.plans.llm as llm

    header = " ".join(f"h{i}" for i in range(10))  # shared 10-word block
    b1 = " ".join(f"a{i}" for i in range(10))
    b2 = " ".join(f"b{i}" for i in range(7))  # short tail block survives
    docs = spark.createDataFrame(
        [
            (1, f"{header} {b1}", "en", "s", 0),
            (2, f"{header} {b2}", "en", "s", 0),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_blocks, r.n_kept, r.scrubbed_md5)
        for r in llm.boilerplate_scrub_stats(spark, str(tmp_path)).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # doc 1 owns the header (lowest doc_id) and keeps everything;
    # doc 2 loses the header and reassembles to just its tail block
    assert got == {
        1: (2, 2, md5(f"{header} {b1}")),
        2: (2, 1, md5(b2)),
    }


def test_brand_price_regression_matches_numpy_least_squares(spark):
    """The closed-form sums reproduce an independent OLS fit (numpy
    lstsq) per brand at sf0.001, and R² lands in [0, 1]."""
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    got = {r.p_brand: r for r in REGISTRY["brand_price_regression"].fn(spark, sf).collect()}
    li = read_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    pt = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    pdf = li.join(pt, li.l_partkey == pt.p_partkey).toPandas()
    assert set(got) == set(pdf.p_brand.unique())
    for brand, g in pdf.groupby("p_brand"):
        x = g.l_quantity.to_numpy(float)
        y = np.round(g.l_extendedprice.to_numpy(float), 2)
        A = np.vstack([x, np.ones_like(x)]).T
        (slope, intercept), res, *_ = np.linalg.lstsq(A, y, rcond=None)
        r = got[brand]
        assert r.n_rows == len(g)
        assert abs(r.slope - slope) < 1e-4, brand
        assert abs(r.intercept - intercept) < 1e-3, brand
        assert 0.0 <= r.r2 <= 1.0


def test_brand_price_regression_degenerate_variance_is_null(spark):
    """Zero x-variance ⇒ NULL slope/intercept/r2 by explicit guard
    (not an engine division artifact). Checked via the same closed
    form the plan uses, on a hand-built frame."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(10, 5.0), (10, 7.0), (10, 9.0)], "x LONG, y DOUBLE")
    s = df.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    ).collect()[0]
    assert s.n * s.sxx - s.sx * s.sx == 0.0


def test_price_qty_elasticity_matches_numpy_loglog_fit(spark):
    """The decimal-accumulated rounded-ln sums reproduce an
    independent log-log OLS fit per brand at sf0.001."""
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    got = {r.p_brand: r for r in REGISTRY["price_qty_elasticity"].fn(spark, sf).collect()}
    li = read_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    pt = read_table(spark, sf, "part").select("p_partkey", "p_brand")
    pdf = li.join(pt, li.l_partkey == pt.p_partkey).toPandas()
    pdf = pdf[(pdf.l_quantity > 0) & (pdf.l_extendedprice > 0)]
    for brand, g in pdf.groupby("p_brand"):
        x = np.round(np.log(g.l_quantity.to_numpy(float)), 6)
        y = np.round(np.log(np.round(g.l_extendedprice.to_numpy(float), 2)), 6)
        A = np.vstack([x, np.ones_like(x)]).T
        (slope, intercept), *_ = np.linalg.lstsq(A, y, rcond=None)
        r = got[brand]
        assert r.n_rows == len(g)
        assert abs(r.price_flexibility - slope) < 1e-4, brand
        assert abs(r.intercept - intercept) < 1e-3, brand
        assert 0.0 <= r.r2 <= 1.0


def test_char_bigram_entropy_matches_math_reference(spark, tmp_path):
    """Per-doc entropy equals the textbook Shannon H over character
    bigrams of the whitespace-collapsed lowercased text, within the
    rounding pinned by the plan; len<2 docs are excluded."""
    import math
    import re
    from collections import Counter

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [
        (0, "abababab"),
        (1, "The  quick\tbrown fox jumps over the lazy dog"),
        (2, "x"),          # too short after collapse -> excluded
        (3, "  "),          # collapses to ' ' -> excluded
        (4, "aaaa aaaa aaaa"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: r
        for r in REGISTRY["char_bigram_entropy"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1, 4}
    for doc_id, text in rows:
        norm = re.sub(r"\s+", " ", text.strip().lower())
        if len(norm) < 2:
            continue
        grams = Counter(norm[i : i + 2] for i in range(len(norm) - 1))
        n = sum(grams.values())
        s = sum(c * round(math.log(c), 6) for c in grams.values())
        h = round(round(math.log(n), 6) - s / n, 4)
        r = got[doc_id]
        assert (r.n_bigrams, r.n_distinct) == (n, len(grams))
        assert abs(r.entropy - h) < 1e-9, doc_id
    # sanity: the repetitive doc is lower-entropy than the prose doc
    assert got[0].entropy < got[1].entropy


def test_rolling_user_features_trailing_frame_semantics(spark, tmp_path):
    """Hand-built stream: the 7-day RANGE frame includes exactly days
    in [d-6, d], a >6-day gap resets the trailing stats, and
    days_since_prev reports the true calendar gap."""
    import datetime as dt

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = []
    # user 1: days 1,2,3 then a jump to day 20 (outside any frame)
    for i, (day, val) in enumerate([(1, 10.0), (2, 20.0), (3, 30.0), (20, 5.0)]):
        rows.append((i, dt.datetime(2024, 1, day, 12, 0, 0), 1, "view", val, "{}"))
    # one extra same-day event for day 2
    rows.append((99, dt.datetime(2024, 1, 2, 13, 0, 0), 1, "view", 2.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    out = {r.day: r for r in REGISTRY["rolling_user_features"].fn(spark, sf).collect()}
    assert out["2024-01-02"].n_events == 2
    assert out["2024-01-02"].n_7d == 3 and out["2024-01-02"].sum_7d == 32.0
    assert out["2024-01-03"].n_7d == 4 and out["2024-01-03"].sum_7d == 62.0
    assert out["2024-01-03"].days_since_prev == 1
    # the jump: frame resets, gap reported
    assert out["2024-01-20"].n_7d == 1 and out["2024-01-20"].sum_7d == 5.0
    assert out["2024-01-20"].days_since_prev == 17
    assert out["2024-01-01"].days_since_prev is None


def test_lineitem_corr_matrix_matches_numpy(spark):
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    got = {(r.col_a, r.col_b): r for r in REGISTRY["lineitem_corr_matrix"].fn(spark, sf).collect()}
    pdf = read_table(spark, sf, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).toPandas()
    name = {"quantity": "l_quantity", "extendedprice": "l_extendedprice",
            "discount": "l_discount", "tax": "l_tax"}
    assert len(got) == 6
    for (a, b), r in got.items():
        ref = np.corrcoef(
            pdf[name[a]].to_numpy(float).round(2), pdf[name[b]].to_numpy(float).round(2)
        )[0, 1]
        assert abs(r.corr - ref) < 1e-4, (a, b)
        assert -1.0 <= r.corr <= 1.0 and r.n_rows == len(pdf)


def test_calendar_completeness_counts_missing_days(spark, tmp_path):
    """Hand-built feed: expected calendar spans the WHOLE table's
    bounds; urgent-only gaps are counted per month."""
    import datetime as dt

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = []
    # full feed covers Jan 1 .. Feb 10; urgent rows only on 4 days
    for i, day in enumerate(range(1, 32)):
        rows.append((i, dt.datetime(2024, 1, day), 1, "5-LOW", 10.0))
    rows.append((100, dt.datetime(2024, 2, 10), 1, "5-LOW", 10.0))
    for j, (m, day) in enumerate([(1, 5), (1, 20), (2, 1), (2, 10)]):
        rows.append((200 + j, dt.datetime(2024, m, day), 1, "1-URGENT", 10.0))
    df = spark.createDataFrame(
        rows, "o_orderkey LONG, o_orderdate TIMESTAMP, o_custkey LONG, o_orderpriority STRING, o_totalprice DOUBLE"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/orders.parquet")
    out = {r.month: r for r in REGISTRY["calendar_completeness_report"].fn(spark, sf).collect()}
    assert out["2024-01"].n_days == 31 and out["2024-01"].n_days_present == 2
    assert out["2024-01"].n_days_missing == 29
    assert out["2024-02"].n_days == 10 and out["2024-02"].n_days_present == 2
    assert out["2024-02"].completeness == 0.2


def test_weighted_median_matches_python_reference(spark, tmp_path):
    """Lower weighted median on a hand-built frame: value peers
    collapse, half-total boundary included, zero/NULL weights out."""
    rows = [
        # flag A: weights 1,1,1,1 over values 1,2,3,4 -> cum hits half (2) at v=2
        ("A", 1.0, 1), ("A", 2.0, 1), ("A", 3.0, 1), ("A", 4.0, 1),
        # flag B: heavy tail: v=10 w=1, v=20 w=9 -> median 20
        ("B", 10.0, 1), ("B", 20.0, 9),
        # flag C: peers: v=5 twice (w=1 each), v=9 w=1 -> cum(5)=2, 2*2>=3 -> 5
        ("C", 5.0, 1), ("C", 5.0, 1), ("C", 9.0, 1),
        # excluded rows
        ("A", 99.0, 0), ("B", 99.0, None),
    ]
    df = spark.createDataFrame(
        [(f, v, w, i) for i, (f, v, w) in enumerate(rows)],
        "l_returnflag STRING, l_extendedprice DOUBLE, l_quantity LONG, l_orderkey LONG",
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/lineitem.parquet")
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    got = {r.l_returnflag: r for r in REGISTRY["weighted_median_by_flag"].fn(spark, sf).collect()}
    assert got["A"].weighted_median == 2.0 and got["A"].total_weight == 4
    assert got["B"].weighted_median == 20.0 and got["B"].total_weight == 10
    assert got["C"].weighted_median == 5.0 and got["C"].total_weight == 3


def test_part_covisitation_counts_and_lift(spark, tmp_path):
    """Hand-built baskets: duplicate lines of one part in one order
    count once, pair counts and lift match hand math, ordering is the
    deterministic (n_co DESC, part_a, part_b) total order."""
    rows = []
    # orders 1..3 contain {A=1,B=2}; order 4 contains {A,C=3}; order 5 {B}
    baskets = {1: [1, 2], 2: [1, 2], 3: [1, 2, 2], 4: [1, 3], 5: [2]}
    ln = 0
    for ok, parts in baskets.items():
        for p in parts:
            ln += 1
            rows.append((ok, p, ln))
    df = spark.createDataFrame(rows, "l_orderkey LONG, l_partkey LONG, l_linenumber LONG")
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/lineitem.parquet")
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    out = REGISTRY["part_covisitation_topk"].fn(spark, sf).collect()
    assert [(r.part_a, r.part_b, r.n_co) for r in out] == [(1, 2, 3)]
    r = out[0]
    # lift = n_co * n_orders / (n_a * n_b) = 3*5 / (4*4)
    assert r.n_a == 4 and r.n_b == 4
    assert abs(r.lift - round(3 * 5 / (4 * 4), 6)) < 1e-9


def test_revenue_cusum_flags_the_level_shift(spark, tmp_path):
    """A 10-day level shift: |CUSUM| peaks exactly at the last day of
    the old level, and the reported statistic matches the Python
    closed form."""
    import datetime as dt

    rows = []
    k = 0
    for day in range(1, 21):
        k += 1
        val = 10.0 if day <= 10 else 20.0
        rows.append((k, dt.datetime(2024, 1, day), val, "X"))
    df = spark.createDataFrame(
        rows, "o_orderkey LONG, o_orderdate TIMESTAMP, o_totalprice DOUBLE, o_orderpriority STRING"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/orders.parquet")
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    out = REGISTRY["revenue_cusum_shift"].fn(spark, sf).collect()
    assert out[0].day == "2024-01-10" and out[0].shift_rank == 1
    # python reference: S_t = C_t - t*mean; reported cusum = n*S_t/n = S_t
    xs = [10.0] * 10 + [20.0] * 10
    mean = sum(xs) / len(xs)
    s10 = sum(xs[:10]) - 10 * mean
    assert abs(out[0].cusum - round(s10, 4)) < 1e-9
    # ranks are 1..5 and |cusum| is non-increasing
    mags = [abs(r.cusum) for r in out]
    assert [r.shift_rank for r in out] == [1, 2, 3, 4, 5]
    assert mags == sorted(mags, reverse=True)


def test_theilsen_matches_median_of_pairwise_slopes(spark, tmp_path):
    """X152 vs a pure-Python Theil-Sen on a planted series with one
    rogue month: the median slope must ignore the outlier (robustness)
    and equal the brute-force median of pairwise slopes exactly."""
    import datetime
    import statistics

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    # brand A: clean +10/month trend with one rogue month (month 4 has
    # a 10x revenue spike); brand B: a single month (degenerate)
    rows = []
    series = {1: 100.0, 2: 110.0, 3: 120.0, 4: 1300.0, 5: 140.0, 6: 150.0}
    for mth, rev in series.items():
        rows.append((len(rows), 1, rev, datetime.datetime(2024, mth, 15)))
    rows.append((len(rows), 2, 55.0, datetime.datetime(2024, 3, 1)))
    li = spark.createDataFrame(
        [(i, r[1], r[2], r[3]) for i, r in enumerate(rows)],
        "l_orderkey LONG, l_partkey LONG, l_extendedprice DOUBLE, l_shipdate TIMESTAMP",
    )
    part = spark.createDataFrame(
        [(1, "Brand#A"), (2, "Brand#B")], "p_partkey LONG, p_brand STRING"
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    part.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = {r.p_brand: r for r in REGISTRY["brand_price_theilsen"].fn(spark, str(tmp_path)).collect()}

    months = sorted(series)
    slopes = [
        (series[b] - series[a]) / (b - a)
        for i, a in enumerate(months)
        for b in months[i + 1:]
    ]
    want = round(statistics.median(slopes), 6)
    got = out["Brand#A"]
    assert got.n_months == 6 and got.n_pairs == 15
    assert got.ts_slope == want
    # robustness: the rogue month leaves the median slope near the
    # clean +10/month trend, nowhere near the OLS-distorting spike
    assert abs(got.ts_slope - 10.0) < 60
    assert got.med_monthly_rev == round(statistics.median(series.values()), 6)
    degen = out["Brand#B"]
    assert degen.n_months == 1 and degen.n_pairs == 0 and degen.ts_slope is None


def test_mase_calendar_true_lags_and_ratio(spark, tmp_path):
    """X153 vs a pure-Python replay on a planted series with a
    calendar GAP: the gap day must not smear into the naive lag (a
    date joins to date-1, not to the previous observed row)."""
    import datetime
    from decimal import Decimal

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    # 14 consecutive days, then a gap, then two more days
    base = datetime.datetime(2024, 1, 1)
    series = {}
    for i in range(14):
        series[i] = 100.0 + 10 * (i % 7)
    series[16] = 500.0  # after a 2-day gap: no d-1 neighbor
    series[17] = 510.0
    rows = [
        (i, base + datetime.timedelta(days=k), v)
        for i, (k, v) in enumerate(series.items())
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey LONG, o_orderdate TIMESTAMP, o_totalprice DOUBLE"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = REGISTRY["revenue_forecast_mase"].fn(spark, str(tmp_path)).collect()[0]

    days = {k: Decimal(str(v)).quantize(Decimal("0.01")) for k, v in series.items()}
    s_err = [abs(days[k] - days[k - 7]) for k in days if k - 7 in days]
    n_err = [abs(days[k] - days[k - 1]) for k in days if k - 1 in days]
    assert got.n_days == len(days)
    assert got.n_seasonal == len(s_err) and got.n_naive == len(n_err)
    mae_s = float(sum(s_err)) / len(s_err)
    mae_n = float(sum(n_err)) / len(n_err)
    assert got.mae_seasonal == round(mae_s, 6)
    assert got.mae_naive == round(mae_n, 6)
    assert got.mase == round(mae_s / mae_n, 6)


def test_nation_revenue_gini_matches_python_replay(spark):
    """Gini equals the closed form over exactly the same per-customer
    revenue, rank order, and rounding at sf0.001; bounds hold."""
    from collections import defaultdict

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    got = {r.nation: r for r in REGISTRY["nation_revenue_gini"].fn(spark, sf).collect()}
    orders = read_table(spark, sf, "orders").select("o_custkey", "o_totalprice").collect()
    cust = {r.c_custkey: r.c_nationkey for r in read_table(spark, sf, "customer").collect()}
    nations = {r.n_nationkey: r.n_name for r in read_table(spark, sf, "nation").collect()}
    from decimal import Decimal

    rev = defaultdict(Decimal)
    for r in orders:
        rev[r.o_custkey] += Decimal(str(round(r.o_totalprice, 2)))
    by_nation = defaultdict(list)
    for ck, x in rev.items():
        by_nation[nations[cust[ck]]].append((x, ck))
    for nation, xs in by_nation.items():
        xs.sort()  # (revenue, custkey) ascending — same tie-break
        n = len(xs)
        s = sum(x for x, _ in xs)
        s1 = sum((i + 1) * x for i, (x, _) in enumerate(xs))
        gini = round(float(2 * s1 - (n + 1) * s) / float(n * s), 6)
        r = got[nation]
        assert r.n_customers == n
        assert abs(r.total_revenue - float(s)) < 1e-6
        assert abs(r.gini - gini) < 1e-9, nation
        assert 0.0 <= r.gini < 1.0


def test_user_survival_km_matches_python_replay(spark):
    """Survival equals a pure-Python Kaplan-Meier with the same
    14-day censoring rule, risk sets, and log-space rounding."""
    import math
    from collections import defaultdict

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    got = {r.t_days: r for r in REGISTRY["user_survival_km"].fn(spark, sf).collect()}
    ev = read_table(spark, sf, "events").select("user_id", "ts").collect()
    first, last = {}, {}
    for r in ev:
        u = r.user_id
        first[u] = min(first.get(u, r.ts), r.ts)
        last[u] = max(last.get(u, r.ts), r.ts)
    study_end = max(last.values())
    durs = defaultdict(lambda: [0, 0])  # t -> [d, c]
    for u in first:
        t = (last[u].date() - first[u].date()).days
        churned = (study_end.date() - last[u].date()).days > 14
        durs[t][0 if churned else 1] += 1
    assert set(got) == set(durs)
    n_at_risk = sum(d + c for d, c in durs.values())
    cl = 0.0
    anyzero = False
    surv_want = {}
    for t in sorted(durs):
        d, c = durs[t]
        if d == n_at_risk:
            anyzero = True
        elif d > 0:
            cl += round(math.log((n_at_risk - d) / n_at_risk), 6)
        surv_want[t] = (n_at_risk, 0.0 if anyzero else round(math.exp(cl), 6))
        n_at_risk -= d + c
    for t, (n_risk, s) in surv_want.items():
        r = got[t]
        assert r.n_risk == n_risk, t
        assert (r.d_churned, r.c_censored) == tuple(durs[t]), t
        assert abs(r.survival - s) < 1e-9, t
    # survival is monotone non-increasing in t
    ts = sorted(got)
    for a, b in zip(ts, ts[1:]):
        assert got[b].survival <= got[a].survival + 1e-12


def test_bpe_merge_candidates_matches_python_replay(spark, tmp_path):
    """Top-20 weighted char-pair counts equal a pure-Python Sennrich
    pair count (overlap-inclusive) on a hand-built corpus."""
    from collections import Counter

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [
        (0, "banana banana band and sand"),
        (1, "an anthem and a banana stand"),
        (2, "   "),
        (3, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = [
        (r.pair, r.weighted_count, r.n_distinct_words, r.rank)
        for r in REGISTRY["bpe_merge_candidates"].fn(spark, str(tmp_path)).collect()
    ]
    wc = Counter()
    for _, text in rows:
        wc.update(text.strip().lower().split())
    pair_w = Counter()
    pair_words = Counter()
    for word, n in wc.items():
        if len(word) < 2:
            continue
        pairs = Counter(word[i : i + 2] for i in range(len(word) - 1))
        for p, k in pairs.items():
            pair_w[p] += n * k
            pair_words[p] += 1
    want = sorted(pair_w, key=lambda p: (-pair_w[p], p))[:20]
    want = [(p, pair_w[p], pair_words[p], i + 1) for i, p in enumerate(want)]
    assert sorted(got, key=lambda t: t[3]) == want
    # 'an' dominates this corpus ("banana" alone contributes 2 per use)
    assert got and sorted(got, key=lambda t: t[3])[0][0] == "an"


def _bpe_train_ref(word_counts, rounds):
    """Pure-Python Sennrich et al. 2016 BPE trainer: overlap-inclusive
    pair stats over the vocabulary weighted by word frequency, winner
    by (count desc, pair asc), greedy left-to-right merge application."""
    from collections import Counter

    vocab = {w: list(w) for w in word_counts if len(w) >= 2}
    merges = []
    for rnd in range(1, rounds + 1):
        stats = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += word_counts[w]
        if not stats:
            break
        (pa, pb), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, pa, pb, pa + pb, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == pa and syms[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_merge_table_matches_python_trainer(spark, tmp_path):
    """The 10-round merge table equals a pure-Python Sennrich trainer
    on a corpus with an overlap trap ('aaaa' counts (a,a) three times
    but merges greedily to 'aa aa') and merged-symbol re-pairing
    (later rounds must see earlier merges)."""
    from collections import Counter

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [
        (0, "the cat sat on the mat the cat"),
        (1, "banana bandana aaaa aaaa"),
        (2, "there then theme the"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = sorted(
        (
            (r.rank, r.pair_a, r.pair_b, r.merged, r.weighted_count)
            for r in REGISTRY["bpe_merge_table"].fn(spark, str(tmp_path)).collect()
        ),
    )
    wc = Counter()
    for _, text in rows:
        wc.update(text.strip().lower().split())
    assert got == _bpe_train_ref(wc, 10)
    # the overlap trap actually fired: (a,a) was merged and then the
    # merged 'aa' symbol re-paired in a later round
    merged_syms = [m[3] for m in got]
    assert "aa" in merged_syms
    assert any(m[1] == "aa" or m[2] == "aa" for m in got)


def test_bpe_merge_table_registry_corpus_rounds(spark):
    """On the sf0.001 corpus the trainer emits exactly 10 ordered
    rounds with strictly valid structure (merged = a||b, weights
    positive and non-increasing is NOT required — only that each
    round's winner was maximal under its own round's stats, which the
    python replay in the tmp-corpus test pins; here we pin shape)."""
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = REGISTRY["bpe_merge_table"].fn(spark, "/root/testdata/sf0.001").collect()
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(range(1, 11))
    for r in rows:
        assert r.merged == r.pair_a + r.pair_b
        assert r.weighted_count > 0


def _bpe_encode_ref(word, merges):
    """Pure-Python list-based BPE encoder: apply the learned merges in
    rank order, each greedily left-to-right (independent of the
    engine's spine-replace trick)."""
    syms = list(word)
    for _, pa, pb, merged, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == pa and syms[i + 1] == pb:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_stats_matches_python_encoder(spark, tmp_path):
    """Per-source token totals equal a pure-Python trainer + list-based
    encoder replay (single-char words included; the corpus has an
    overlap trap and words that merge fully)."""
    from collections import Counter

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [
        (0, "the cat sat on the mat the cat", "web"),
        (1, "banana bandana aaaa aaaa", "web"),
        (2, "there then theme the", "books"),
        (3, "a I x aaaa the", "books"),
        (4, "", "books"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.source: r
        for r in REGISTRY["bpe_encode_stats"].fn(spark, str(tmp_path)).collect()
    }
    wc = Counter()
    src_wc = Counter()
    for _, text, src in rows:
        words = text.strip().lower().split()
        wc.update(words)
        for w in words:
            src_wc[(src, w)] += 1
    merges = _bpe_train_ref(wc, 10)
    tok = {w: len(_bpe_encode_ref(w, merges)) for w in wc}
    want = {}
    for (src, w), n in src_wc.items():
        e = want.setdefault(src, [0, 0, 0])
        e[0] += n
        e[1] += n * len(w)
        e[2] += n * tok[w]
    assert set(got) == set(want)
    for src, (n_words, n_chars, n_tokens) in want.items():
        r = got[src]
        assert (r.n_words, r.n_chars, r.n_tokens) == (n_words, n_chars, n_tokens)
        assert r.tokens_per_word == pytest.approx(n_tokens / n_words, abs=1e-6)
        assert r.chars_per_token == pytest.approx(n_chars / n_tokens, abs=1e-6)
    # compression is real on this corpus: multi-char merges fired
    assert got["web"].n_tokens < got["web"].n_chars
    # single-char words survive encoding as exactly one token each
    assert tok["a"] == 1 and tok["i"] == 1 and tok["x"] == 1


def _round6_away(x):
    """Half-away-from-zero 6-dp rounding (Spark/DuckDB round), not
    Python's banker's rounding."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def test_gate_training_rounds_matches_numpy_replay(spark):
    """The 10-round weight trajectory equals an independent numpy
    full-batch GD replay over the same feature frame (same 6-dp
    half-away rounding per update), and the training loss decreases
    monotonically."""
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.plans.llm import (
        _GATE_TRAIN_ETA,
        _GATE_TRAIN_ROUNDS,
        _gate_features,
    )
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = sorted(
        REGISTRY["gate_training_rounds"].fn(spark, sf).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in got] == list(range(1, _GATE_TRAIN_ROUNDS + 1))
    pdf = _gate_features(spark, sf).toPandas()
    X = pdf[["f1", "f2", "f3", "f4"]].to_numpy(dtype=float)
    X[:, 2] /= 10.0
    y = pdf["label"].to_numpy(dtype=float)
    w = np.zeros(5)
    losses = []
    for r in got:
        z = w[0] + X @ w[1:]
        p = 1.0 / (1.0 + np.exp(-z))
        pc = np.clip(p, 1e-12, 1 - 1e-12)
        loss = float(-(y * np.log(pc) + (1 - y) * np.log(1 - pc)).mean())
        acc = float(((z >= 0) == (y == 1)).mean())
        err = p - y
        w = np.array(
            [_round6_away(w[0] - _GATE_TRAIN_ETA * err.mean())]
            + [
                _round6_away(w[j + 1] - _GATE_TRAIN_ETA * (err * X[:, j]).mean())
                for j in range(4)
            ]
        )
        # weights must agree bit-for-bit after the shared rounding
        assert (r.b0, r.w1, r.w2, r.w3, r.w4) == tuple(w), r.step
        assert r.loss == pytest.approx(loss, abs=1e-6)
        assert r.acc == pytest.approx(acc, abs=1e-6)
        losses.append(loss)
    assert all(b < a for a, b in zip(losses, losses[1:]))


def test_gate_training_rounds_empty_corpus_trains_to_zero(spark, tmp_path):
    """An empty corpus must yield the zero weight vector every round
    (coalesced gradients), never NULL weights or a raised division."""
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    df = spark.createDataFrame([], "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = REGISTRY["gate_training_rounds"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 10
    for r in rows:
        assert (r.b0, r.w1, r.w2, r.w3, r.w4) == (0.0, 0.0, 0.0, 0.0, 0.0)
        assert r.loss is None and r.acc is None


def _bpe_batched_ref(word_counts, rounds=3, k=4, pool=16):
    """Pure-Python replay of the batched-round BPE rule: per round,
    overlap-inclusive weighted pair stats over the vocabulary, rank by
    (count desc, pair asc), pool = top-16 ranked candidates, winners =
    pool members sharing no symbol with ANY higher-ranked pool member
    (anti-chain rule), capped at k; winners applied SEQUENTIALLY in
    slot order, each greedy left-to-right."""
    from collections import Counter

    vocab = {w: list(w) for w in word_counts if len(w) >= 2}
    out = []
    for rnd in range(1, rounds + 1):
        stats = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += word_counts[w]
        ranked = sorted(stats.items(), key=lambda kv: (-kv[1], kv[0]))[:pool]
        winners = []
        for i, ((pa, pb), cnt) in enumerate(ranked):
            used = {pa, pb}
            if any(ha in used or hb in used for (ha, hb), _ in ranked[:i]):
                continue
            winners.append((pa, pb, cnt))
            if len(winners) == k:
                break
        if not winners:
            break
        for slot, (pa, pb, cnt) in enumerate(winners, start=1):
            out.append((rnd, slot, pa, pb, pa + pb, cnt))
        for pa, pb, _ in winners:
            for w, syms in vocab.items():
                new, i = [], 0
                while i < len(syms):
                    if (
                        i < len(syms) - 1
                        and syms[i] == pa
                        and syms[i + 1] == pb
                    ):
                        new.append(pa + pb)
                        i += 2
                    else:
                        new.append(syms[i])
                        i += 1
                vocab[w] = new
    return out


def test_bpe_merge_batched_matches_python_replay(spark, tmp_path):
    """The batched merge table equals the pure-Python anti-chain
    replay on a corpus engineered so the non-overlap filter actually
    fires (several top pairs share symbols) and later rounds see
    earlier rounds' merges."""
    from collections import Counter

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [
        (0, "the cat sat on the mat the cat aaaa aaaa"),
        (1, "banana bandana anthem and sand stand"),
        (2, "there then theme the an ant"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = sorted(
        (r.round, r.slot, r.pair_a, r.pair_b, r.merged, r.weighted_count)
        for r in REGISTRY["bpe_merge_batched"].fn(spark, str(tmp_path)).collect()
    )
    wc = Counter()
    for _, text in rows:
        wc.update(text.strip().lower().split())
    want = sorted(_bpe_batched_ref(wc))
    assert got == want
    # the anti-chain filter fired: at least one round harvested more
    # than one merge, and winners within a round are symbol-disjoint
    per_round = Counter(r for r, *_ in got)
    assert max(per_round.values()) >= 2
    for rnd in per_round:
        # pairwise symbol-disjoint across winners (a self-pair like
        # (a, a) is one winner and legal)
        sets = [
            {pa, pb} for g_rnd, _, pa, pb, _, _ in got if g_rnd == rnd
        ]
        for i, a in enumerate(sets):
            for b in sets[i + 1 :]:
                assert not (a & b), f"round {rnd} winners overlap"


def test_bpe_merge_batched_registry_corpus_shape(spark):
    """On the sf0.001 corpus the batched trainer emits valid rounds:
    contiguous slots from 1, merged = a||b, positive counts, and
    within-round symbol-disjointness."""
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = REGISTRY["bpe_merge_batched"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_round = {}
    for r in rows:
        assert r.merged == r.pair_a + r.pair_b
        assert r.weighted_count > 0
        by_round.setdefault(r.round, []).append(r)
    for rnd, rs in by_round.items():
        assert sorted(x.slot for x in rs) == list(range(1, len(rs) + 1))
        sets = [{x.pair_a, x.pair_b} for x in rs]
        for i, a in enumerate(sets):
            for b in sets[i + 1 :]:
                assert not (a & b)


def test_bpe_merge_batched_empty_corpus(spark, tmp_path):
    """An empty corpus yields an empty merge table, no raise."""
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    df = spark.createDataFrame([], "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    assert REGISTRY["bpe_merge_batched"].fn(spark, str(tmp_path)).collect() == []


def _auc_confusion_ref(scores, labels, preds):
    """Independent tied-rank AUC + confusion replay (numpy, average
    ranks via the strictly-below + (group+1)/2 identity)."""
    import numpy as np

    scores = np.asarray(scores, dtype=float)
    labels = np.asarray(labels, dtype=int)
    preds = np.asarray(preds, dtype=bool)
    n = len(scores)
    n_pos = int(labels.sum())
    n_neg = n - n_pos
    tp = int((preds & (labels == 1)).sum())
    fp = int((preds & (labels == 0)).sum())
    auc = None
    if n_pos and n_neg:
        order = np.argsort(scores, kind="mergesort")
        ranks = np.empty(n, dtype=float)
        i = 0
        while i < n:
            j = i
            while j < n and scores[order[j]] == scores[order[i]]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0  # average 1-based rank
            i = j
        r_pos = ranks[labels == 1].sum()
        auc = (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    return n, n_pos, n_neg, auc, tp, fp, n_pos - tp, n_neg - fp


def test_gate_trained_eval_matches_numpy_replay(spark):
    """Both rows (pinned / trained) of the held-out eval equal an
    independent numpy replay: GD trained on the %5!=0 split with the
    shared 6-dp rounding, both models scored on the %5==0 split,
    tied-rank AUC + confusion recomputed from scratch."""
    import numpy as np

    from employee_data_management_system_data_engineering_solution_spark.plans.llm import (
        _GATE_TRAIN_ETA,
        _GATE_TRAIN_ROUNDS,
        _gate_features,
    )
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r.model: r for r in REGISTRY["gate_trained_eval"].fn(spark, sf).collect()
    }
    assert set(got) == {"pinned", "trained"}
    pdf = _gate_features(spark, sf).toPandas()
    tr = pdf[pdf["doc_id"] % 5 != 0]
    ev = pdf[pdf["doc_id"] % 5 == 0]
    Xt = tr[["f1", "f2", "f3", "f4"]].to_numpy(dtype=float)
    Xt[:, 2] /= 10.0
    yt = tr["label"].to_numpy(dtype=float)
    w = np.zeros(5)
    for _ in range(_GATE_TRAIN_ROUNDS):
        z = w[0] + Xt @ w[1:]
        err = 1.0 / (1.0 + np.exp(-z)) - yt
        w = np.array(
            [_round6_away(w[0] - _GATE_TRAIN_ETA * err.mean())]
            + [
                _round6_away(w[j + 1] - _GATE_TRAIN_ETA * (err * Xt[:, j]).mean())
                for j in range(4)
            ]
        )
    Xe = ev[["f1", "f2", "f3", "f4"]].to_numpy(dtype=float)
    ye = ev["label"].to_numpy(dtype=int)
    models = {
        "trained": w[0] + (Xe * np.array([w[1], w[2], w[3] / 10.0, w[4]])).sum(axis=1),
        "pinned": -2.2 + Xe @ np.array([8.0, -6.0, 0.25, 1.5]),
    }
    for model, z in models.items():
        score = np.array([_round6_away(v) for v in 1.0 / (1.0 + np.exp(-z))])
        n, n_pos, n_neg, auc, tp, fp, fn, tn = _auc_confusion_ref(
            score, ye, z >= 0
        )
        r = got[model]
        assert (r.n, r.n_pos, r.n_neg, r.tp, r.fp, r.fn, r.tn) == (
            n, n_pos, n_neg, tp, fp, fn, tn,
        ), model
        assert r.auc == pytest.approx(auc, abs=2e-6), model
        if tp + fp:
            assert r.precision == pytest.approx(tp / (tp + fp), abs=1e-6)
        if n:
            assert r.accuracy == pytest.approx((tp + tn) / n, abs=1e-6)
    # the split is real: train + eval partition the corpus
    assert len(tr) + len(ev) == len(pdf) and len(tr) and len(ev)


def test_gate_trained_eval_empty_corpus(spark, tmp_path):
    """An empty corpus yields one zero-count row per model with NULL
    ratio metrics (binary_auc's coalesced-empty contract), no raise."""
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    df = spark.createDataFrame([], "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = REGISTRY["gate_trained_eval"].fn(spark, str(tmp_path)).collect()
    assert sorted(r.model for r in rows) == ["pinned", "trained"]
    for r in rows:
        assert (r.n, r.n_pos, r.n_neg, r.tp, r.fp, r.fn, r.tn) == (
            0, 0, 0, 0, 0, 0, 0,
        )
        assert r.auc is None and r.precision is None


def test_dedup_recall_sampled_agrees_with_full_on_planted_corpus(spark, tmp_path):
    """The verdict-required agreement pin: on a planted-duplicate
    corpus smaller than the sample budget the seeded sample IS the
    whole corpus, so the sampled scorecard must reproduce the full
    scorecard's numbers exactly (and report the corpus size as
    n_sample)."""
    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "colorless green ideas sleep furiously in the warm summer night"
    rows = [(0, dup_a), (1, dup_a), (2, dup_a), (3, dup_b), (4, dup_b)]
    rows += [
        (5, "completely different content about spark partitions and shuffles"),
        (6, "yet another unrelated document discussing parquet column pruning"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        full = {
            r.method: r
            for r in REGISTRY["dedup_recall_report"].fn(spark, str(tmp_path)).collect()
        }
        samp = {
            r.method: r
            for r in REGISTRY["dedup_recall_sampled"].fn(spark, str(tmp_path)).collect()
        }
    finally:
        _llm._verified_pairs.clear()
        _llm._ppjoin_pairs.clear()
    assert set(samp) == set(full)
    for m in full:
        assert samp[m].n_sample == len(rows)
        assert (samp[m].n_pred, samp[m].n_true, samp[m].n_hit) == (
            full[m].n_pred, full[m].n_true, full[m].n_hit,
        ), m
        assert samp[m].recall == full[m].recall
        assert samp[m].precision == full[m].precision
    assert samp["minhash_lsh_j90"].recall == 1.0


def test_dedup_recall_sampled_caps_at_sample_budget(spark, tmp_path):
    """Above the budget the md5-rank sample caps at 2000 documents and
    the whole measurement is bounded by the sample (n_pred/n_true can
    never exceed sample-pair counts; here the planted duplicate pair
    ids are verified against a python md5 replay of the sample rule)."""
    import hashlib

    from employee_data_management_system_data_engineering_solution_spark.plans.llm import _RECALL_SAMPLE_N
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    n_docs = _RECALL_SAMPLE_N + 100
    rows = [
        (i, f"unique filler document {i} about topic {i * 7} number {i * 13}")
        for i in range(n_docs)
    ]
    # plant one exact duplicate pair and compute, via the same md5
    # rule, whether BOTH endpoints fall inside the sample
    dup = "an exactly duplicated sentence that the truth set must catch twice over"
    rows[10] = (10, dup)
    rows[20] = (20, dup)
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.method: r
        for r in REGISTRY["dedup_recall_sampled"].fn(spark, str(tmp_path)).collect()
    }
    ranked = sorted(
        range(n_docs),
        key=lambda i: (hashlib.md5(f"drs:{i}".encode()).hexdigest(), i),
    )[:_RECALL_SAMPLE_N]
    in_sample = {10, 20} <= set(ranked)
    want_true = 1 if in_sample else 0
    for r in got.values():
        assert r.n_sample == _RECALL_SAMPLE_N
        assert r.n_true == want_true
    assert got["minhash_lsh_j90"].n_hit == want_true


def test_dedup_recall_curve_matches_python_replay(spark, tmp_path):
    """Band rows equal a python replay over the engine's own verified
    pairs and truth pairs: integer banding, descending cumulative
    sums, recall against |truth|."""
    from collections import Counter

    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    near = dup_a + " extra"
    rows = [(0, dup_a), (1, dup_a), (2, near),
            (3, "some moderately similar text about foxes and dogs running"),
            (4, "entirely unrelated content regarding database partitioning")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        vp = REGISTRY["ngram_jaccard_pairs"].fn(spark, str(tmp_path)).collect()
        truth = {
            (r.id_a, r.id_b)
            for r in REGISTRY["ppjoin_neardup_pairs"].fn(spark, str(tmp_path)).collect()
        }
        got = [
            (r.band_low, r.n_pairs, r.n_hit, r.cum_pairs, r.cum_hit,
             r.cum_recall, r.cum_precision)
            for r in REGISTRY["dedup_recall_curve"].fn(spark, str(tmp_path)).collect()
        ]
    finally:
        _llm._verified_pairs.clear()
        _llm._ppjoin_pairs.clear()
    assert vp and truth  # the corpus actually exercises both pipelines
    bands = Counter()
    hits = Counter()
    for r in vp:
        b = int(round(r.jaccard * 10000)) // 500
        bands[b] += 1
        hits[b] += (r.id_a, r.id_b) in truth
    want = []
    cp = ch = 0
    for b in sorted(bands, reverse=True):
        cp += bands[b]
        ch += hits[b]
        want.append((
            round(b * 0.05, 2), bands[b], hits[b], cp, ch,
            round(ch / len(truth), 6) if truth else None,
            round(ch / cp, 6) if cp else None,
        ))
    assert got == [pytest.approx(w) for w in want]
    # the curve is a curve: more than one band, recall non-decreasing
    assert len(got) >= 2
    recalls = [g[5] for g in got]
    assert recalls == sorted(recalls)


def test_pair_memos_invalidate_on_corpus_rewrite(spark, tmp_path):
    """Advisor r12: the session memos fold a file fingerprint into
    their keys, so REWRITING documents.parquet under the same sf_dir
    within one application serves fresh pairs, not stale ones."""
    import time

    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm

    dup = "the very same duplicated sentence appearing in two documents here"
    df = spark.createDataFrame(
        [(0, dup), (1, dup)], "doc_id LONG, text STRING"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        first = _llm._verified_pairs(spark, str(tmp_path)).count()
        assert first == 1
        time.sleep(0.01)  # ensure a distinct mtime_ns on rewrite
        df2 = spark.createDataFrame(
            [(0, "totally unrelated alpha"), (1, "different content beta")],
            "doc_id LONG, text STRING",
        )
        df2.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
        assert _llm._verified_pairs(spark, str(tmp_path)).count() == 0
    finally:
        _llm._verified_pairs.clear()


def test_dedup_recall_report_planted_duplicates(spark, tmp_path):
    """On a corpus with planted exact duplicate cliques every detector
    recalls the full truth set; counting invariants hold."""
    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "colorless green ideas sleep furiously in the warm summer night"
    uniq = [
        "completely different content about spark partitions and shuffles",
        "yet another unrelated document discussing parquet column pruning",
    ]
    rows = [(0, dup_a), (1, dup_a), (2, dup_a), (3, dup_b), (4, dup_b)]
    rows += [(5 + i, t) for i, t in enumerate(uniq)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        got = {
            r.method: r
            for r in REGISTRY["dedup_recall_report"].fn(spark, str(tmp_path)).collect()
        }
    finally:
        _llm._verified_pairs.clear()
        _llm._ppjoin_pairs.clear()
    assert set(got) == {"containment_c90", "minhash_lsh_j90", "simhash_h3"}
    # truth: 3 pairs in the triple clique + 1 pair in the double
    assert all(r.n_true == 4 for r in got.values())
    for r in got.values():
        assert 0 <= r.n_hit <= min(r.n_pred, r.n_true)
        assert r.recall == pytest.approx(r.n_hit / r.n_true, abs=1e-6)
        if r.n_pred:
            assert r.precision == pytest.approx(r.n_hit / r.n_pred, abs=1e-6)
    # exact copies are unmissable for every detector family
    assert got["minhash_lsh_j90"].recall == 1.0
    assert got["simhash_h3"].recall == 1.0
    assert got["containment_c90"].recall == 1.0


def test_dedup_recall_report_duplicate_free_corpus(spark, tmp_path):
    """A corpus with no near-dups yields an all-zero scorecard with
    NULL ratios (ANSI-safe: the guarded divisions must not raise)."""
    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [
        (i, f"totally unique document number {i} about topic {i * 7} with words {i * 13}")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        got = REGISTRY["dedup_recall_report"].fn(spark, str(tmp_path)).collect()
    finally:
        _llm._verified_pairs.clear()
        _llm._ppjoin_pairs.clear()
    assert len(got) == 3
    for r in got:
        assert (r.n_pred, r.n_true, r.n_hit) == (0, 0, 0)
        assert r.recall is None and r.precision is None


def test_bpe_encode_stats_empty_corpus(spark, tmp_path):
    """An empty corpus encodes to an empty report (training finds no
    merges, the encode chain is a no-op) — no NULL spines, no raise."""
    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    df = spark.createDataFrame([], "doc_id LONG, text STRING, source STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        rows = REGISTRY["bpe_encode_stats"].fn(spark, str(tmp_path)).collect()
    finally:
        _llm._bpe_merges.clear()
    assert rows == []


def test_dedup_recall_report_empty_corpus(spark, tmp_path):
    """An empty corpus yields the same all-zero NULL-ratio scorecard
    as a duplicate-free one (the 0-row truth frame flows through the
    memo and all three detectors without raising)."""
    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    df = spark.createDataFrame([], "doc_id LONG, text STRING")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    try:
        got = REGISTRY["dedup_recall_report"].fn(spark, str(tmp_path)).collect()
    finally:
        _llm._verified_pairs.clear()
        _llm._ppjoin_pairs.clear()
    assert len(got) == 3
    for r in got:
        assert (r.n_pred, r.n_true, r.n_hit) == (0, 0, 0)
        assert r.recall is None and r.precision is None


def test_gate_training_rounds_oracle_empty_corpus_parity(spark, tmp_path):
    """The DuckDB oracle must ALSO train an empty corpus to the zero
    vector (the weight carry coalesces — max() over the empty cross
    join is NULL), matching the Spark rows exactly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    t = pa.table({"doc_id": pa.array([], "int64"), "text": pa.array([], "string")})
    pq.write_table(t, f"{tmp_path}/documents.parquet")  # single file: both engines read it
    srows = sorted(
        REGISTRY["gate_training_rounds"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r.step,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    drows = con.execute(REGISTRY["gate_training_rounds"].oracle_sql).fetchall()
    assert len(srows) == len(drows) == 10
    for s, d in zip(srows, sorted(drows)):
        assert (s.step, s.b0, s.w1, s.w2, s.w3, s.w4) == d[:6]
        assert (s.b0, s.w1, s.w2, s.w3, s.w4) == (0.0,) * 5
        assert s.loss is None and d[6] is None
        assert s.acc is None and d[7] is None


def test_bpe_encode_stats_early_exhausted_training_parity(spark, tmp_path):
    """When training exhausts before 10 rounds (every word fully
    merged), the encoder applies only the learned merges and the
    DuckDB oracle — whose later win{r} CTEs are empty and whose
    replace chain coalesces to chr(1) no-ops — matches exactly."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from employee_data_management_system_data_engineering_solution_spark.plans import llm as _llm
    from employee_data_management_system_data_engineering_solution_spark.plans.registry import REGISTRY

    rows = [(0, "ab ab ab", "web"), (1, "ab x", "books")]
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], "int64"),
            "text": pa.array([r[1] for r in rows], "string"),
            "source": pa.array([r[2] for r in rows], "string"),
        }
    )
    pq.write_table(t, f"{tmp_path}/documents.parquet")
    try:
        merges = _llm._bpe_merges(spark, str(tmp_path))
        got = {
            r.source: r
            for r in REGISTRY["bpe_encode_stats"].fn(spark, str(tmp_path)).collect()
        }
    finally:
        _llm._bpe_merges.clear()
    # training exhausted after the single possible merge
    assert [(m[1], m[2], m[3]) for m in merges] == [("a", "b", "ab")]
    # 'ab' encodes to 1 token, 'x' to 1 token
    assert (got["web"].n_words, got["web"].n_tokens, got["web"].n_chars) == (3, 3, 6)
    assert (got["books"].n_words, got["books"].n_tokens, got["books"].n_chars) == (2, 2, 3)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    drows = {
        r[0]: r for r in con.execute(REGISTRY["bpe_encode_stats"].oracle_sql).fetchall()
    }
    assert set(drows) == set(got)
    for src, r in got.items():
        assert drows[src] == (
            src, r.n_words, r.n_chars, r.n_tokens, r.tokens_per_word, r.chars_per_token
        )
