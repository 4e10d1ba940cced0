"""Salted join: result parity with the plain join under heavy skew."""

from __future__ import annotations

from pyspark.sql import Row

from employee_data_management_system_data_engineering_solution_spark.operators.joins import (
    salted_join,
)


def test_salted_join_equals_plain_join(spark):
    # 90% of fact rows share one hot key
    fact = spark.createDataFrame(
        [Row(k=1, v=i) for i in range(90)] + [Row(k=i % 5 + 2, v=i) for i in range(10)]
    )
    dim = spark.createDataFrame([Row(k=i, name=f"d{i}") for i in range(1, 7)])
    plain = sorted(map(tuple, fact.join(dim, on="k").collect()))
    salted = sorted(map(tuple, salted_join(fact, dim, ["k"], salts=4).collect()))
    assert salted == plain


def test_salted_join_spreads_hot_key(spark):
    fact = spark.createDataFrame([Row(k=1, v=i) for i in range(100)])
    dim = spark.createDataFrame([Row(k=1, name="hot")])
    out = salted_join(fact, dim, ["k"], salts=8)
    assert out.count() == 100
    # the salt must actually take multiple values for the hot key
    n_salts = (
        fact.selectExpr("pmod(xxhash64(k, v), 8) as s").select("s").distinct().count()
    )
    assert n_salts > 1
