"""Driver contract: entry() returns rows, oracle_sql() keys are a
subset of queries(), and every registered query matches its DuckDB
oracle exactly at sf0.001 (rows-only queries must return rows)."""

from __future__ import annotations

import duckdb
import pytest

from __spark_entry__ import SMOKE_SF_DIR, entry, oracle_sql, queries
from tools.check_oracle import TABLES, list_columns, normalize

QUERIES, ORACLES = queries(), oracle_sql()


def test_entry_smoke(spark):
    df = entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_oracle_keys_subset_of_queries(spark):
    qs, oracles = queries(), oracle_sql()
    assert set(oracles) <= set(qs)
    # non-SQL-expressible ops are known and deliberate
    # (strike_stream_stateful gained a closed-form batch oracle in r4;
    # multimodal_decode a byte-statistics oracle in r5 — simhash's
    # blake2b stays SQL-inexpressible and is pinned by a pure-Python
    # reference implementation in test_dedup.py instead)
    # column_profile_approx / salary_percentiles_approx: sketch
    # estimates (HLL++, Greenwald-Khanna) are engine-specific; their
    # exact-statistics parity and error bounds are pytest-asserted
    assert set(qs) - set(oracles) == {
        "simhash_signatures",
        "column_profile_approx",
        "salary_percentiles_approx",
    }


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SMOKE_SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SMOKE_SF_DIR).toPandas()
    assert not list_columns(sdf), "list-typed columns cannot be sorted for comparison"
    oracle = ORACLES.get(name)
    if oracle is None:
        assert len(sdf) > 0
        return
    ddf = duck.execute(oracle).df()
    assert len(sdf) == len(ddf)
    assert set(sdf.columns) == set(ddf.columns)
    ns, nd = normalize(sdf), normalize(ddf)
    assert ns.equals(nd), [c for c in ns.columns if not ns[c].equals(nd[c])]
