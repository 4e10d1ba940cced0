"""NULL-parity probe: Spark vs DuckDB on a NULL-injected warehouse.

Builds a copy of an sf warehouse with two appended rows per table in
which every NON-KEY column is NULL (keys get max+1/max+2 so joins and
groupings stay well-formed) — the one-malformed-row-in-100TB scenario —
then runs every oracle-bearing query on BOTH engines and reports each
query as PARITY, DIVERGE (both ran, results differ), SPARK-ERR, or
DUCK-ERR. The r12 hardening fixed every SPARK-ERR (one bad row must
never kill a job); this probe exists to drive the r13 campaign on the
DIVERGE class.

Usage: python tools/null_parity_probe.py [src_sf_dir] [query ...]
"""

from __future__ import annotations

import os
import pathlib
import shutil
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from __spark_entry__ import oracle_sql, queries  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

KEYS: dict[str, set[str]] = {
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


def build_nullrow_wh(src: str, dest: str) -> None:
    for t in TABLES:
        tbl = pq.read_table(f"{src}/{t}.parquet")
        pdf = tbl.to_pandas()
        add = {}
        for f in tbl.schema:
            if f.name in KEYS[t]:
                mx = int(pdf[f.name].max())
                add[f.name] = [mx + 1, mx + 2]
            else:
                add[f.name] = [None, None]
        extra = pa.table({f.name: pa.array(add[f.name], f.type) for f in tbl.schema})
        pq.write_table(pa.concat_tables([tbl, extra]), f"{dest}/{t}.parquet")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Unlike check_oracle's driver-faithful normalizer, EVERY numeric
    column canonicalizes through repr(float): the NULL row forces
    pandas to promote one engine's int column to float64 (4 vs 4.0)
    while the other stays int — a dtype artifact of the probe frame,
    not a value divergence, and this probe measures VALUES."""
    out = pd.DataFrame()
    for c in sorted(df.columns):
        col = df[c]
        if str(col.dtype).startswith(("float", "Float", "int", "Int", "uint")):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        else:
            out[c] = col.map(
                lambda v: "NULL"
                if v is None
                else (repr(float(v)) if isinstance(v, (int, float)) else str(v))
            )
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = tempfile.mkdtemp(prefix="nullrow_wh_")
    dest, tmp = os.path.join(work, "wh"), os.path.join(work, "tmp")
    os.makedirs(dest)
    os.makedirs(tmp)
    # the plans put their work dirs under the temp dir, named after the
    # warehouse; keep them inside ``work`` so they go with it
    tempfile.tempdir = tmp
    try:
        probe(src, dest, set(sys.argv[2:]))
    finally:
        tempfile.tempdir = None
        shutil.rmtree(work, ignore_errors=True)


def probe(src: str, dest: str, only: set[str]) -> None:
    """Build the NULL-injected copy of ``src`` in ``dest`` and report
    every query (or only those in ``only``) on both engines."""
    build_nullrow_wh(src, dest)
    print(f"null-injected warehouse at {dest} (from {src}; removed on exit)")

    from employee_data_management_system_data_engineering_solution_spark import get_session

    spark = get_session("null-parity-probe", master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dest}/{t}.parquet'")
    qs, oracles = queries(), oracle_sql()
    counts: dict[str, list[str]] = {
        "PARITY": [],
        "DIVERGE": [],
        "SPARK-ERR": [],
        "DUCK-ERR": [],
        "ROWS-ONLY": [],
    }
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, dest).toPandas()
        except Exception as e:
            print(f"SPARK-ERR {name}: {str(e).splitlines()[0][:140]}")
            counts["SPARK-ERR"].append(name)
            continue
        if name not in oracles:
            counts["ROWS-ONLY"].append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"DUCK-ERR  {name}: {str(e).splitlines()[0][:140]}")
            counts["DUCK-ERR"].append(name)
            continue
        try:
            good = (
                len(sdf) == len(ddf)
                and sorted(sdf.columns) == sorted(ddf.columns)
                and normalize(sdf).equals(normalize(ddf))
            )
        except Exception as e:
            print(f"CMP-ERR   {name}: {str(e).splitlines()[0][:140]}")
            counts["DIVERGE"].append(name)
            continue
        if good:
            counts["PARITY"].append(name)
        else:
            print(f"DIVERGE   {name}: spark {len(sdf)} rows, duck {len(ddf)} rows")
            counts["DIVERGE"].append(name)
    print()
    for k, v in counts.items():
        print(f"{k}: {len(v)}")
    for k in ("DIVERGE", "SPARK-ERR", "DUCK-ERR"):
        if counts[k]:
            print(f"{k} list: {' '.join(sorted(counts[k]))}")


if __name__ == "__main__":
    main()
