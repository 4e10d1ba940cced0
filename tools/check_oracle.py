"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given scale factor, then compares row count, column
names, and an order-insensitive value comparison. Float columns that
fail the exact (repr) comparison get a second, tolerant pass
(np.isclose after sorting) so the report distinguishes "rounding-edge
hazard" from "genuinely different values". List-typed result columns
are reported as gate hazards: the driver's canonicalizer crashes on
them (pandas sort → unhashable 'list'), so they fail the REAL gate
even though values may be fine.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import pathlib
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from __spark_entry__ import oracle_sql, queries  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def list_columns(df: pd.DataFrame) -> list[str]:
    """Columns holding list/array cells — these crash the driver's
    canonicalizer and must be stringified in the registered query."""
    return [
        c
        for c in df.columns
        if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any()
    ]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical string form, stable across engines for equal values
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            out[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith(("float", "Float")):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif str(col.dtype).startswith("datetime"):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else v.isoformat())
        else:
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def float_close_report(sdf: pd.DataFrame, ddf: pd.DataFrame, col: str) -> str:
    """Tolerant second pass on an exact-mismatched float column."""
    a = np.sort(sdf[col].astype(float).to_numpy())
    b = np.sort(ddf[col].astype(float).to_numpy())
    if len(a) != len(b):
        return "length mismatch"
    close = np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
    if close.all():
        return "all values within 1e-9 — rounding-edge hazard (fix round() parity)"
    worst = float(np.nanmax(np.abs(a - b)))
    return f"{int((~close).sum())}/{len(a)} beyond 1e-9, worst |Δ|={worst:g}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from employee_data_management_system_data_engineering_solution_spark import get_session

    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            continue
        hazards = list_columns(sdf)
        if hazards:
            print(
                f"FAIL {name}: list-typed columns {hazards} crash the driver "
                "canonicalizer — stringify them in the registered query"
            )
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            continue

        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        if not problems:
            ns, nd = normalize(sdf), normalize(ddf)
            if not ns.equals(nd):
                diff_cols = [c for c in ns.columns if not ns[c].equals(nd[c])]
                problems.append(f"values differ in {diff_cols}")
                for c in diff_cols[:3]:
                    if str(sdf[c].dtype).startswith(("float", "Float")):
                        problems.append(f"  {c} (float): {float_close_report(sdf, ddf, c)}")
                    mask = ns[c] != nd[c]
                    ex = pd.DataFrame(
                        {"spark": ns[c][mask].head(3), "duck": nd[c][mask].head(3)}
                    )
                    problems.append(f"  {c}:\n{ex.to_string()}")
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "\n".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")

    # denominator is EXECUTED queries, not the registry — a filtered run
    # of 3 queries must say "3/3 ok", never "82/82 ok"
    print(f"\n{n_run - len(failures)}/{n_run} ok; failures: {failures or 'none'}")
    if only:
        skipped = only - set(qs)
        if skipped:
            print(f"WARNING: {sorted(skipped)} not in the registry — not run")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
