"""Per-query optimization profiler (guide §1): times individual
registered queries through the noop sink in a bench-identical session
and captures ``explain("formatted")`` for each.

Usage: python tools/profile_queries.py [--plans DIR] [--runs N] [--sf SF_DIR] query ...
       python tools/profile_queries.py --all            # every registered query

For each query: one warm run at sf0.001 (JIT/codegen), then N timed
noop runs at the bench SF; prints per-run seconds and the min. With
``--plans DIR`` the formatted plan (built against the bench SF) is
written to ``DIR/<query>.txt``.

The session comes from bench.py's ``bench_session`` so the numbers are
comparable; jobs are labelled with setJobDescription for UI reading.
Every non-snapshot session memo is cleared before each run, as bench.py
does before each pass.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--plans", default=None, help="directory for explain output")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--json", default=None, help="write {query: min_sec} to this file")
    args = ap.parse_args()

    from bench import bench_session

    spark = bench_session("eds-profile")

    from __spark_entry__ import queries
    from employee_data_management_system_data_engineering_solution_spark.plans.memo import (
        clear_session_memos,
    )

    qs = queries()
    names = list(qs) if args.all else args.queries
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    warm_sf = "/root/testdata/sf0.001"
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    out: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        if not args.no_warm:
            try:
                clear_session_memos()
                fn(spark, warm_sf).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"warm {name} failed: {exc}", file=sys.stderr)
        if args.plans:
            try:
                clear_session_memos()
                buf = io.StringIO()
                with redirect_stdout(buf):
                    fn(spark, args.sf).explain("formatted")
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
            except Exception as exc:
                print(f"explain {name} failed: {exc}", file=sys.stderr)
        times = []
        for i in range(args.runs):
            clear_session_memos()
            spark.sparkContext.setJobDescription(f"profile:{name}#{i}")
            t0 = time.perf_counter()
            try:
                fn(spark, args.sf).write.format("noop").mode("overwrite").save()
                times.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:
                print(f"{name} run {i} FAILED: {exc}", file=sys.stderr)
                times.append(-1.0)
            spark.sparkContext.setJobDescription(None)
        ok = [t for t in times if t >= 0]
        out[name] = min(ok) if ok else -1.0
        print(f"{name}: runs={times} min={out[name]}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
