"""Physical-plan audit for every registered query.

For each query: number of Exchange (shuffle) nodes, broadcast
exchanges, WholeStageCodegen spans, whether the parquet scans carry
PushedFilters, and the widest scan's ReadSchema column count — the
four signals that decide 100 TB viability (shuffle count, JVM-side
execution, scan-level filtering, column pruning).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Default sf_dir: /root/testdata/sf0.01 (plans only — nothing executes
except queries whose construction materializes intermediates, e.g.
checkpointed dedup candidates or written-then-read sink round-trips).
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def audit(plan: str) -> dict[str, object]:
    shuffles = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
    broadcasts = plan.count("BroadcastExchange")
    # codegen'd spans print as "*(n) Op" (simple mode) or as explicit
    # WholeStageCodegen wrapper nodes depending on Spark version
    codegen = len(
        set(re.findall(r"\*\((\d+)\)", plan))
        | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    )
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    widest = max((s.count(",") + 1 for s in scans if s), default=0)
    pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
    return {
        "shuffles": shuffles,
        "broadcasts": broadcasts,
        "codegen_spans": codegen,
        "scans": len(scans),
        "widest_scan_cols": widest,
        "pushed_filters": pushed,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from employee_data_management_system_data_engineering_solution_spark import get_session

    spark = get_session(
        "eds-plan-audit",
        master="local[8]",
        shuffle_partitions=8,
        # static plans: with AQE on, executedPlan() is the pre-final
        # adaptive wrapper and hides codegen spans + final join picks
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import queries

    header = f"{'query':34s} {'shuf':>4s} {'bcast':>5s} {'wscg':>4s} {'scans':>5s} {'maxcols':>7s} {'pushed':>6s}"
    print(header)
    print("-" * len(header))
    for name, fn in queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit(plan)
            print(
                f"{name:34s} {a['shuffles']:4d} {a['broadcasts']:5d} {a['codegen_spans']:4d}"
                f" {a['scans']:5d} {a['widest_scan_cols']:7d} {str(a['pushed_filters']):>6s}"
            )
        except Exception as exc:  # keep auditing the rest
            print(f"{name:34s} ERROR {type(exc).__name__}: {str(exc)[:80]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
