"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Reads the fixture tables under
``perfbench/data/``, derives request order and streamed events from the
seed, keeps every scratch file under ``.perfbench_work/`` (removed
afterwards), runs the engine in one process (``local[2]`` pinned to two
CPUs for employee_etl, ``local[4]`` for strike_stream), checks every output
against its DuckDB oracle and prints one JSON object as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans and Spark counters read after every request).  Metric names,
units and what each is meant to move are listed in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):  # the engine and the benchmark's own modules
    if _p not in sys.path:
        sys.path.insert(0, _p)

#: end-to-end metrics, reported by every workload with --trace 0:
#: name -> (unit, better).  Each is measured on every workload; where the
#: paper's metric belongs to one workload, the other's reading is the same
#: idea in its own terms:
#:
#: ====================  ===============================  =============================
#: metric                employee_etl                     strike_stream
#: ====================  ===============================  =============================
#: setup_s               session start + warm pass of every query at sf0.001 (both)
#: wall_s                the request sequence             first file due -> burst drained
#: read_latency_p50_s    requests that persist nothing    alert-table read after a pass
#: write_latency_p50_s   requests that persist files      micro-batches (state + sink)
#: latency_p90_s         all requests                     alert latency
#: alert_latency_p50_s   strike_report_batch requests     newest event created -> batch end
#: alert_latency_p99_s   strike_report_batch requests     newest event created -> batch end
#: drain_events_per_s    requests completed per second    burst events drained per second
#: peak_rss_mb           peak RSS of the driver JVM plus Python (both)
#: ====================  ===============================  =============================
#:
#: strike_report_batch is the batch twin of the stream's strike monitor; its
#: p99 rests on its twelve requests, so on employee_etl it is near their
#: maximum.
#:
#: Failed or wrong requests are the result line's ``failed``/``attempted``
#: (and ``error_rate`` in the traced run): on a correct tree the rate is 0,
#: and an end-to-end metric must never read 0.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "read_latency_p50_s": ("s", "lower"),
    "write_latency_p50_s": ("s", "lower"),
    "latency_p90_s": ("s", "lower"),
    "alert_latency_p50_s": ("s", "lower"),
    "alert_latency_p99_s": ("s", "lower"),
    "drain_events_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

_ETL_LAT = "read_latency_p50_s/latency_p90_s on employee_etl"
_ETL_WALL = "wall_s on employee_etl"
_STREAM = "alert_latency_p50_s/alert_latency_p99_s/drain_events_per_s on strike_stream"

#: per-layer metrics, reported by every workload with --trace 1 (0 where a
#: layer is not on the workload's path): name -> (unit, better, the
#: end-to-end metric it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s on all workloads"),
    "session.warm_s": ("s", "lower", "setup_s on all workloads"),
    "memory.jvm_peak_mb": ("MB", "lower", "peak_rss_mb"),
    "memory.python_peak_mb": ("MB", "lower", "peak_rss_mb"),
    "plans.construct_s": ("s", "lower", f"{_ETL_LAT}; {_ETL_WALL}"),
    "plans.eager_jobs": ("count", "lower", f"{_ETL_LAT}; {_ETL_WALL}"),
    "plans.driver_gap_s": ("s", "lower", f"{_ETL_LAT}; {_ETL_WALL}"),
    "plans.core.construct_s": ("s", "lower", _ETL_LAT),
    "plans.curation.construct_s": ("s", "lower", _ETL_LAT),
    "plans.llm.construct_s": ("s", "lower", _ETL_WALL),
    "plans.pipeline.construct_s": ("s", "lower", _ETL_LAT),
    "plans.temporal.construct_s": ("s", "lower", _ETL_LAT),
    "catalyst.plan_s": ("s", "lower", f"{_ETL_LAT}; predicted about 2 % of request time"),
    "exec.run_s": ("s", "lower", _ETL_WALL),
    "exec.jobs": ("count", "lower", _ETL_WALL),
    "spark.stages": ("count", "lower", _ETL_WALL),
    "spark.tasks": ("count", "lower", _ETL_WALL),
    "spark.task_run_s": ("s", "lower", _ETL_WALL),
    "spark.task_cpu_s": ("s", "lower", _ETL_WALL),
    "spark.jvm_gc_s": ("s", "lower", _ETL_WALL),
    "spark.shuffle_read_bytes": ("bytes", "lower", _ETL_WALL),
    "spark.shuffle_write_bytes": ("bytes", "lower", _ETL_WALL),
    "spark.spill_bytes": ("bytes", "lower", _ETL_WALL),
    "spark.input_bytes": ("bytes", "lower", _ETL_WALL),
    "spark.output_bytes": ("bytes", "lower", "write_latency_p50_s on employee_etl"),
    "spark.slot_busy_frac": ("ratio", "higher", "low: attack the plans group; high: the exec group"),
    "write.construct_s": ("s", "lower", "write_latency_p50_s on employee_etl"),
    "write.exec_s": ("s", "lower", "write_latency_p50_s on employee_etl"),
    "requests": ("count", "higher", "sample count of the request latencies"),
    "read_requests": ("count", "higher", "sample count of read_latency_p50_s"),
    "write_requests": ("count", "higher", "sample count of write_latency_p50_s on employee_etl"),
    "latency_samples": ("count", "higher", "sample count of latency_p90_s/alert_latency_*"),
    "streaming.passes": ("count", "higher", _STREAM),
    "streaming.batches": ("count", "higher", f"{_STREAM}; sample count of write_latency_p50_s"),
    "streaming.input_rows": ("count", "higher", _STREAM),
    "streaming.pass_start_s": ("s", "lower", _STREAM),
    "streaming.trigger_ms_p50": ("ms", "lower", _STREAM),
    "streaming.add_batch_ms_p50": ("ms", "lower", _STREAM),
    "streaming.wal_commit_ms_p50": ("ms", "lower", _STREAM),
    "streaming.commit_offsets_ms_p50": ("ms", "lower", _STREAM),
    "streaming.state_rows": ("count", "lower", _STREAM),
    "streaming.state_mem_bytes": ("bytes", "lower", _STREAM),
    "streaming.state_commit_ms_p50": ("ms", "lower", _STREAM),
    "streaming.backlog_files_max": ("count", "lower", f"{_STREAM}; the run is invalid above 2"),
    "streaming.generator_late_s_max": ("s", "lower", "validity of a strike_stream run (invalid above 1 s)"),
    "error_rate": ("ratio", "lower", "correct/failed of every workload"),
    "check.oracle_mismatches": ("count", "lower", "correct/failed of every workload"),
    "trace.wall_s": ("s", "lower", "tracing overhead: trace.wall_s minus the untraced wall_s"),
    "trace.hook_s": ("s", "lower", "tracing overhead: time spent reading the status store"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def report(result, trace: bool) -> dict:
    """The result line: end-to-end metrics, or per-layer ones when traced."""
    if trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update({k: v for k, v in result.layers.items() if k in PER_LAYER})
        values["error_rate"] = result.failed / result.attempted
        values["trace.wall_s"] = result.wall_s
        table = PER_LAYER
    else:
        values = {"setup_s": result.setup_s, "wall_s": result.wall_s, **result.e2e}
        table = END_TO_END
    return {
        "correct": result.failed == 0 and result.valid,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": float(values[k]), "unit": table[k][0]} for k in table},
    }


def run_workload(workload: str, seed: int, seconds: int, trace: bool):
    """Run one workload with every scratch file (Spark, the engine's temp
    dirs, streamed inputs) inside the checkout, then remove them."""
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # Spark's Python workers (applyInPandasWithState, UDFs) import the engine
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    saved_env = {k: os.environ.get(k) for k in env}
    saved_tempdir = tempfile.tempdir
    os.environ.update(env)
    tempfile.tempdir = tmp
    try:
        return workloads.RUNNERS[workload](seed, seconds, trace, work)
    finally:
        tempfile.tempdir = saved_tempdir
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    import workloads

    if args.workload not in workloads.RUNNERS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.RUNNERS)}", file=sys.stderr)
        return 2
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(
        f"{args.workload} seed={args.seed}: setup {result.setup_s:.3f}s, wall {result.wall_s:.3f}s, "
        f"{int(result.layers['latency_samples'])} latency samples, {result.attempted} attempted, "
        f"{result.failed} failed, host steal {result.steal_frac:.1%}"
    )
    requests = [s for s in result.spans if "latency" in s]
    if requests:
        print("requests: " + " ".join(f"{s['name']}={s['latency']:.3f}" for s in requests))
    if args.trace:
        for span in result.spans:
            print(json.dumps(span), file=sys.stderr)
    print(json.dumps(report(result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
