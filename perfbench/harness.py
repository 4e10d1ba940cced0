"""Spark-side plumbing shared by the workloads: the engine session, timed
requests, status-store counters, the streaming listener, oracle checks and
memory readings.

Everything here wraps the engine's public surface from the outside
(``session.get_session``, the ``queries()`` functions, the streaming pass
functions); nothing inside the engine is patched.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# small statistics helpers


def pct(values: list[float], q: float) -> float:
    """``q``-quantile (0..1) with linear interpolation; 0.0 when empty."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def interval_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of the machine's CPU ticks since ``since`` that the hypervisor
    gave to other guests.  It rises with the neighbours' load on a shared
    host, which is what moves wall-clock times between runs of the same
    code."""
    stolen, total = cpu_ticks()
    return (stolen - since[0]) / max(1, total - since[1])


# ---------------------------------------------------------------------------
# the engine session


class Engine:
    """One ``local[cores]`` SparkSession built by the engine's own factory,
    with every scratch location pointed inside ``work_dir``.

    While the session runs, this process is pinned to ``cores`` CPUs, and
    so is the JVM it launches (and the JVM's Python workers): the engine
    gets exactly the CPUs its task slots use, and its JIT and GC threads
    are sized to them."""

    def __init__(self, work_dir: str, cores: int):
        self.work_dir = work_dir
        self.cores = cores
        self.spark = None
        self.start_s = 0.0
        self._affinity = None

    def start(self):
        from employee_data_management_system_data_engineering_solution_spark.session import (
            get_session,
        )

        self._affinity = os.sched_getaffinity(0)
        os.sched_setaffinity(0, sorted(self._affinity)[: self.cores])
        tmp = os.path.join(self.work_dir, "tmp")
        t0 = time.perf_counter()
        self.spark = get_session(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                # a fixed 1 GB heap (-Xms below): a growing heap made the
                # peak RSS follow when G1 happened to resize it
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                # the counters read the status store after every request,
                # so a short history is enough and keeps each read cheap
                "spark.ui.retainedJobs": "250",
                "spark.ui.retainedStages": "250",
                "spark.local.dir": os.path.join(self.work_dir, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident memory (MB) of the driver JVM and of this Python
        process."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid()}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return jvm_kb / 1024.0, py_kb / 1024.0

    def stop(self):
        """Stop the session, wait for the JVM process to exit and unpin."""
        if self._affinity is not None:
            os.sched_setaffinity(0, self._affinity)
            self._affinity = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# status-store counters


STAGE_SUMS = {
    "spark.task_run_s": ("executorRunTime", 1e-3),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.jvm_gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
}


class StatusCounters:
    """Reads jobs and stages from the driver's in-process status store
    (works with ``spark.ui.enabled=false``).  ``take()`` returns what is
    new since the previous call, so it must be called after every request:
    the store retains only the newest 1,000 jobs and stages."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._store = sc._jsc.sc().statusStore()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = (
            self._jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$")
            .get(None)
        )
        mapper.registerModule(scala_module)
        self._mapper = mapper
        self._last_job = -1
        self._last_stage = -1
        self.hook_s = 0.0  # time spent reading the store

    def _newer(self, seq, key: str, last: int) -> list[dict]:
        """Entries of a status-store list (newest id first) with id > last,
        serialized in one JVM call."""
        if seq.size() == 0:
            return []
        newest = json.loads(self._mapper.writeValueAsString(seq.apply(0)))[key]
        if newest <= last:
            return []
        return [e for e in json.loads(self._mapper.writeValueAsString(seq.take(newest - last))) if e[key] > last]

    def take(self) -> tuple[list[dict], list[dict]]:
        t0 = time.perf_counter()
        empty = self._jvm.java.util.ArrayList
        jobs = self._newer(self._store.jobsList(empty()), "jobId", self._last_job)
        stages = self._newer(
            self._store.stageList(empty(), False, False, self._gw.new_array(self._jvm.double, 0), empty()),
            "stageId",
            self._last_stage,
        )
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        if stages:
            self._last_stage = max(s["stageId"] for s in stages)
        self.hook_s += time.perf_counter() - t0
        return jobs, stages


@dataclass
class Counters:
    """Sums of Spark counters over a set of requests."""

    values: dict[str, float] = field(default_factory=dict)

    def add(self, name: str, value: float):
        self.values[name] = self.values.get(name, 0.0) + value

    def add_stages(self, stages: list[dict]):
        ran = [s for s in stages if s.get("status") != "SKIPPED"]
        self.add("spark.stages", len(ran))
        self.add("spark.tasks", sum(s.get("numCompleteTasks", 0) for s in ran))
        for name, (key, scale) in STAGE_SUMS.items():
            self.add(name, sum((s.get(key) or 0) for s in ran) * scale)


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    """(submission, completion) wall-clock seconds of each finished job."""
    return [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]


# ---------------------------------------------------------------------------
# timed requests


@dataclass
class Span:
    """One request: construct -> plan -> execute, wall-clock seconds."""

    name: str
    op: str
    module: str
    start: float
    constructed: float
    planned: float
    end: float
    eager_jobs: int = 0
    exec_jobs: int = 0
    driver_gap_s: float = 0.0
    ok: bool = True

    @property
    def latency(self) -> float:
        return self.end - self.start


def run_request(spark, name: str, fn, sf_dir: str, op: str, counters: StatusCounters | None, totals: Counters):
    """Run one query request and return ``(span, pandas_result)``.

    Construction is the query function call (including its eager driver
    actions), planning forces Catalyst to the physical plan, execution
    collects the result to pandas.  With ``counters`` the jobs and stages
    launched inside the request window are attributed to it."""
    module = fn.__module__.rsplit(".", 1)[-1]
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    df._jdf.queryExecution().executedPlan()
    t2 = time.time()
    pdf = df.toPandas()
    t3 = time.time()
    span = Span(name, op, module, t0, t1, t2, t3)
    if counters is not None:
        jobs, stages = counters.take()
        span.eager_jobs = sum(1 for j in jobs if j.get("submissionTime", 0) / 1000.0 < t1)
        span.exec_jobs = len(jobs) - span.eager_jobs
        span.driver_gap_s = span.latency - interval_union(job_intervals(jobs), t0, t3)
        totals.add_stages(stages)
    return span, pdf


PLANS_MODULES = ("core", "curation", "llm", "pipeline", "temporal")


def request_metrics(spans: list[Span], traced: bool) -> dict[str, float]:
    """Per-layer request metrics, summed over ``spans``.  ``plans.*`` counts
    only the query functions of the plans modules."""
    out: dict[str, float] = {}
    plans = [s for s in spans if s.module in PLANS_MODULES]
    out["plans.construct_s"] = sum(s.constructed - s.start for s in plans)
    for module in PLANS_MODULES:
        out[f"plans.{module}.construct_s"] = sum(s.constructed - s.start for s in plans if s.module == module)
    out["catalyst.plan_s"] = sum(s.planned - s.constructed for s in spans)
    out["exec.run_s"] = sum(s.end - s.planned for s in spans)
    writes = [s for s in spans if s.op == "write"]
    out["write.construct_s"] = sum(s.constructed - s.start for s in writes)
    out["write.exec_s"] = sum(s.end - s.planned for s in writes)
    if traced:
        out["plans.eager_jobs"] = sum(s.eager_jobs for s in plans)
        out["exec.jobs"] = sum(s.exec_jobs for s in spans)
        out["plans.driver_gap_s"] = sum(s.driver_gap_s for s in plans)
    out["requests"] = float(len(spans))
    out["read_requests"] = float(len(spans) - len(writes))
    out["write_requests"] = float(len(writes))
    return out


# ---------------------------------------------------------------------------
# oracle checks


class Oracle:
    """DuckDB twins of ``oracle_sql()`` queries over parquet views, compared
    with ``tools/check_oracle.py``'s normalization."""

    def __init__(self, views: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for name, files in views.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{files}')")
        self._expected: dict[str, object] = {}

    def matches(self, name: str, sql: str, got) -> bool:
        from tools.check_oracle import normalize

        if name not in self._expected:
            self._expected[name] = normalize(self.con.execute(sql).df())
        want = self._expected[name]
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            return False
        return normalize(got).equals(want)


# ---------------------------------------------------------------------------
# streaming progress


class ProgressLog:
    """Collects ``StreamingQueryProgress`` events from a listener.

    The listener bus delivers events asynchronously and possibly out of
    order, so callers wait for the batches they expect by batch id."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                record = progress_record(event.progress)
                with log._lock:
                    log.progress.append(record)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def wait_batches(self, query_id: str, n: int, timeout: float = 30.0) -> list[dict]:
        """Progress of batches ``0..n-1`` of ``query_id`` that read input,
        in batch order."""
        deadline = time.time() + timeout
        while True:
            with self._lock:
                got = {p["batch"]: p for p in self.progress if p["id"] == query_id and p["rows"] > 0}
            if all(b in got for b in range(n)) or time.time() > deadline:
                return [got[b] for b in sorted(got)]
            time.sleep(0.01)

    def close(self):
        self._spark.streams.removeListener(self._listener)


def _iso_seconds(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_record(p) -> dict:
    durations = dict(p.durationMs or {})
    start = _iso_seconds(p.timestamp)
    ops = list(p.stateOperators or [])
    return {
        "id": str(p.id),
        "batch": int(p.batchId),
        "start": start,
        "end": start + durations.get("triggerExecution", 0) / 1000.0,
        "rows": int(p.numInputRows),
        "durations": durations,
        "state_rows": sum(int(o.numRowsTotal) for o in ops),
        "state_mem": sum(int(o.memoryUsedBytes) for o in ops),
        "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
    }
