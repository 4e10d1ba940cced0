"""The benchmark's workloads.

``employee_etl``  closed loop, one client: a seeded, cadence-weighted
                  sequence of the paper's daily/monthly/yearly jobs at
                  sf0.01, on two CPUs; the yearly job is a corpus-curation
                  step.
``strike_stream`` open loop: a generator thread stages seeded event files
                  on a fixed schedule while the consumer runs the stateful
                  strike pass back to back on one durable checkpoint and
                  reads the alert table after each pass; then a burst of
                  files is staged at once and drained.  On four CPUs.

The warehouse tables are the project's fixture tables, copied under
``perfbench/data/``; the seed drives only the request order and the
streamed events.  Each ``run_*`` returns a :class:`Result`.  The request
sequence and the event files are pure functions of the seed, so they can
be tested without Spark.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
import dataclasses
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
WARM_SF = "0.001"
ETL_SF = "0.01"


def sf_dir(sf: str) -> str:
    return os.path.join(DATA, f"sf{sf}")


# ---------------------------------------------------------------------------
# employee_etl

#: request type -> (cadence, op).  ``write`` requests persist files; the
#: rest are ``read``.  The yearly job is the corpus-curation step.
#: ``strike_report_batch`` is the batch twin of the stream's strike monitor,
#: so its latency is employee_etl's alert latency.
ETL_QUERIES: dict[str, tuple[str, str]] = {
    "epoch_status_clean": ("daily", "read"),
    "active_count_by_designation": ("daily", "read"),
    "partition_pruned_report": ("daily", "write"),
    "strike_report_batch": ("daily", "read"),
    "scd2_merge": ("monthly", "read"),
    "salary_percentiles": ("monthly", "read"),
    "published_report_roundtrip": ("monthly", "write"),
    "minhash_lsh_groups": ("yearly", "read"),
}
ETL_ALERT = "strike_report_batch"
#: CPUs (and task slots) of the employee_etl session.  Its requests are
#: chains of small jobs, so on four CPUs they mostly wait for idle CPUs to
#: be woken, and on a shared host that wait swings with the neighbours'
#: load: same-code runs spread about 25 % there, 7 % on two CPUs.
ETL_CORES = 2
#: times each request type of a cadence appears in the sequence.  With
#: these weights each latency median falls inside a run of one request
#: type, not on the boundary between a cheap and a dearer type, where it
#: would jump between them from run to run.
CADENCE_WEIGHT = {"daily": 6, "monthly": 3, "yearly": 1}


#: cycles in a run; each sends every query ``CADENCE_WEIGHT`` times, so the
#: alert report has twelve samples and the p90 falls inside the slowest
#: types' requests
ETL_CYCLES = 2


def etl_sequence(seed: int) -> list[str]:
    """The request sequence: ``ETL_CYCLES`` cycles, each every query
    ``CADENCE_WEIGHT[cadence]`` times in a seeded order.  Every seed sends
    the same multiset."""
    names = [q for q, (cad, _) in ETL_QUERIES.items() for _ in range(CADENCE_WEIGHT[cad])]
    rng = random.Random(seed)
    return [q for _ in range(ETL_CYCLES) for q in rng.sample(names, len(names))]


@dataclass
class Result:
    setup_s: float
    wall_s: float
    #: name -> value of every end-to-end metric but setup_s and wall_s
    e2e: dict[str, float]
    attempted: int
    failed: int
    valid: bool = True
    #: share of the machine's CPU time the hypervisor took for other guests
    #: during the timed region (a reading of the host, not of the program)
    steal_frac: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    #: one record per request, stream pass and micro-batch (written out by
    #: traced runs)
    spans: list[dict] = field(default_factory=list)


def run_employee_etl(seed: int, seconds: int, trace: bool, work: str) -> Result:
    """Set up (session start plus a warm pass of every query at WARM_SF and
    one at ETL_SF), send the sequence at ETL_SF and check each result
    against its oracle after the timed region.  ``seconds`` is unused: the
    sequence is a fixed amount of work."""
    from __spark_entry__ import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    sequence = etl_sequence(seed)
    data = sf_dir(ETL_SF)

    engine = harness.Engine(work, ETL_CORES)
    try:
        spark = engine.start()
        t0 = time.perf_counter()
        # after a pass at WARM_SF alone the JIT still compiles through the
        # first pass at ETL_SF (twice the JVM CPU time of later passes), so
        # set-up also runs every query once at ETL_SF
        for sf in (WARM_SF, ETL_SF):
            for name in ETL_QUERIES:
                qs[name](spark, sf_dir(sf)).toPandas()
        warm_s = time.perf_counter() - t0

        counters = harness.StatusCounters(spark) if trace else None
        if counters is not None:
            counters.take()  # everything so far belongs to set-up
        totals = harness.Counters()
        spans: list[harness.Span] = []
        results = []
        failed = 0
        ticks = harness.cpu_ticks()
        start = time.perf_counter()
        for name in sequence:
            try:
                span, pdf = harness.run_request(spark, name, qs[name], data, ETL_QUERIES[name][1], counters, totals)
            except Exception as exc:  # a failed request counts, the run goes on
                print(f"request {name} failed: {exc!r}"[:400], flush=True)
                failed += 1
                continue
            spans.append(span)
            results.append((span, pdf))
        wall = time.perf_counter() - start
        steal = harness.steal_share(ticks)
        rss_mb = engine.peak_rss_mb()
        hook_s = counters.hook_s if counters is not None else 0.0
    finally:
        engine.stop()

    oracle = harness.Oracle({t: os.path.join(data, f"{t}.parquet") for t in TABLES})
    mismatches = 0
    for span, pdf in results:
        span.ok = span.name in oracles and oracle.matches(span.name, oracles[span.name], pdf)
        if not span.ok:
            mismatches += 1
            print(f"oracle mismatch: {span.name}", flush=True)
    failed += mismatches

    latencies = [s.latency for s in spans]
    layers = harness.request_metrics(spans, trace)
    layers.update(totals.values)
    layers.update(
        {
            "session.start_s": engine.start_s,
            "session.warm_s": warm_s,
            "memory.jvm_peak_mb": rss_mb[0],
            "memory.python_peak_mb": rss_mb[1],
            "latency_samples": float(len(latencies)),
            "check.oracle_mismatches": float(mismatches),
            "trace.hook_s": hook_s,
        }
    )
    if trace:
        layers["spark.slot_busy_frac"] = layers.get("spark.task_run_s", 0.0) / (wall * engine.cores)
    return Result(
        setup_s=engine.start_s + warm_s,
        wall_s=wall,
        e2e={
            "read_latency_p50_s": harness.median([s.latency for s in spans if s.op == "read"]),
            "write_latency_p50_s": harness.median([s.latency for s in spans if s.op == "write"]),
            "latency_p90_s": harness.pct(latencies, 0.9),
            "alert_latency_p50_s": harness.median([s.latency for s in spans if s.name == ETL_ALERT]),
            "alert_latency_p99_s": harness.pct([s.latency for s in spans if s.name == ETL_ALERT], 0.99),
            "drain_events_per_s": len(spans) / wall,
            "peak_rss_mb": sum(rss_mb),
        },
        attempted=len(sequence),
        failed=failed,
        steal_frac=steal,
        layers=layers,
        spans=[{**dataclasses.asdict(s), "latency": s.latency} for s in spans],
    )


# ---------------------------------------------------------------------------
# strike_stream

STREAM_EMPLOYEES = 1500
STREAM_EVENTS_PER_FILE = 3000
STREAM_FLAG_SHARE = 0.2
STREAM_INTERVAL_S = 4.5
#: the burst: enough files that the pass start is a small part of the drain
STREAM_BURST_FILES = 4
STREAM_WARM_FILES = 4
#: CPUs (and task slots) of the strike_stream session: on two or three a
#: pass took 3-5 s instead of 2.4 s (measured before the heap was fixed at
#: 1 GB) and the consumer fell behind the schedule
STREAM_CORES = 4
#: event time advances VIRTUAL_DAYS per interval so monthly cooldowns occur
STREAM_VIRTUAL_DAYS = 10
STREAM_BASE = np.datetime64("2024-01-01T00:00:00", "us")
_INTERVAL_US = STREAM_VIRTUAL_DAYS * 86_400 * 1_000_000
#: a run is invalid if the generator publishes a file later than this
MAX_GENERATOR_LATE_S = 1.0
#: ... or if more files than this wait at the start of a pass
MAX_BACKLOG_FILES = 2


def _fixture_events() -> pa.Table:
    return pq.read_table(os.path.join(sf_dir(WARM_SF), "events.parquet"))


def stream_events(seed: int, index: int, n: int | None = None) -> pa.Table:
    """Events created during schedule interval ``index``, with the fixture
    ``events`` schema and event types: ``ts`` is the scheduled creation time
    mapped onto event time, so a file depends only on ``(seed, index)``."""
    n = n or STREAM_EVENTS_PER_FILE
    fixture = _fixture_events()
    rng = np.random.default_rng([seed, index])
    ts = STREAM_BASE + ((index + np.sort(rng.random(n))) * _INTERVAL_US).astype("timedelta64[us]")
    others = np.asarray(sorted(set(fixture.column("event_type").to_pylist()) - {"error"}), dtype=object)
    flagged = rng.random(n) < STREAM_FLAG_SHARE
    kinds = np.where(flagged, "error", others[rng.integers(0, len(others), n)])
    columns = {
        "event_id": np.arange(index * n, (index + 1) * n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, STREAM_EMPLOYEES, n).astype(np.int64),
        "event_type": kinds.astype(object),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }
    schema = fixture.schema.remove_metadata()
    return pa.table({f.name: pa.array(columns[f.name], f.type) for f in schema}, schema=schema)


def interval_of(ts_us: np.ndarray) -> np.ndarray:
    """Schedule position (in intervals) of event-time stamps."""
    return (ts_us - STREAM_BASE.astype(np.int64)) / _INTERVAL_US


def stage_file(stage_dir: str, table: pa.Table, index: int) -> str:
    """Write then rename, so the file source never sees a partial file."""
    tmp = os.path.join(stage_dir, f".part-{index:05d}.parquet")
    final = os.path.join(stage_dir, f"events-{index:05d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


class Generator(threading.Thread):
    """Stages file ``k`` at ``start + (k + 1) * interval`` regardless of how
    the consumer is doing, and records how late each file went out."""

    def __init__(self, seed: int, stage_dir: str, n_files: int, start: float):
        super().__init__(daemon=True)
        self.stage_dir, self.start_at = stage_dir, start
        self.tables = [stream_events(seed, k) for k in range(n_files)]
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for k, table in enumerate(self.tables):
                due = self.start_at + (k + 1) * STREAM_INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                stage_file(self.stage_dir, table, k)
                self.late_s.append(time.time() - due)
        except BaseException as exc:  # surfaced by the consumer after join
            self.error = exc


def alert_latencies(tables: list[pa.Table], batch_ends: list[float], start: float) -> list[float]:
    """Per emitted state row: end of the batch that consumed the file minus
    the scheduled creation time of the employee's newest event in it."""
    out: list[float] = []
    for table, end in zip(tables, batch_ends):
        users = table.column("user_id").to_numpy()
        ts = table.column("ts").cast(pa.int64()).to_numpy()
        order = np.lexsort((ts, users))
        last = np.r_[users[order][1:] != users[order][:-1], True]
        created = start + interval_of(ts[order][last]) * STREAM_INTERVAL_S
        out += list(end - created)
    return out


def _committed(ckpt_dir: str) -> int:
    """Micro-batches committed to the checkpoint so far (one per file)."""
    return sum(1 for f in glob.glob(os.path.join(ckpt_dir, "commits", "*")) if f.rsplit(os.sep, 1)[-1].isdigit())


def _query_id(ckpt_dir: str) -> str:
    with open(os.path.join(ckpt_dir, "metadata")) as fh:
        return json.loads(fh.readline())["id"]


def run_strike_stream(seed: int, seconds: int, trace: bool, work: str) -> Result:
    """Set up (session start plus ``STREAM_WARM_FILES`` warm passes, each
    followed by a state read), run the open loop for ``seconds`` of schedule, then the
    burst; check the final state against the oracle over every staged
    file."""
    from employee_data_management_system_data_engineering_solution_spark.plans import REGISTRY
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_strike_pass,
        strike_final_state,
    )

    n_files = max(2, round(seconds / STREAM_INTERVAL_S))
    n_total = n_files + STREAM_BURST_FILES
    dirs = {k: os.path.join(work, k) for k in ("warm_stage", "warm_ckpt", "warm_out", "stage", "ckpt", "out")}
    for d in ("warm_stage", "stage"):
        os.makedirs(dirs[d])

    engine = harness.Engine(work, STREAM_CORES)
    passes: list[tuple[float, float]] = []
    reads: list[harness.Span] = []
    backlog: list[int] = []
    try:
        spark = engine.start()
        t0 = time.perf_counter()
        log = harness.ProgressLog(spark)
        # warm-up as in the open loop: a pass per file, each followed by a
        # state read.  After two small files the JIT still took the first
        # timed passes from 2.2 s down to 1.0 s.
        for k in range(STREAM_WARM_FILES):
            stage_file(dirs["warm_stage"], stream_events(seed + 7919, k), k)
            run_strike_pass(spark, dirs["warm_stage"], dirs["warm_ckpt"], dirs["warm_out"])
            strike_final_state(spark, dirs["warm_out"]).toPandas()
        warm_s = time.perf_counter() - t0
        counters = harness.StatusCounters(spark) if trace else None
        totals = harness.Counters()
        if counters is not None:
            counters.take()

        def read_state():
            """Read the alert table as one request; the pass's jobs are
            taken first so they are not attributed to the read."""
            if counters is not None:
                totals.add_stages(counters.take()[1])
            return harness.run_request(
                spark, "strike_final_state", strike_final_state, dirs["out"], "read", counters, totals
            )

        # open loop: the consumer passes back to back while files arrive,
        # reading the alert table after each pass
        ticks = harness.cpu_ticks()
        start = time.time() + 0.2
        gen = Generator(seed, dirs["stage"], n_files, start)
        gen.start()
        consumed = 0
        while consumed < n_files and gen.error is None:
            staged = len(glob.glob(os.path.join(dirs["stage"], "events-*.parquet")))
            if staged == consumed:
                time.sleep(0.01)
                continue
            backlog.append(staged - consumed)
            t_call = time.time()
            run_strike_pass(spark, dirs["stage"], dirs["ckpt"], dirs["out"])
            passes.append((t_call, time.time()))
            consumed = _committed(dirs["ckpt"])
            reads.append(read_state()[0])
        gen.join(timeout=60)
        if gen.error is not None:
            raise gen.error

        # burst: stage several files at once and time their drain
        for b in range(STREAM_BURST_FILES):
            stage_file(dirs["stage"], stream_events(seed, n_files + b), n_files + b)
        t_burst = time.time()
        run_strike_pass(spark, dirs["stage"], dirs["ckpt"], dirs["out"])
        t_drained = time.time()
        steal = harness.steal_share(ticks)
        span, final = read_state()
        reads.append(span)
        batches = log.wait_batches(_query_id(dirs["ckpt"]), n_total)
        rss_mb = engine.peak_rss_mb()
        log.close()
        hook_s = counters.hook_s if counters is not None else 0.0
    finally:
        engine.stop()

    oracle = harness.Oracle({"events": os.path.join(dirs["stage"], "events-*.parquet")})
    name = "strike_stream_stateful"
    mismatch = not oracle.matches(name, REGISTRY[name].oracle_sql, final)
    if mismatch:
        print("oracle mismatch: strike_final_state", flush=True)
    rows_ok = [b["rows"] for b in batches] == [STREAM_EVENTS_PER_FILE] * n_total
    if not rows_ok:
        print(f"unexpected micro-batches: {[b['rows'] for b in batches]}", flush=True)

    lat = alert_latencies(gen.tables, [b["end"] for b in batches[:n_files]], start)
    late_max = max(gen.late_s)
    backlog_max = max(backlog)
    valid = late_max <= MAX_GENERATOR_LATE_S and backlog_max <= MAX_BACKLOG_FILES
    if not valid:
        print(f"invalid run: generator late {late_max:.3f}s, backlog {backlog_max} files", flush=True)

    def p50(key: str) -> float:
        return harness.median([b["durations"].get(key, 0) for b in batches])

    pass_starts = [
        min(b["start"] for b in batches if t <= b["start"] <= e) - t
        for t, e in passes
        if any(t <= b["start"] <= e for b in batches)
    ]
    # about one micro-batch in four takes 1.4-1.8 s instead of 0.8-0.9 s, so
    # the median of five passes jumped between the two from run to run;
    # the median over every micro-batch of the run stays in the lower one
    batch_s = [b["end"] - b["start"] for b in batches]
    read_lat = [s.latency for s in reads]
    wall = t_drained - start
    layers = harness.request_metrics(reads, trace)
    layers.update(totals.values)
    layers.update(
        {
            "session.start_s": engine.start_s,
            "session.warm_s": warm_s,
            "memory.jvm_peak_mb": rss_mb[0],
            "memory.python_peak_mb": rss_mb[1],
            "streaming.passes": float(len(passes) + 1),
            "streaming.batches": float(len(batches)),
            "streaming.input_rows": float(sum(b["rows"] for b in batches)),
            "streaming.pass_start_s": harness.median(pass_starts),
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
            "streaming.state_rows": float(batches[-1]["state_rows"]),
            "streaming.state_mem_bytes": float(batches[-1]["state_mem"]),
            "streaming.state_commit_ms_p50": harness.median([b["state_commit_ms"] for b in batches]),
            "streaming.backlog_files_max": float(backlog_max),
            "streaming.generator_late_s_max": late_max,
            "latency_samples": float(len(lat)),
            "check.oracle_mismatches": float(mismatch),
            "trace.hook_s": hook_s,
        }
    )
    if trace:
        layers["spark.slot_busy_frac"] = layers.get("spark.task_run_s", 0.0) / (wall * engine.cores)
    return Result(
        setup_s=engine.start_s + warm_s,
        wall_s=wall,
        e2e={
            "read_latency_p50_s": harness.median(read_lat),
            "write_latency_p50_s": harness.median(batch_s),
            "latency_p90_s": harness.pct(lat, 0.9),
            "alert_latency_p50_s": harness.median(lat),
            "alert_latency_p99_s": harness.pct(lat, 0.99),
            "drain_events_per_s": STREAM_EVENTS_PER_FILE * STREAM_BURST_FILES / (t_drained - t_burst),
            "peak_rss_mb": sum(rss_mb),
        },
        attempted=len(passes) + 1 + len(reads),
        failed=int(mismatch or not rows_ok),
        valid=valid,
        steal_frac=steal,
        layers=layers,
        spans=[{"name": "run_strike_pass", "start": t, "end": e} for t, e in passes]
        + [{**dataclasses.asdict(s), "latency": s.latency} for s in reads]
        + [{"name": "micro_batch", **b} for b in batches],
    )


RUNNERS = {
    "employee_etl": run_employee_etl,
    "strike_stream": run_strike_stream,
}
