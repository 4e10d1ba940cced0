"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The smoke tests start Spark (about two minutes for both workloads).
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
import pytest

import run
import workloads

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_same_seed_same_request_sequence():
    assert workloads.etl_sequence(5) == workloads.etl_sequence(5)
    assert len({tuple(workloads.etl_sequence(s)) for s in range(5)}) > 1


def test_every_seed_sends_the_same_request_mix():
    one = sorted(workloads.etl_sequence(1))
    assert all(sorted(workloads.etl_sequence(s)) == one for s in range(2, 8))
    counts = {}
    for q, (cadence, _) in workloads.ETL_QUERIES.items():
        counts.setdefault(cadence, set()).add(one.count(q))
    assert min(counts["daily"]) > max(counts["monthly"]) > max(counts["yearly"]) > 0


def test_same_seed_same_event_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        d.mkdir()
        for k in range(2):
            workloads.stage_file(str(d), workloads.stream_events(9, k), k)
    for k in range(2):
        name = f"events-{k:05d}.parquet"
        assert (a / name).read_bytes() == (b / name).read_bytes()
    assert not workloads.stream_events(9, 0).equals(workloads.stream_events(10, 0))
    events = pq.read_table(a / "events-00000.parquet")
    assert events.num_rows == workloads.STREAM_EVENTS_PER_FILE
    fixture = pq.read_table(os.path.join(workloads.sf_dir(workloads.WARM_SF), "events.parquet"))
    assert events.schema.remove_metadata() == fixture.schema.remove_metadata()
    assert set(events.column("event_type").to_pylist()) == set(fixture.column("event_type").to_pylist())


def test_alert_latency_counts_newest_event_per_employee():
    table = workloads.stream_events(1, 0)
    # a batch ending exactly when the interval closes: each employee's
    # latency is the time since its newest event was created
    lat = workloads.alert_latencies([table], [100.0 + workloads.STREAM_INTERVAL_S], 100.0)
    assert len(lat) == len(set(table.column("user_id").to_pylist()))
    assert 0.0 <= min(lat) and max(lat) <= workloads.STREAM_INTERVAL_S


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == {k: v[:2] for k, v in run.PER_LAYER.items()}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.RUNNERS)
    for name in [*e2e, *layers, *workloads.RUNNERS]:
        assert NAME.fullmatch(name), name


@pytest.mark.parametrize("workload", sorted(workloads.RUNNERS))
def test_smoke_run_reports_every_metric(workload, monkeypatch):
    """An sf0.001 run of each workload: every metric present, no errors."""
    monkeypatch.setattr(workloads, "ETL_SF", workloads.WARM_SF)
    monkeypatch.setattr(workloads, "STREAM_EVENTS_PER_FILE", 300)
    result = run.run_workload(workload, 1, 1, trace=True)
    for trace, table in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        line = run.report(result, trace)
        assert set(line["metrics"]) == set(table)
        assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert run.report(result, True)["metrics"]["error_rate"]["value"] == 0
    assert all(v["value"] > 0 for v in run.report(result, False)["metrics"].values())
