"""End-to-end daily pipeline, ordered reports, and the windowed
streaming carrier."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import Row
from pyspark.sql import functions as F

from employee_data_management_system_data_engineering_solution_spark.operators.reports import (
    ordered_with_rank,
)
from employee_data_management_system_data_engineering_solution_spark.plans import REGISTRY


def test_ordered_with_rank_stamps_positions(spark):
    df = spark.createDataFrame([Row(k="a", v=5), Row(k="b", v=9), Row(k="c", v=1)])
    out = ordered_with_rank(df, [F.col("v").desc()]).collect()
    assert [(r.k, r.position) for r in out] == [("b", 1), ("a", 2), ("c", 3)]


def test_daily_pipeline_runs_and_merges(spark):
    df = REGISTRY["daily_pipeline"].fn(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    by_status = {r.status for r in rows}
    assert by_status == {"Active", "Inactive"}
    # rerun overwrites, never accumulates
    assert len(REGISTRY["daily_pipeline"].fn(spark, "/root/testdata/sf0.001").collect()) == len(rows)


def test_stream_dedup_collapses_duplicate_event_ids(spark, tmp_path):
    import datetime as dt
    import glob
    import os
    import shutil

    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_dedup_stream,
    )

    rows = [
        Row(event_id=1, event_type="click", ts=dt.datetime(2021, 1, 1)),
        Row(event_id=1, event_type="click", ts=dt.datetime(2021, 1, 1)),  # dup
        Row(event_id=2, event_type="click", ts=dt.datetime(2021, 1, 2)),
        Row(event_id=3, event_type="view", ts=dt.datetime(2021, 1, 2)),
    ]
    out_dir = str(tmp_path / "stage")
    spark.createDataFrame(rows).coalesce(1).write.parquet(out_dir)
    part = glob.glob(os.path.join(out_dir, "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    got = {
        r.event_type: r.n_events
        for r in run_dedup_stream(spark, str(tmp_path)).collect()
    }
    assert got == {"click": 2, "view": 1}


def test_session_stream_boundaries(spark, tmp_path):
    import datetime as dt
    import glob
    import os
    import shutil

    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_session_stream,
    )

    base = dt.datetime(2021, 1, 1, 0, 0, 0)
    rows = [
        # user 1: events at 0m, 30m (exactly the gap: merges), 61m (new session)
        Row(user_id=1, event_type="error", ts=base),
        Row(user_id=1, event_type="error", ts=base + dt.timedelta(minutes=30)),
        Row(user_id=1, event_type="error", ts=base + dt.timedelta(minutes=61)),
        # user 2: single flagged event; an unflagged one is excluded
        Row(user_id=2, event_type="error", ts=base),
        Row(user_id=2, event_type="click", ts=base + dt.timedelta(minutes=5)),
    ]
    out_dir = str(tmp_path / "stage")
    spark.createDataFrame(rows).coalesce(1).write.parquet(out_dir)
    part = glob.glob(os.path.join(out_dir, "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "events.parquet"))

    got = sorted(
        map(tuple, run_session_stream(spark, str(tmp_path)).collect())
    )
    assert got == [
        (1, "2021-01-01 00:00:00", "2021-01-01 01:00:00", 2),
        (1, "2021-01-01 01:01:00", "2021-01-01 01:31:00", 1),
        (2, "2021-01-01 00:00:00", "2021-01-01 00:30:00", 1),
    ]


def test_windowed_flag_stream_matches_batch_counts(spark):
    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        read_table,
    )
    from employee_data_management_system_data_engineering_solution_spark.streaming.strikes import (
        run_windowed_flag_stream,
    )

    sf = "/root/testdata/sf0.001"
    got = run_windowed_flag_stream(spark, sf)
    want = (
        read_table(spark, sf, "events")
        .filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("user_id").alias("emp_id"))
        .agg(F.count("*").alias("n_flagged"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            F.col("w.end").cast("string").alias("window_end"),
            "emp_id",
            "n_flagged",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_upsert_matches_batch_aggregate(spark):
    """The foreachBatch merge must converge to the batch aggregate
    regardless of micro-batch boundaries (associative combine)."""
    from pyspark.sql import functions as F

    from employee_data_management_system_data_engineering_solution_spark.streaming.upsert import (
        run_upsert_stream,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in run_upsert_stream(spark, sf, n_batches=4).collect()
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert got == want


def test_restart_work_dirs_are_removed_when_their_process_is_gone(tmp_path, monkeypatch):
    """Scratch roots (``sources.io.scratch_dir``, which holds the
    checkpoint-restart carriers' work dirs too) do not pile up in the
    temp dir: a process removes its own at exit, and the roots of
    processes that died without exit handlers go on the first call
    under that temp dir. Live roots and unrelated names stay."""
    import subprocess
    import sys
    import tempfile

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        scratch_dir,
    )

    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    dead = tmp_path / f"eds_scratch_{gone.pid}"
    live = tmp_path / f"eds_scratch_{os.getppid()}"
    others = [tmp_path / "eds_scratch_notes", tmp_path / f"eds_ckpt_strike_sf0_001_{gone.pid}"]
    for d in (dead, live, *others):
        (d / "ckpt").mkdir(parents=True)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    base = scratch_dir("ckpt_strike", "/data/sf0.001/")
    assert base == str(tmp_path / f"eds_scratch_{os.getpid()}" / "ckpt_strike_sf0_001")
    assert not dead.exists() and live.exists() and all(d.exists() for d in others)

    made = _scratch_dir_in_subprocess(tmp_path, "window", "sf0.01")
    assert made.startswith(str(tmp_path)) and not os.path.exists(os.path.dirname(made))


def _scratch_dir_in_subprocess(tmp: Path, kind: str, sf_dir: str) -> str:
    """``scratch_dir(kind, sf_dir)`` as a fresh Python process under
    the temp dir ``tmp`` returns it, after writing a file into it."""
    import subprocess
    import sys

    code = (
        "import os, sys\n"
        "from employee_data_management_system_data_engineering_solution_spark.sources.io "
        "import scratch_dir\n"
        "d = scratch_dir(sys.argv[1], sys.argv[2])\n"
        "os.makedirs(os.path.join(d, 'out'))\n"
        "print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=str(Path(__file__).resolve().parents[1]))
    proc = subprocess.run(
        [sys.executable, "-c", code, kind, sf_dir],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()[-1]


def test_scratch_dir_is_per_process(tmp_path, monkeypatch):
    """Two processes get different scratch dirs for the same query kind
    and sf dir, so concurrent runs never share a staging file or a
    stream checkpoint; one process gets the same dir on every call, so
    a query's write and its read-back meet."""
    import tempfile

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        scratch_dir,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    mine = scratch_dir("compact", "/data/sf0.001")
    assert scratch_dir("compact", "/data/sf0.001") == mine
    a = _scratch_dir_in_subprocess(tmp_path, "compact", "/data/sf0.001")
    b = _scratch_dir_in_subprocess(tmp_path, "compact", "/data/sf0.001")
    assert len({mine, a, b}) == 3
    assert {os.path.basename(d) for d in (mine, a, b)} == {"compact_sf0_001"}
