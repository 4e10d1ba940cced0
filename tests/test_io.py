"""Source/sink round trips (SURVEY.md §2.1 S1/S4, §2.2 K1-K3) — the
round-1 verdict flagged these as implemented-but-never-exercised."""

from __future__ import annotations

import os
import time

from pyspark.sql import Row
from pyspark.sql import types as T

from employee_data_management_system_data_engineering_solution_spark.sources.io import (
    latest_file,
    promote_staging,
    read_csv,
    read_table,
    write_csv,
    write_parquet,
)


def _df(spark):
    return spark.createDataFrame(
        [Row(emp_id=1, name="a", salary=100), Row(emp_id=2, name="b", salary=200)]
    )


def test_parquet_round_trip_overwrite_and_append(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    write_parquet(_df(spark), p)
    assert spark.read.parquet(p).count() == 2
    write_parquet(_df(spark), p, mode="append")
    assert spark.read.parquet(p).count() == 4
    write_parquet(_df(spark), p, mode="overwrite")
    assert spark.read.parquet(p).count() == 2


def test_parquet_partition_by(spark, tmp_path):
    p = str(tmp_path / "part.parquet")
    write_parquet(_df(spark), p, partition_by=["emp_id"])
    assert os.path.isdir(os.path.join(p, "emp_id=1"))
    got = spark.read.parquet(p)
    assert got.count() == 2 and "emp_id" in got.columns


def test_csv_round_trip_with_schema(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    write_csv(_df(spark), p)
    schema = T.StructType(
        [
            T.StructField("emp_id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("salary", T.LongType()),
        ]
    )
    back = read_csv(spark, p, schema=schema)
    assert sorted((r.emp_id, r.name, r.salary) for r in back.collect()) == [
        (1, "a", 100),
        (2, "b", 200),
    ]


def test_csv_infer_schema_path(spark, tmp_path):
    p = str(tmp_path / "t2.csv")
    write_csv(_df(spark), p)
    back = read_csv(spark, p)  # inferSchema parity path (reference S1)
    assert back.count() == 2
    assert dict(back.dtypes)["salary"] in ("int", "bigint")


def test_latest_file(tmp_path):
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    a.write_text("x")
    time.sleep(0.05)
    b.write_text("y")
    assert latest_file(str(tmp_path)) == str(b)
    assert latest_file(str(tmp_path), suffix=".csv") == str(b)
    # touch a with an explicitly LATER mtime: a bare utime can land in
    # the same clock tick as b's write (jiffy-granularity mtimes), and
    # a genuine tie legitimately breaks on name, not on touch order
    t = time.time() + 5
    os.utime(a, (t, t))
    assert latest_file(str(tmp_path)) == str(a)
    assert latest_file(str(tmp_path), suffix=".nope") is None
    assert latest_file(str(tmp_path / "missing")) is None


def test_latest_file_skips_hidden_and_meta(tmp_path):
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / ".hidden").write_text("")
    (tmp_path / "real.csv").write_text("x")
    assert latest_file(str(tmp_path)) == str(tmp_path / "real.csv")


def test_fs_seam_hadoop_and_local_sides_agree(spark, tmp_path, monkeypatch):
    """Both sides of the sources.fs seam — the Hadoop FileSystem
    listing (the hdfs://s3a:// deployment path) and the pure-os
    fallback — must report the same names, directory flags, and
    existence for the same local directory, and latest_file must
    return identical caller-coordinate paths through either."""
    from employee_data_management_system_data_engineering_solution_spark.sources import fs

    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "_SUCCESS").write_text("")
    (tmp_path / "a.csv").write_text("x")

    via_hadoop = fs.list_dir(str(tmp_path), spark)
    monkeypatch.setattr(fs, "_jvm_spark", lambda: None)
    via_os = fs.list_dir(str(tmp_path))
    as_set = lambda es: {(e.name, e.is_dir) for e in es}
    assert as_set(via_hadoop) == as_set(via_os) == {("sub", True), ("a.csv", False)}
    assert fs.exists(str(tmp_path / "sub" / "_SUCCESS"))
    assert not fs.exists(str(tmp_path / "nope"))
    assert latest_file(str(tmp_path)) == str(tmp_path / "a.csv")  # os side
    monkeypatch.undo()
    assert latest_file(str(tmp_path)) == str(tmp_path / "a.csv")  # hadoop side
    assert fs.exists(str(tmp_path / "sub" / "_SUCCESS"), spark)
    # URI inputs keep caller coordinates ('/'-append, no scheme mangling)
    assert fs.join("s3a://bucket/dir/", "f.parquet") == "s3a://bucket/dir/f.parquet"


def test_publish_report_writes_both_sinks(spark, tmp_path):
    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        publish_report,
    )

    pq, csv = str(tmp_path / "rep.parquet"), str(tmp_path / "rep.csv")
    df = _df(spark)
    publish_report(df, parquet_path=pq, csv_path=csv)
    assert spark.read.parquet(pq).count() == 2
    assert spark.read.option("header", "true").csv(csv).count() == 2
    assert not df.is_cached  # unpersisted after publish


def test_promote_staging_appends_then_truncates(spark, tmp_path):
    stg_p, dim_p = str(tmp_path / "stg"), str(tmp_path / "dim")
    write_parquet(_df(spark), stg_p)
    write_parquet(_df(spark), dim_p)
    promote_staging(spark, stg_p, dim_p)
    assert spark.read.parquet(dim_p).count() == 4  # dim grew by staging rows
    stg_after = spark.read.parquet(stg_p)
    assert stg_after.count() == 0  # truncated...
    assert stg_after.schema == _df(spark).schema  # ...but schema preserved
    promote_staging(spark, stg_p, dim_p)  # idempotent on empty staging
    assert spark.read.parquet(dim_p).count() == 4


def test_read_table_handles_nanos_with_confless_session(spark, tmp_path):
    # events.parquet is TIMESTAMP(NANOS); read_table must work without
    # relying on session-factory confs (the driver builds its own session)
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    assert ev.count() > 0
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        compact_parquet,
    )
    import glob

    src = str(tmp_path / "small_files")
    dest = str(tmp_path / "compacted")
    # simulate a micro-batch sink: 64 tiny files
    spark.range(0, 10_000).selectExpr("id", "id % 7 AS v").repartition(64).write.parquet(src)
    n_small = len([f for f in glob.glob(src + "/*.parquet")])
    assert n_small >= 32
    n_out = compact_parquet(spark, src, dest, target_files=4)
    assert n_out == 4
    got = spark.read.parquet(dest)
    assert got.count() == 10_000
    assert got.selectExpr("sum(id)", "sum(v)").collect() == \
        spark.read.parquet(src).selectExpr("sum(id)", "sum(v)").collect()
    # coalesce path: shuffle-free, still correct
    dest2 = str(tmp_path / "compacted2")
    n_out2 = compact_parquet(spark, src, dest2, target_files=4, rebalance=False)
    assert n_out2 <= 4
    assert spark.read.parquet(dest2).count() == 10_000


def test_compact_parquet_rejects_in_place(spark, tmp_path):
    import pytest

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        compact_parquet,
    )

    p = str(tmp_path / "t")
    spark.range(10).write.parquet(p)
    with pytest.raises(ValueError, match="src and dest"):
        compact_parquet(spark, p, p, 2)


def test_versioned_snapshots_are_immutable_and_as_of_readable(spark, tmp_path):
    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        list_versions,
        read_version,
        write_version,
    )

    base = str(tmp_path / "wh")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, s STRING")
    v2 = spark.createDataFrame([(1, "a"), (3, "c"), (4, "d")], "k INT, s STRING")
    write_version(v1, base, 1)
    write_version(v2, base, 2)
    assert list_versions(base) == [1, 2]
    # as-of read: v1 unchanged after v2 landed
    assert {r.k for r in read_version(spark, base, 1).collect()} == {1, 2}
    assert {r.k for r in read_version(spark, base, 2).collect()} == {1, 3, 4}
    # latest = max committed
    assert {r.k for r in read_version(spark, base).collect()} == {1, 3, 4}


def test_versioned_read_rejects_torn_and_missing_versions(spark, tmp_path):
    import os

    import pytest

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        list_versions,
        read_version,
        write_version,
    )

    base = str(tmp_path / "wh")
    write_version(spark.createDataFrame([(1,)], "k INT"), base, 0)
    # a torn write (no _SUCCESS marker) must never become readable history
    os.makedirs(os.path.join(base, "v=7"))
    with open(os.path.join(base, "v=7", "part-torn.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert list_versions(base) == [0]
    with pytest.raises(FileNotFoundError):
        read_version(spark, base, 7)
    with pytest.raises(FileNotFoundError):
        read_version(spark, str(tmp_path / "missing"))


def test_vacuum_versions_retention_contract(spark, tmp_path):
    """Victims removed, survivors untouched, torn (uncommitted) dirs
    left alone, latest never eligible, idempotent, keep_last guard."""
    import os

    import pytest

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        list_versions,
        read_version,
        vacuum_versions,
        write_version,
    )

    base = str(tmp_path / "wh")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    for ver in (1, 2, 3):
        write_version(df, base, ver)
    # a torn, in-flight write: directory without _SUCCESS
    os.makedirs(os.path.join(base, "v=0"))
    (tmp_path / "wh" / "v=0" / "part-zzz.parquet").write_text("torn")

    assert vacuum_versions(base, keep_last=2) == [1]
    assert list_versions(base) == [2, 3]
    assert not os.path.exists(os.path.join(base, "v=1"))
    assert os.path.isdir(os.path.join(base, "v=0"))  # torn dir untouched
    assert read_version(spark, base, 2).count() == 2  # survivor data intact

    assert vacuum_versions(base, keep_last=2) == []  # idempotent
    assert vacuum_versions(base, keep_last=5) == []  # fewer versions than keep
    with pytest.raises(ValueError, match="keep_last"):
        vacuum_versions(base, keep_last=0)


def test_fs_listing_tolerates_vanishing_writer_artifacts(tmp_path, monkeypatch):
    """A concurrent writer's short-lived file can vanish between
    listdir and stat; the os-side listing must skip it, not crash."""
    import os as _os

    from employee_data_management_system_data_engineering_solution_spark.sources import fs

    (tmp_path / "_temporary").write_text("")
    (tmp_path / "real.csv").write_text("x")
    orig = _os.path.getmtime

    def racy(p):
        if p.endswith("_temporary"):
            raise FileNotFoundError(p)
        return orig(p)

    monkeypatch.setattr(_os.path, "getmtime", racy)
    got = fs.list_dir(str(tmp_path))
    assert [e.name for e in got] == ["real.csv"]
    assert latest_file(str(tmp_path)) == str(tmp_path / "real.csv")


def test_fs_seam_degrades_for_jvmless_sessions(tmp_path, monkeypatch):
    """An explicitly-passed session without a JVM handle (the Spark
    Connect shape) must fall back to the local listing, not crash —
    and a genuinely remote URI with no JVM anywhere returns the
    documented not-found values instead of raising."""
    from employee_data_management_system_data_engineering_solution_spark.sources import fs

    class FakeConnectSession:
        pass  # no _jvm attribute at all

    (tmp_path / "a.csv").write_text("x")
    monkeypatch.setattr(fs, "_jvm_spark", lambda: None)
    got = fs.list_dir(str(tmp_path), spark=FakeConnectSession())
    assert [e.name for e in got] == ["a.csv"]
    assert fs.exists(str(tmp_path / "a.csv"), spark=FakeConnectSession())
    assert fs.list_dir("s3a://bucket/nope", spark=FakeConnectSession()) is None
    assert not fs.delete("s3a://bucket/nope", spark=FakeConnectSession())


def test_arrow_batch_defaults_fills_unset_and_keeps_explicit(spark):
    """The engine default applies only while the conf is unset; an
    explicit value survives, Spark's own default of 10000 included."""
    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        _ARROW_BATCH_CONF,
        ARROW_BATCH_ROWS,
        arrow_batch_defaults,
    )

    prior = spark.conf.get(_ARROW_BATCH_CONF, None)
    try:
        spark.conf.unset(_ARROW_BATCH_CONF)
        arrow_batch_defaults(spark)
        assert spark.conf.get(_ARROW_BATCH_CONF) == str(ARROW_BATCH_ROWS)
        for explicit in ("10000", "2048"):
            spark.conf.set(_ARROW_BATCH_CONF, explicit)
            arrow_batch_defaults(spark)
            assert spark.conf.get(_ARROW_BATCH_CONF) == explicit
    finally:
        if prior is None:
            spark.conf.unset(_ARROW_BATCH_CONF)
        else:
            spark.conf.set(_ARROW_BATCH_CONF, prior)


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn()`` launches. Jobs are counted by job group, after
    a marker job in a second group shows up in the status tracker: the
    tracker is fed asynchronously, in launch order."""
    import uuid

    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    group, marker = f"count-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "counted")
        fn()
        sc.setJobGroup(marker, "marker")
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    for _ in range(200):
        if tracker.getJobIdsForGroup(marker):
            break
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _write_orders(sf_dir, rows) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    keys, prices = zip(*rows)
    pq.write_table(
        pa.table({"o_orderkey": list(keys), "o_totalprice": list(prices)}),
        os.path.join(sf_dir, "orders.parquet"),
    )


def test_second_read_table_launches_no_schema_job(spark, tmp_path):
    """The first read of a table version infers its schema (one job);
    the second takes it from the memo and launches none."""
    sf = str(tmp_path / "sf")
    _write_orders(sf, [(1, 1.5), (2, 2.5)])
    assert _jobs_launched(spark, lambda: read_table(spark, sf, "orders")) == 1
    assert _jobs_launched(spark, lambda: read_table(spark, sf, "orders")) == 0
    assert sorted(r.o_orderkey for r in read_table(spark, sf, "orders").collect()) == [1, 2]


def test_parquet_schema_keys_on_schema_confs(spark, tmp_path):
    """``binaryAsString`` changes the inferred schema of the same file,
    so the memo must not serve one conf's schema to the other."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        parquet_schema,
    )

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "false")
        assert parquet_schema(spark, path)["b"].dataType == T.BinaryType()
        spark.conf.set(conf, "true")
        assert parquet_schema(spark, path)["b"].dataType == T.StringType()
        spark.conf.set(conf, "false")
        assert parquet_schema(spark, path)["b"].dataType == T.BinaryType()
    finally:
        if prior is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prior)


def test_money_native_table_sees_a_rewritten_table(spark, tmp_path, monkeypatch):
    """A fixture table rewritten within one process gets a fresh
    decimal copy, not the copy of its old rows."""
    import tempfile

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        money_native_table,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = str(tmp_path / "sf")
    _write_orders(sf, [(1, 1.25), (2, 2.5), (3, 3.75)])
    first = money_native_table(spark, sf, "orders")
    assert sorted(r.o_orderkey for r in first.collect()) == [1, 2, 3]
    _write_orders(sf, [(7, 7.25), (8, 8.5), (9, 9.75)])
    got = money_native_table(spark, sf, "orders")
    assert dict(got.dtypes)["o_totalprice"] == "decimal(12,2)"
    assert sorted((r.o_orderkey, str(r.o_totalprice)) for r in got.collect()) == [
        (7, "7.25"),
        (8, "8.50"),
        (9, "9.75"),
    ]
    # the old copy's files are untouched, so a frame still reading it works
    assert sorted(r.o_orderkey for r in first.collect()) == [1, 2, 3]


def test_money_native_table_copy_is_under_this_process_scratch_root(
    spark, tmp_path, monkeypatch
):
    """The decimal copy lives under this process's ``eds_scratch_<pid>``
    root, so two processes that reach one money table at the same
    moment never write (and clobber) one shared copy."""
    import tempfile
    from urllib.parse import urlparse

    from employee_data_management_system_data_engineering_solution_spark.sources.io import (
        money_native_table,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = str(tmp_path / "sf")
    _write_orders(sf, [(1, 1.25), (2, 2.5)])
    root = os.path.join(str(tmp_path), f"eds_scratch_{os.getpid()}") + os.sep
    files = money_native_table(spark, sf, "orders").inputFiles()
    assert files and all(urlparse(f).path.startswith(root) for f in files)
