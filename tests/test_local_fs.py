"""Local file writes start no process: the package's
``NoSpawnLocalFileSystem`` jar and the stream checkpoint-manager pin
(``session.get_session``, ``streaming.replay.stream_confs``)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

from employee_data_management_system_data_engineering_solution_spark.streaming.replay import (
    STATE_PARTITIONS,
)
from tools import build_localfs_jar

ROOT = Path(__file__).resolve().parents[1]
PKG = "employee_data_management_system_data_engineering_solution_spark"


def test_committed_jar_matches_its_source(tmp_path):
    assert build_localfs_jar.compile_classes(str(tmp_path)) == build_localfs_jar.jar_classes(
        str(build_localfs_jar.JAR)
    )


def test_strike_passes_and_parquet_writes_start_no_process(tmp_path):
    """Logging ``chmod``/``readlink`` shims go first on ``PATH``; two
    strike passes, the final-state read and a parquet write must not
    call either (without the jar and the pin one steady-state pass
    started 127). Hadoop keeps its modes and checksum files."""
    shims, log = tmp_path / "shims", tmp_path / "spawned.log"
    shims.mkdir()
    for cmd in ("chmod", "readlink"):
        shim = shims / cmd
        shim.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {shutil.which(cmd)} "$@"\n')
        shim.chmod(0o755)
    log.touch()
    work = tmp_path / "work"
    env = dict(os.environ)
    env["PATH"] = os.pathsep.join((str(shims), env["PATH"]))
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    code = f"""
        import datetime as dt
        import glob
        import json
        import os
        import stat

        import pyarrow as pa
        import pyarrow.parquet as pq

        from {PKG} import get_session
        from {PKG}.sources.io import write_parquet
        from {PKG}.streaming.strikes import run_strike_pass, strike_final_state

        work = {str(work)!r}
        stage, ckpt, out = (os.path.join(work, d) for d in ("stage", "ckpt", "out"))
        os.makedirs(stage)
        spark = get_session(
            "no-spawn-probe",
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={{"spark.driver.memory": "1g"}},
        )
        for name, month in (("a.parquet", 1), ("b.parquet", 2)):
            pq.write_table(
                pa.table({{
                    "user_id": [i % 40 for i in range(200)],
                    "event_type": ["error" if i % 3 else "view" for i in range(200)],
                    "ts": [dt.datetime(2021, month, 1 + i % 27) for i in range(200)],
                }}),
                os.path.join(stage, name),
            )
            run_strike_pass(spark, stage, ckpt, out)
        rows = strike_final_state(spark, out).count()
        write_parquet(spark.range(10), os.path.join(work, "written"))
        with open({str(log)!r}) as fh:
            spawned = fh.read().splitlines()

        jvm = spark.sparkContext._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
        )
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission
        probe = jvm.org.apache.hadoop.fs.Path("file://" + os.path.join(work, "probe"))
        fs.mkdirs(probe)
        secret = jvm.org.apache.hadoop.fs.Path(probe, "secret")
        fs.create(secret).close()
        fs.setPermission(secret, perm("600"))
        sticky = jvm.org.apache.hadoop.fs.Path(probe, "sticky")
        fs.mkdirs(sticky)
        fs.setPermission(sticky, perm("1777"))
        spark.stop()

        def mode(*parts):
            return oct(stat.S_IMODE(os.stat(os.path.join(work, *parts)).st_mode))

        print(json.dumps({{
            "rows": rows,
            "spawned": spawned,
            "modes": {{
                "ckpt": mode("ckpt"),
                "offset": mode("ckpt", "offsets", "1"),
                "written": mode("written", "_SUCCESS"),
                "probe": mode("probe"),
                "secret": mode("probe", "secret"),
                "sticky": mode("probe", "sticky"),
            }},
            "sink_crc": len(glob.glob(os.path.join(out, ".part-*.parquet.crc"))),
            "delta_crc": len(glob.glob(os.path.join(ckpt, "state", "0", "*", "*.delta.crc"))),
            "secret_crc": os.path.exists(os.path.join(work, "probe", ".secret.crc")),
        }}))
        """
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == 40
    assert got["spawned"] == []
    assert got["modes"] == {
        "ckpt": oct(0o755),
        "offset": oct(0o644),
        "written": oct(0o644),
        "probe": oct(0o755),
        "secret": oct(0o600),
        "sticky": oct(0o1777),
    }
    # Hadoop's .crc beside every sink file; Spark's N.delta.crc beside
    # each state delta (STATE_PARTITIONS partitions x 2 versions)
    assert got["sink_crc"] > 0
    assert got["delta_crc"] == STATE_PARTITIONS * 2
    assert got["secret_crc"]
