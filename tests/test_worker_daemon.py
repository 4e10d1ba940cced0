"""The Python worker daemon (``worker_daemon``) and the lazy package
import it depends on."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from employee_data_management_system_data_engineering_solution_spark.worker_daemon import (
    worker_path,
)

ROOT = Path(__file__).resolve().parents[1]
PKG = "employee_data_management_system_data_engineering_solution_spark"

SPARK_LIB = "/spark/python/lib"
PYSPARK_ZIP = f"{SPARK_LIB}/pyspark.zip"
PY4J_ZIP = f"{SPARK_LIB}/py4j-0.10.9.9-src.zip"
CORE_JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"


def _site_dir() -> str:
    """The directory pyspark is installed in, found without importing it."""
    spec = importlib.util.find_spec("pyspark")
    return str(Path(next(iter(spec.submodule_search_locations))).parent)


def _run(code: str, timeout: int = 300) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_worker_path_drops_spark_archives():
    site = _site_dir()
    stock = ["/work", PYSPARK_ZIP, PY4J_ZIP, CORE_JAR, "/lib/python311.zip", site]
    assert worker_path(stock) == ["/work", "/lib/python311.zip", site]


def test_worker_path_keeps_user_archives():
    site = _site_dir()
    user = "/tmp/spark-1/userFiles-2"
    stock = [f"{user}/pyspark.zip", f"{user}/deps.jar", PYSPARK_ZIP, PY4J_ZIP, CORE_JAR, site]
    assert worker_path(stock) == [f"{user}/pyspark.zip", f"{user}/deps.jar", site]


def test_worker_path_keeps_stock_path_without_a_directory_install(tmp_path):
    stock = [str(tmp_path), PYSPARK_ZIP, PY4J_ZIP, CORE_JAR]
    assert worker_path(stock) == stock
    # pyspark alone is not enough: py4j must be importable too
    (tmp_path / "pyspark").mkdir()
    (tmp_path / "pyspark" / "__init__.py").write_text("")
    assert worker_path(stock) == stock


def test_package_import_leaves_pyspark_unloaded():
    proc = _run(
        f"""
        import sys
        import {PKG}
        assert "pyspark" not in sys.modules, "package import loaded pyspark"
        assert callable({PKG}.get_session)
        assert "pyspark" in sys.modules
        print("ok")
        """
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("ok")


def test_get_session_workers_import_pyspark_outside_archives():
    proc = _run(
        f"""
        import json
        from {PKG} import get_session

        spark = get_session(
            "worker-daemon-probe",
            master="local[1]",
            shuffle_partitions=1,
            extra_conf={{"spark.driver.memory": "1g"}},
        )

        def probe(batches):
            import sys
            import zipimport

            import pandas as pd
            import pyspark

            for _ in batches:
                pass
            zips = [k for k, v in sys.path_importer_cache.items()
                    if isinstance(v, zipimport.zipimporter)]
            yield pd.DataFrame({{"file": [pyspark.__file__], "zips": [json.dumps(zips)]}})

        rows = spark.range(2).mapInPandas(probe, "file string, zips string").collect()
        spark.stop()
        print(json.dumps([[r.file, json.loads(r.zips)] for r in rows]))
        """
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rows
    for file, zips in rows:
        assert ".zip" not in file and ".jar" not in file, file
        spark_zips = [z for z in zips if "pyspark.zip" in z or "py4j-" in z or ".jar" in z]
        assert not spark_zips, spark_zips


def test_get_session_workers_import_the_package_without_pythonpath(tmp_path):
    """A driver that finds the package only through its own
    ``sys.path`` (no ``PYTHONPATH``, run from outside the checkout) can
    still run Python worker jobs: ``get_session`` puts the package root
    on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from {PKG} import get_session

        spark = get_session(
            "worker-path-probe",
            master="local[1]",
            shuffle_partitions=1,
            extra_conf={{"spark.driver.memory": "1g"}},
        )
        n = spark.range(3).mapInPandas(lambda it: it, "id long").count()
        spark.stop()
        print(n)
        """
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "3"
