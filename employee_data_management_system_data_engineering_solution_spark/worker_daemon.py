"""Python worker daemon for sessions built by ``session.get_session``.

Spark starts its Python daemon with ``PYTHONPATH`` led by the archives of
``PythonUtils.sparkPythonPath``: ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar. pyspark.zip ships no bytecode,
and every task's ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``) makes each of the resulting zipimporters
(one per imported package directory, 16 on a ``mapInPandas`` worker)
re-read its archive's central directory: 0.2-0.35 s per task.

This module runs as the daemon (``spark.python.daemon.module``). Before
anything imports pyspark it takes those archives off ``sys.path`` and out
of ``sys.path_importer_cache`` — but only when pyspark and py4j are both
importable from the rest of the path (the directory install the driver
uses), so a box without one keeps the stock path. Archives the user
shipped (``userFiles-*``) are kept. Forked workers inherit the path.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder
from pathlib import PurePath


def is_spark_archive(entry: str) -> bool:
    """Whether ``entry`` is one of the archives Spark puts on the Python
    worker path: ``pyspark.zip``, ``py4j-*-src.zip`` or a jar."""
    p = PurePath(entry)
    if any(part.startswith("userFiles-") for part in p.parts[:-1]):
        return False
    name = p.name
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
        or name.endswith(".jar")
    )


def worker_path(path: list[str]) -> list[str]:
    """``path`` without the Spark archives, if pyspark and py4j are both
    found elsewhere on it; otherwise ``path`` unchanged."""
    kept = [p for p in path if not is_spark_archive(p)]
    found = all(PathFinder.find_spec(m, kept) is not None for m in ("pyspark", "py4j"))
    return kept if found else path


def _drop_spark_archives() -> None:
    kept = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_spark_archives()
    from pyspark import daemon

    daemon.manager()
