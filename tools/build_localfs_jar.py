"""Rebuild the package's local-filesystem jar from its Java source.

Compiles ``jars/NoSpawnLocalFileSystem.java`` with ``javac`` against the
``hadoop-client-api`` jar that ships with the installed pyspark, and
writes the classes into a jar whose entries carry a fixed timestamp, so
the same source and compiler give the same jar bytes. Run it whenever
the Java source changes and commit the jar with it.

Usage: python tools/build_localfs_jar.py [out.jar]   (default: the
committed jar next to the source)
"""

from __future__ import annotations

import glob
import importlib.util
import os
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

JARS = (
    Path(__file__).resolve().parents[1]
    / "employee_data_management_system_data_engineering_solution_spark"
    / "jars"
)
SOURCE = JARS / "NoSpawnLocalFileSystem.java"
JAR = JARS / "no-spawn-localfs.jar"

#: the earliest timestamp a zip entry can carry
_EPOCH = (1980, 1, 1, 0, 0, 0)


def hadoop_api_jar() -> str:
    """The ``hadoop-client-api`` jar of the installed pyspark, found
    without importing pyspark."""
    spec = importlib.util.find_spec("pyspark")
    pyspark_dir = next(iter(spec.submodule_search_locations))
    found = sorted(glob.glob(os.path.join(pyspark_dir, "jars", "hadoop-client-api-*.jar")))
    if not found:
        raise FileNotFoundError(f"no hadoop-client-api jar under {pyspark_dir}/jars")
    return found[-1]


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """Compile the source into ``out_dir``; returns {entry name: class bytes}."""
    subprocess.run(
        ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", out_dir, str(SOURCE)],
        check=True,
    )
    classes = {}
    for path in sorted(Path(out_dir).rglob("*.class")):
        classes[path.relative_to(out_dir).as_posix()] = path.read_bytes()
    return classes


def write_jar(classes: dict[str, bytes], jar_path: str) -> None:
    with zipfile.ZipFile(jar_path, "w") as jar:
        for name in sorted(classes):
            jar.writestr(zipfile.ZipInfo(name, _EPOCH), classes[name])


def jar_classes(jar_path: str) -> dict[str, bytes]:
    with zipfile.ZipFile(jar_path) as jar:
        return {name: jar.read(name) for name in jar.namelist() if name.endswith(".class")}


def main(argv: list[str]) -> None:
    out = argv[0] if argv else str(JAR)
    with tempfile.TemporaryDirectory() as tmp:
        write_jar(compile_classes(tmp), out)
    print(out)


if __name__ == "__main__":
    main(sys.argv[1:])
