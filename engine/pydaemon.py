"""Spark's Python daemon, launched on the interpreter's installed pyspark.

For each SparkContext, Spark starts one ``<python> -m <daemon module>
pyspark.worker`` (``spark.python.daemon.module``) with ``$SPARK_HOME``'s
``pyspark.zip``, its py4j zip and the ``spark-core`` jar at the front of
``PYTHONPATH``. ``pyspark.zip`` holds no bytecode, so the stock daemon
compiles pyspark from source at every start: ``import pyspark.daemon``
takes about 1.5 s from the zip against about 0.25 s from an installed,
compiled pyspark (4-core host), and the first Python task of a session
waits for it.

``engine.session.get_spark`` names this module as the daemon of a local
session. It decides with :func:`decide` and then execs ``python -m
pyspark.daemon`` with the same arguments, so the process keeps the pid, the
pipes to the JVM and the command line Spark gave it. When the installed
pyspark and py4j have the versions of Spark's zips, Spark's three entries
are dropped from ``PYTHONPATH`` and the daemon and its workers import the
installed packages; otherwise the path stays as Spark set it, and the
launcher says on stderr why the workers still compile ``pyspark.zip``.

The decision reads ``pyspark/version.py`` and ``py4j/version.py`` as files,
from the zips and from the installed packages: importing pyspark here would
compile it from the zip, the cost this module avoids. It imports neither
pyspark nor pandas.
"""

from __future__ import annotations

import os
import re
import sys
import traceback
import zipfile
from importlib.machinery import PathFinder
from typing import NamedTuple

# Basenames of the entries Spark puts on a worker's PYTHONPATH
# (PythonUtils.sparkPythonPath): its pyspark zip, its py4j zip and the jar
# that holds PythonUtils.
_SPARK_ENTRY = re.compile(r"pyspark\.zip|py4j-.+-src\.zip|spark-core_.+\.jar")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


class Launch(NamedTuple):
    """What the daemon runs on: ``pythonpath`` is its ``PYTHONPATH``;
    ``pyspark`` the version of the installed pyspark it imports once
    Spark's entries are dropped (``None`` when they are kept); ``compiles``
    whether it compiles pyspark from Spark's ``pyspark.zip``; ``reason``
    says why."""

    pythonpath: str
    pyspark: str | None
    compiles: bool
    reason: str


def _is_spark_entry(entry: str) -> bool:
    return _SPARK_ENTRY.fullmatch(os.path.basename(entry)) is not None


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _zip_version(archive: str, member: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read(member).decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    """The ``__version__`` in ``<package>/version.py`` of the package that
    ``path`` resolves, if it is a directory on disk. Finds the package
    without importing it."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"),
                  encoding="utf-8") as f:
            return _version(f.read())
    except (OSError, UnicodeDecodeError):
        return None


def decide(pythonpath: str, sys_path: list[str]) -> Launch:
    """The daemon's ``PYTHONPATH``, given Spark's ``pythonpath`` and the
    ``sys_path`` of an interpreter started with it. Spark's entries are
    dropped only when what ``sys_path`` resolves without them is a pyspark
    of the zip's version and, if Spark's path has a py4j zip, a py4j of
    that zip's version; any other case keeps ``pythonpath`` as it is."""
    entries = pythonpath.split(os.pathsep)
    spark = [e for e in entries if _is_spark_entry(e)]
    zips = [e for e in spark if os.path.basename(e) == "pyspark.zip" and os.path.isfile(e)]
    if not zips:
        return Launch(pythonpath, None, False, "no pyspark.zip on the worker's PYTHONPATH")
    want = _zip_version(zips[0], "pyspark/version.py")
    if want is None:
        return Launch(pythonpath, None, True, f"no pyspark version readable in {zips[0]}")
    rest = [p for p in sys_path if not _is_spark_entry(p)]
    have = _installed_version("pyspark", rest)
    if have != want:
        return Launch(pythonpath, None, True,
                      f"installed pyspark {have} is not Spark's pyspark.zip {want}")
    for p4 in (e for e in spark if os.path.basename(e).startswith("py4j-")):
        want4 = _zip_version(p4, "py4j/version.py")
        have4 = _installed_version("py4j", rest)
        if want4 is None or have4 != want4:
            return Launch(pythonpath, None, True,
                          f"installed py4j {have4} is not Spark's py4j {want4}")
    kept = os.pathsep.join(e for e in entries if not _is_spark_entry(e))
    return Launch(kept, have, False, f"workers import the installed pyspark {have}")


def spark_pythonpath(spark_home: str) -> str:
    """The entries Spark puts at the front of a worker's ``PYTHONPATH``
    under ``spark_home`` (for a check that starts no Spark)."""
    lib = os.path.join(spark_home, "python", "lib")
    jars = os.path.join(spark_home, "jars")
    found = [os.path.join(lib, "pyspark.zip")]
    for d in (lib, jars):
        if os.path.isdir(d):
            found += sorted(os.path.join(d, n) for n in os.listdir(d)
                            if n != "pyspark.zip" and _SPARK_ENTRY.fullmatch(n))
    return os.pathsep.join(found)


def main() -> None:
    try:
        launch = decide(os.environ.get("PYTHONPATH", ""), sys.path)
    except Exception:  # noqa: BLE001 — the daemon must start on any path
        traceback.print_exc()
        launch = Launch("", None, True, "the path decision failed")
    if launch.pyspark is not None:
        os.environ["PYTHONPATH"] = launch.pythonpath
    elif launch.compiles:
        # stderr: the daemon's stdout carries its port to the JVM
        print(f"engine.pydaemon: workers compile pyspark.zip ({launch.reason})",
              file=sys.stderr, flush=True)
    os.execv(sys.executable, [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]])


if __name__ == "__main__":
    main()
