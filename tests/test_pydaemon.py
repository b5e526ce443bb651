"""Local sessions start Spark's Python daemon through ``engine.pydaemon``,
which runs it on the installed, compiled pyspark when that is the version
of Spark's ``pyspark.zip``.

The path decision is checked on a fake Spark home and a fake install (no
JVM): matching versions drop exactly Spark's three entries; any mismatch,
or no install, leaves ``PYTHONPATH`` byte-identical; and deciding imports
no pyspark. A ``local[1]`` session in a subprocess then checks the real
launch: its worker imports pyspark from outside any zip, runs under a
``-m pyspark.daemon`` parent, and the fused output equals the goldens.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

from engine import pydaemon

REPO = Path(__file__).resolve().parent.parent


# --- the path decision, no JVM -----------------------------------------------

def _spark_home(root: Path, pyspark: str = "9.9.0", py4j: str = "0.1.2") -> Path:
    home = root / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    (home / "jars").mkdir()
    with zipfile.ZipFile(home / "python" / "lib" / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{pyspark}'\n")
    with zipfile.ZipFile(home / "python" / "lib" / f"py4j-{py4j}-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", f"__version__ = '{py4j}'\n")
    (home / "jars" / f"spark-core_2.13-{pyspark}.jar").write_bytes(b"")
    (home / "jars" / "spark-sql_2.13.jar").write_bytes(b"")
    return home


def _site(root: Path, pyspark: str | None = "9.9.0", py4j: str | None = "0.1.2") -> Path:
    """An install dir whose packages fail on import: the decision may only
    read them."""
    site = root / "site"
    site.mkdir()
    for pkg, version in (("pyspark", pyspark), ("py4j", py4j)):
        if version is not None:
            (site / pkg).mkdir()
            (site / pkg / "__init__.py").write_text("raise ImportError('imported')\n")
            (site / pkg / "version.py").write_text(f'__version__ = "{version}"\n')
    return site


def _paths(tmp_path: Path, **site_versions) -> tuple[str, list[str]]:
    """Spark's worker PYTHONPATH with a user entry on each side, and the
    ``sys.path`` of an interpreter started with it."""
    home = _spark_home(tmp_path)
    site = _site(tmp_path, **site_versions)
    spark = pydaemon.spark_pythonpath(str(home)).split(os.pathsep)
    entries = [str(tmp_path / "user-a"), *spark, str(tmp_path / "deps.zip")]
    return os.pathsep.join(entries), [str(tmp_path / "cwd"), *entries, str(site)]


def test_spark_pythonpath_lists_spark_entries(tmp_path):
    home = _spark_home(tmp_path)
    assert pydaemon.spark_pythonpath(str(home)).split(os.pathsep) == [
        str(home / "python" / "lib" / "pyspark.zip"),
        str(home / "python" / "lib" / "py4j-0.1.2-src.zip"),
        str(home / "jars" / "spark-core_2.13-9.9.0.jar"),
    ]


def test_matching_versions_drop_exactly_sparks_entries(tmp_path):
    pythonpath, sys_path = _paths(tmp_path)
    launch = pydaemon.decide(pythonpath, sys_path)
    assert launch.pyspark == "9.9.0" and not launch.compiles
    assert launch.pythonpath == os.pathsep.join(
        [str(tmp_path / "user-a"), str(tmp_path / "deps.zip")]
    )


@pytest.mark.parametrize("site_versions", [
    {"pyspark": "9.9.1"},
    {"pyspark": None},
    {"py4j": "0.1.3"},
    {"py4j": None},
], ids=["pyspark-mismatch", "no-pyspark", "py4j-mismatch", "no-py4j"])
def test_any_mismatch_keeps_the_path_byte_identical(tmp_path, site_versions):
    pythonpath, sys_path = _paths(tmp_path, **site_versions)
    launch = pydaemon.decide(pythonpath, sys_path)
    assert launch.pyspark is None and launch.compiles, launch
    assert launch.pythonpath == pythonpath


def test_no_spark_zip_keeps_the_path(tmp_path):
    """No pyspark.zip on the path, or one that does not exist (a pip-only
    install, whose Spark home has no python/lib): nothing to drop and
    nothing compiled."""
    site = _site(tmp_path)
    for pythonpath in (str(tmp_path / "user-a"),
                       os.pathsep.join([str(tmp_path / "no" / "pyspark.zip"), "b"])):
        launch = pydaemon.decide(pythonpath, [pythonpath, str(site)])
        assert launch.pythonpath == pythonpath
        assert launch.pyspark is None and not launch.compiles


@pytest.mark.parametrize("installed, drops", [("9.9.0", True), ("9.9.1", False)])
def test_main_execs_the_stock_daemon(tmp_path, monkeypatch, capsys, installed, drops):
    """The launcher execs ``python -m pyspark.daemon <argv>`` in both cases;
    only the matching one changes ``PYTHONPATH``, and the fallback says on
    stderr why the workers still compile the zip (stdout is the JVM's)."""
    pythonpath, sys_path = _paths(tmp_path, pyspark=installed)
    monkeypatch.setenv("PYTHONPATH", pythonpath)
    monkeypatch.setattr(sys, "path", sys_path)
    monkeypatch.setattr(sys, "argv", ["pydaemon.py", "pyspark.worker"])
    calls = []
    monkeypatch.setattr(os, "execv",
                        lambda exe, argv: calls.append((exe, argv, os.environ["PYTHONPATH"])))
    pydaemon.main()
    out = capsys.readouterr()
    kept = os.pathsep.join([str(tmp_path / "user-a"), str(tmp_path / "deps.zip")])
    assert calls == [(sys.executable,
                      [sys.executable, "-m", "pyspark.daemon", "pyspark.worker"],
                      kept if drops else pythonpath)]
    assert out.out == ""
    assert ("workers compile pyspark.zip" in out.err) is not drops


def test_deciding_imports_no_pyspark():
    """On this interpreter and its Spark home, with Spark's entries first on
    the path as a worker has them: the decision imports neither pyspark,
    py4j nor pandas."""
    from pyspark.find_spark_home import _find_spark_home

    pythonpath = os.pathsep.join([pydaemon.spark_pythonpath(_find_spark_home()), str(REPO)])
    code = textwrap.dedent("""
        import json, os, sys
        from engine import pydaemon
        launch = pydaemon.decide(os.environ["PYTHONPATH"], sys.path)
        heavy = sorted(m for m in sys.modules
                       if m.split(".")[0] in ("pyspark", "py4j", "pandas"))
        print(json.dumps([launch.pyspark, heavy]))
    """)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": pythonpath}, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    _, heavy = json.loads(out.stdout)
    assert heavy == []


# --- the real launch, local[1] -----------------------------------------------

_PROBE = textwrap.dedent("""
    import json, sys
    from engine import pipeline
    from engine.session import get_spark

    spark = get_spark(app_name="daemon-probe", master="local[1]",
                      extra_conf={"spark.driver.memory": "1g"})
    try:
        pages = spark.read.parquet(sys.argv[1])
        rows = pipeline.run_extract(pages, mode="fused").collect()

        def probe(batches):
            import os

            import pyarrow as pa
            import pyspark

            for _ in batches:
                pass
            with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
                parent = f.read().split(b"\\0")
            yield pa.RecordBatch.from_pydict({
                "pyspark": [pyspark.__file__],
                "parent": [" ".join(a.decode() for a in parent if a)],
            })

        w = spark.range(1, numPartitions=1).mapInArrow(
            probe, "pyspark string, parent string").collect()[0]
        print(json.dumps({
            "pyspark": w.pyspark, "parent": w.parent,
            "conf": spark.conf.get("spark.python.daemon.module"),
            "rows": [{
                "url": r.url, "extracted_text": r.extracted_text,
                "spans": [s.asDict() for s in r.spans or []],
                "n_blocks": r.n_blocks, "n_kept": r.n_kept, "status": r.status,
            } for r in rows],
        }))
    finally:
        spark.stop()
""")


def test_local_worker_runs_on_installed_pyspark(pages_unit_path, goldens_unit):
    from pyspark.find_spark_home import _find_spark_home

    launch = pydaemon.decide(pydaemon.spark_pythonpath(_find_spark_home()), sys.path)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, pages_unit_path],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["conf"] == "engine.pydaemon"
    assert " -m pyspark.daemon pyspark.worker" in got["parent"], got["parent"]
    if launch.pyspark is None:
        # no matching install: the daemon keeps Spark's zips
        assert ".zip" in got["pyspark"], got["pyspark"]
    else:
        assert ".zip" not in got["pyspark"], got["pyspark"]
    assert sorted(got["rows"], key=lambda r: r["url"]) == sorted(
        goldens_unit, key=lambda r: r["url"]
    )
