"""The worker's zip importers are pinned once per process
(``engine.stages.pin_zip_importers``), so a reused PySpark worker stops
re-reading Spark's archives at the start of every task.

Three checks: the pin itself on temp zips (no JVM); a ``local[1]`` Spark
session in a subprocess, whose one reused worker must hold only pinned zip
importers after a fused run; and an ``ast`` check that every function
``engine/stages.py`` hands to ``mapInArrow``, ``mapInPandas`` or
``pandas_udf`` calls the pin as its first statement.

A local session's daemon (``engine.pydaemon``) drops Spark's zips from the
workers' path when the installed pyspark matches them, and then there is
nothing to pin. The probe session sets ``spark.python.daemon.module`` back
to ``pyspark.daemon``, so its worker imports from Spark's zips as one does
under the launcher's fallback or on a cluster executor: the path the pin
guards.
"""

from __future__ import annotations

import ast
import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from engine import stages

REPO = Path(__file__).resolve().parent.parent


# --- the pin, no JVM ---------------------------------------------------------

def _zip_package(path: Path, pkg: str) -> str:
    """A zip holding ``pkg`` with a sub-package ``sub`` of two modules."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/sub/__init__.py", "")
        z.writestr(f"{pkg}/sub/a.py", "X = 1\n")
        z.writestr(f"{pkg}/sub/b.py", "Y = 2\n")
    return str(path)


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` is called on, in order.
    The importer cache, ``sys.path`` and the pin flag are restored after
    the test."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(stages, "_ZIP_PINNED", False)
    real, seen = zipimport._read_directory, []

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield seen
    for name in [m for m in sys.modules if m.split(".")[0] in ("pinpkg1", "pinpkg2")]:
        del sys.modules[name]


def _importers(archive: str) -> dict[str, object]:
    return {
        k: v for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive
    }


def test_pin_stops_rereads_of_cached_archives_only(tmp_path, reads):
    z1 = _zip_package(tmp_path / "one.zip", "pinpkg1")
    sys.path.insert(0, z1)
    importlib.import_module("pinpkg1.sub.a")
    # a top-level and a sub-package importer over the same archive
    assert len(_importers(z1)) >= 2

    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(z1) >= 1  # the unpinned importers re-read

    stages.pin_zip_importers()
    assert {type(v) for v in _importers(z1).values()} == {stages._PinnedZipImporter}
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    # the pinned importers still import
    assert importlib.import_module("pinpkg1.sub.b").Y == 2

    # an archive added after the pin keeps the normal re-read, and a second
    # call of the helper pins nothing
    z2 = _zip_package(tmp_path / "two.zip", "pinpkg2")
    sys.path.insert(0, z2)
    importlib.import_module("pinpkg2.sub.a")
    stages.pin_zip_importers()
    assert {type(v) for v in _importers(z2).values()} == {zipimport.zipimporter}
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(z2) >= 1 and z1 not in reads


# --- one reused worker, local[1] ---------------------------------------------

_PROBE = textwrap.dedent("""
    import json, sys
    from engine import pipeline
    from engine.session import get_spark

    spark = get_spark(app_name="pin-probe", master="local[1]",
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.python.daemon.module": "pyspark.daemon"})
    try:
        pages = spark.read.parquet(sys.argv[1])
        pipeline.run_extract(pages, mode="fused").write.format("noop").mode("overwrite").save()

        def probe(batches):
            import zipimport

            import pyarrow as pa

            for _ in batches:
                pass
            names = [type(f).__name__ for f in list(sys.path_importer_cache.values())
                     if isinstance(f, zipimport.zipimporter)]
            yield pa.RecordBatch.from_pydict({"cls": names}, schema=pa.schema([("cls", pa.string())]))

        rows = spark.range(1, numPartitions=1).mapInArrow(probe, "cls string").collect()
        print(json.dumps([r.cls for r in rows]))
    finally:
        spark.stop()
""")


def test_reused_worker_holds_only_pinned_zip_importers(pages_unit_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, pages_unit_path],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    names = json.loads(out.stdout.strip().splitlines()[-1])
    if not names:
        pytest.skip("the worker imports from no zip archive")
    assert set(names) == {"_PinnedZipImporter"}, names


# --- every stage body pins first ---------------------------------------------

HANDOFFS = {"mapInArrow", "mapInPandas", "pandas_udf"}
PIN = "pin_zip_importers"


def _stages_defs() -> dict[str, ast.FunctionDef]:
    """Top-level defs of ``engine/stages.py``; a factory that returns one of
    its nested defs is also listed as ``<factory>()`` -> that def."""
    tree = ast.parse((REPO / "engine" / "stages.py").read_text())
    out: dict[str, ast.FunctionDef] = {}
    for top in tree.body:
        if not isinstance(top, ast.FunctionDef):
            continue
        out[top.name] = top
        nested = {n.name: n for n in top.body if isinstance(n, ast.FunctionDef)}
        for n in top.body:
            if isinstance(n, ast.Return) and isinstance(n.value, ast.Name) \
                    and n.value.id in nested:
                out[f"{top.name}()"] = nested[n.value.id]
    return out


def _key(node: ast.AST, names: set[str], bound: dict[str, str]) -> str | None:
    """The ``_stages_defs`` key that ``node`` evaluates to, if any."""
    if isinstance(node, ast.Name):
        if node.id in bound:
            return bound[node.id]
        return node.id if node.id in names else None
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
            and node.func.id in names:
        return f"{node.func.id}()"
    return None


def _handed_off(src: str, names: set[str]) -> set[str]:
    """Keys of the stages defs that ``src`` passes as the first argument of a
    ``mapInArrow``, ``mapInPandas`` or ``pandas_udf`` call, directly or
    through a local name assigned from a stages factory call."""
    tree = ast.parse(src)
    found = set()
    for fn in [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]:
        bound = {}
        for n in ast.walk(fn):
            if isinstance(n, ast.Assign) and len(n.targets) == 1 \
                    and isinstance(n.targets[0], ast.Name):
                k = _key(n.value, names, {})
                if k is not None:
                    bound[n.targets[0].id] = k
        for n in ast.walk(fn):
            if not (isinstance(n, ast.Call) and n.args):
                continue
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in HANDOFFS:
                k = _key(n.args[0], names, bound)
                if k is not None:
                    found.add(k)
    return found


def _first_call(fn: ast.FunctionDef) -> str | None:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # the docstring
    first = body[0] if body else None
    if isinstance(first, ast.Expr) and isinstance(first.value, ast.Call) \
            and isinstance(first.value.func, ast.Name) and not first.value.args:
        return first.value.func.id
    return None


def test_every_stage_body_pins_first():
    defs = _stages_defs()
    names = {k for k in defs if not k.endswith("()")}
    handed = set()
    for path in [*sorted((REPO / "engine").glob("*.py")), REPO / "__spark_entry__.py"]:
        handed |= _handed_off(path.read_text(), names)
    # the three stage bodies are found, so the check cannot pass on nothing
    assert {"make_detect_blocks()", "recognize_blocks",
            "make_extract_fused_arrow()"} <= handed
    assert sorted(k for k in handed if k not in defs or _first_call(defs[k]) != PIN) == [], (
        f"these stage bodies must call {PIN}() first"
    )


def test_handoff_scan_resolves_factories_and_locals():
    src = (
        "def run(df, g):\n"
        "    fn = make_a(1)\n"
        "    df.mapInPandas(fn, schema='x')\n"
        "    df.mapInArrow(make_b(), schema='x')\n"
        "    F.pandas_udf(body, returnType='string')\n"
        "    df.mapInPandas(g, schema='x')\n"
    )
    assert _handed_off(src, {"make_a", "make_b", "body"}) == {"make_a()", "make_b()", "body"}
