"""Every table and index directory in ``engine/`` is renamed or removed
through ``tableio``: its ``replace_dir`` and ``heal``, or one of the few
file-level moves listed in ``ALLOWED`` with the reason it stays.

No JVM: the check walks each module's ``ast`` for calls of the ``os`` and
``shutil`` functions that rename or delete, under whatever name the module
imported them, and names the top-level def each call sits in.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
MOVERS = {
    "os": {"rename", "renames", "replace", "remove", "unlink", "rmdir", "removedirs"},
    "shutil": {"rmtree", "move"},
}

# (module, top-level def) -> why it may rename or delete. The set must equal
# the found set exactly: a def that stops moving files leaves this table,
# and a new directory rewrite goes through tableio.replace_dir instead.
ALLOWED = {
    ("tableio", "replace_dir"): "THE directory replace: aside, swap, delete last",
    ("tableio", "heal"): "restores or deletes what an interrupted replace left",
    ("tableio", "merge_by_url"): "drops the tmp dir it staged the updates in",
    ("tableio", "_merge_staged"): "the append's per-file moves; drops its tmp dirs",
    ("tableio", "append_run"): "replaces one run's file of the _metrics table",
    ("tableio", "_save_layout"): "replaces _layout.json with a fully written copy",
    ("sources", "_write_distributed"): "archive commit: a finished file renamed in",
    ("run_pipeline", "main"): "removes the run's staging table",
}


def _movers(src: str) -> set[tuple[str, str]]:
    """(top-level def, call) for each rename/delete call in ``src``."""
    tree = ast.parse(src)
    alias: dict[str, str] = {}  # local name -> "module" or "module.func"
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.name in MOVERS:
                    alias[a.asname or a.name] = a.name
        elif isinstance(n, ast.ImportFrom) and n.module in MOVERS:
            for a in n.names:
                if a.name in MOVERS[n.module]:
                    alias[a.asname or a.name] = f"{n.module}.{a.name}"
    found = set()
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            if (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.attr in MOVERS.get(alias.get(f.value.id, ""), ())
            ):
                found.add((owner, f"{alias[f.value.id]}.{f.attr}"))
            elif isinstance(f, ast.Name) and "." in alias.get(f.id, ""):
                found.add((owner, alias[f.id]))
    return found


def _found() -> dict[tuple[str, str], set[str]]:
    out: dict[tuple[str, str], set[str]] = {}
    for path in sorted((REPO / "engine").glob("*.py")):
        for owner, call in _movers(path.read_text()):
            out.setdefault((path.stem, owner), set()).add(call)
    return out


def test_only_tableio_replaces_directories():
    found = _found()
    assert sorted(set(found) - set(ALLOWED)) == [], (
        "these rename or delete outside tableio's replace: use replace_dir"
    )
    assert sorted(set(ALLOWED) - set(found)) == [], (
        "these no longer rename or delete: drop them from ALLOWED"
    )


def test_ann_renames_nothing():
    assert not [k for k in _found() if k[0] == "ann"]


def test_scan_sees_aliases():
    """``import os as _os`` and ``from shutil import rmtree`` are seen;
    ``str.replace`` is not a move."""
    src = (
        "import os as _os\nfrom shutil import rmtree\n"
        "def f(p):\n    _os.rename(p, p)\n    rmtree(p)\n    p.replace('a', 'b')\n"
    )
    assert _movers(src) == {("f", "os.rename"), ("f", "shutil.rmtree")}
