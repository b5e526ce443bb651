"""Every public top-level def in ``engine/`` and ``extraction/`` is reached
from an entry point, or is listed in ``KEPT`` with the reason it stays.

No JVM: the check is a name-level call graph built with ``ast``. Comments
and docstrings are not part of it. A def is reached when its name occurs
(as a name, attribute or import) in a root file or in the body of a
reached def; the module-level statements of the library modules count as
roots too, except defs, name assignments (nodes of the graph) and imports.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LIBRARY = ("engine", "extraction")
ROOT_FILES = ("__spark_entry__.py", "bench.py", "engine/run_pipeline.py")
ROOT_DIRS = ("scripts", "perfbench", "fixtures")

# Public defs no entry point reaches that stay, and why. The set must equal
# the unreached set exactly: a def that gains a caller leaves this table,
# and a new unreached def is wired to an entry point or deleted.
KEPT = {
    # the north star's streaming pieces
    "incremental_extract": "idempotent incremental extract (north star)",
    "incremental_host_edges": "host-edge delta sink (north star)",
    "fold_edge_deltas": "folds the incremental_host_edges sink",
    "host_edges": "batch graph incremental_host_edges folds to; test reference",
    "wat_parse_batches": "parse stage of read_pages_wat and incremental_host_edges",
    # table and index maintenance: kill points of the fault-injection work
    "compact": "bounds file counts on the append path",
    "upsert_ivf_index": "IVF maintenance op, a fault-injection kill point",
    "compact_ivf_lists": "IVF maintenance op, a fault-injection kill point",
    "build_ivf_index": "persisted-index reference the ann_ivf_topk* fast paths are pinned to",
    "ivf_topk": "persisted-index reference the ann_ivf_topk* fast paths are pinned to",
    # archive fixtures: round-trip tests of the reached readers and writers
    "write_pages_jsonl": "fixture writer for the read_pages_jsonl round trip",
    "write_pages_warc": "fixture writer for the read_pages_warc round trip",
    "write_pages_warc_indexed": "fixture writer for the read_pages_warc_indexed round trip",
    "write_pages_wet": "driver twin of the --wet-out writer",
    "write_pages_wat": "fixture writer for the WAT reader and host-edge tests",
    "read_pages_wet": "reads back the --wet-out writer's archives",
    "read_pages_wat": "reads back the --wat-out writer's archives",
    # reference twins the fast paths are pinned against
    "route_lang": "raw-tag form of route_block; the reference composition extract_document is pinned to",
    "python_bpe": "pure-Python BPE training reference",
    "encode_fold": "Spark BPE encode reference for the Arrow encoder",
    "python_logreg": "pure-Python logistic-regression reference",
    "idct_block_reference": "float IDCT reference for the integer JPEG IDCT",
}


def _strip_docstrings(tree: ast.AST) -> ast.AST:
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
    return tree


def _parse(src: str) -> ast.Module:
    return _strip_docstrings(ast.parse(src))


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
    return out


def _graph():
    """(defs, edges, roots): the library's top-level def names, name ->
    names its bodies reference, and the names the roots reference."""
    defs: set[str] = set()
    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    for pkg in LIBRARY:
        for path in sorted((REPO / pkg).glob("*.py")):
            for st in _parse(path.read_text()).body:
                if isinstance(
                    st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    defs.add(st.name)
                    edges.setdefault(st.name, set()).update(_names(st))
                elif isinstance(st, ast.Assign) and all(
                    isinstance(t, ast.Name) for t in st.targets
                ):
                    for t in st.targets:
                        if t.id != "__all__":
                            edges.setdefault(t.id, set()).update(_names(st.value))
                elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                    roots |= _names(st)
    files = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        files += sorted((REPO / d).rglob("*.py"))
    for path in files:
        roots |= _names(_parse(path.read_text()))
    return defs, edges, roots


def _unreached() -> set[str]:
    defs, edges, roots = _graph()
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(edges.get(name, ()))
    return {n for n in defs - reached if not n.startswith("_")}


def test_unreached_defs_are_exactly_the_kept_table():
    unreached = _unreached()
    assert sorted(unreached - set(KEPT)) == [], (
        "no entry point reaches these: wire them to one or delete them"
    )
    assert sorted(set(KEPT) - unreached) == [], (
        "these are reached or gone now: drop them from KEPT"
    )


def test_scan_sees_through_comments_and_docstrings():
    """A name mentioned only in a comment or a docstring is no reference."""
    tree = _parse('def f():\n    """calls g()"""\n    # g()\n    return h()\n')
    assert "g" not in _names(tree) and "h" in _names(tree)
