"""Print a content digest of every registry query, for refactor checks.

For each ``queries()`` name this prints two SHA-256 digests:

- ``oracle``: the ``oracle_sql()`` text;
- ``query``: the ``queries()`` callable — its module and qualname, its
  bytecode (``co_code``, ``co_names``) and constants (``co_consts``,
  nested code objects included), and its closure cell values (functions
  inside the closure are digested the same way).

Line numbers, comments and file layout are not part of either digest, so
a change that only edits comments or moves code prints identical output.
Run it on two checkouts and diff the outputs:

    python scripts/registry_digest.py > digests.txt

No Spark session or JVM is started.
"""

from __future__ import annotations

import hashlib
import os
import sys
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _canon(v, seen: frozenset = frozenset()) -> str:
    """Stable text form of a code constant or closure value."""
    if isinstance(v, types.CodeType):
        return "code(%s|%s|%s|%s)" % (
            v.co_qualname if hasattr(v, "co_qualname") else v.co_name,
            v.co_code.hex(),
            ",".join(v.co_names),
            ";".join(_canon(c, seen) for c in v.co_consts),
        )
    if isinstance(v, types.FunctionType):
        if id(v) in seen:  # recursive closure: name it, do not re-enter
            return f"fn-ref({v.__module__}.{v.__qualname__})"
        return _digest_fn(v, seen | {id(v)})
    if isinstance(v, (tuple, list)):
        return type(v).__name__ + "(" + ",".join(_canon(x, seen) for x in v) + ")"
    if isinstance(v, (set, frozenset)):
        return type(v).__name__ + "(" + ",".join(sorted(_canon(x, seen) for x in v)) + ")"
    if isinstance(v, dict):
        items = sorted((_canon(k, seen), _canon(x, seen)) for k, x in v.items())
        return "dict(" + ",".join(f"{k}:{x}" for k, x in items) + ")"
    if v is None or isinstance(v, (str, bytes, int, float, bool, complex)):
        return repr(v)
    if isinstance(v, type):
        return f"type({v.__module__}.{v.__qualname__})"
    if isinstance(v, types.ModuleType):
        return f"module({v.__name__})"
    # an object whose state this digest cannot see must not hash as equal
    raise TypeError(f"cannot digest a {type(v).__qualname__} closure value")


def _digest_fn(fn, seen: frozenset = frozenset()) -> str:
    cells = [c.cell_contents for c in (fn.__closure__ or ())]
    return "fn(%s.%s|%s|cells(%s))" % (
        fn.__module__,
        fn.__qualname__,
        _canon(fn.__code__, seen),
        ",".join(_canon(c, seen) for c in cells),
    )


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8", "surrogatepass")).hexdigest()


def main() -> None:
    import __spark_entry__ as em

    qs = em.queries()
    oracles = em.oracle_sql()
    for name in sorted(qs):
        fn = qs[name]
        q_text = (
            _digest_fn(fn, frozenset({id(fn)}))
            if isinstance(fn, types.FunctionType)
            else _canon(fn)
        )
        print(f"{name} oracle={_sha(oracles.get(name, '<missing>'))} "
              f"query={_sha(q_text)}")
    print(f"# {len(qs)} queries, {len(oracles)} oracle texts")


if __name__ == "__main__":
    main()
