from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fixtures.gen_pages import gen_rows, write_parquet  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from engine.session import get_spark

    s = get_spark(
        app_name="spark-extract-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_unit_path(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("pages") / "pages_unit.parquet")
    write_parquet(gen_rows(64, seed=42), path)
    return path


@pytest.fixture(scope="session")
def goldens_unit() -> list[dict]:
    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "goldens", "sf_unit.jsonl",
    )
    with open(golden_path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="session")
def goldens_unit_fallback() -> list[dict]:
    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "goldens", "sf_unit_fallback.jsonl",
    )
    with open(golden_path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="session")
def pages_small_rows() -> list[dict]:
    return gen_rows(400, seed=7)


@pytest.fixture(scope="session")
def pages_small_path(tmp_path_factory, pages_small_rows) -> str:
    path = str(tmp_path_factory.mktemp("pages_small") / "pages_small.parquet")
    write_parquet(pages_small_rows, path)
    return path


@pytest.fixture
def new_jobs(spark):
    """``new_jobs()`` returns the kind of each Spark job run since the
    previous call (the first call: since the fixture was set up), once the
    listener bus has delivered every event posted so far: ``"listing"``
    for a parallel file-listing job (described ``Listing leaf files…``),
    ``"schema"`` for any other job a ``DataFrameReader`` call launched (a
    read builds its DataFrame with no job but these two: it is schema
    inference), and ``"other"``."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def jobs():
        sc.listenerBus().waitUntilEmpty()
        js = store.jobsList(None)
        return {int(js.apply(i).jobId()): js.apply(i) for i in range(js.size())}

    def kind(job) -> str:
        d = job.description()
        if d.isDefined() and d.get().startswith("Listing leaf files"):
            return "listing"
        stage = store.lastStageAttempt(int(job.stageIds().apply(0)))
        return "schema" if ".DataFrameReader." in stage.details() else "other"

    seen = set(jobs())

    def new() -> list[str]:
        got = jobs()
        fresh = sorted(set(got) - seen)
        seen.update(fresh)
        return [kind(got[j]) for j in fresh]

    return new


class Crash(Exception):
    """A process killed at a kill point of ``replace_kill_points``."""


@pytest.fixture
def replace_kill_points(monkeypatch, tmp_path):
    """Kill-point harness for the callers of ``tableio.replace_dir``.

    ``run(build, op, read, check=None)``: ``build(path)`` writes the state
    before the op, ``op(path)`` runs the op and ``read(path)`` returns what
    a reader sees. One clean run counts the ``os.rename`` calls made inside
    ``replace_dir``. Then, for each of them, a fresh copy of the built
    state runs ``op`` with that rename raising :class:`Crash`, as a process
    killed there would stop. ``check(got, old, new)`` judges the read after
    the crash (default: the whole old or the whole new state). Re-running
    ``op`` must then read exactly as the clean run, with no aside or tmp
    dir left. Returns ``(old, new)``, the reads before and after the clean
    run."""
    import shutil
    import warnings

    from engine import tableio

    real_rename, real_replace = os.rename, tableio.replace_dir
    renames = []  # renames made inside replace_dir in this run
    crash_at = [None]
    inside = [False]

    def replace_dir(tmp, live):
        inside[0] = True
        try:
            real_replace(tmp, live)
        finally:
            inside[0] = False

    def rename(src, dst):
        if inside[0]:
            if len(renames) == crash_at[0]:
                raise Crash(crash_at[0])
            renames.append(src)
        real_rename(src, dst)

    monkeypatch.setattr(tableio, "replace_dir", replace_dir)
    monkeypatch.setattr(os, "rename", rename)

    def leftovers(root):
        return [
            os.path.join(d, n)
            for d, dirs, files in os.walk(root)
            for n in dirs + files
            if ".gc-" in n or ".tmp-" in n or n.startswith(("_gc-", "_compact-"))
        ]

    def run(build, op, read, check=None):
        pristine = str(tmp_path / "pristine" / "t")
        build(pristine)
        clean = str(tmp_path / "clean" / "t")
        shutil.copytree(os.path.dirname(pristine), os.path.dirname(clean))
        old = read(clean)
        renames.clear()
        op(clean)
        new = read(clean)
        kill_points = len(renames)
        assert kill_points >= 2, "no directory replace ran"
        for k in range(kill_points):
            path = str(tmp_path / f"k{k}" / "t")
            shutil.copytree(os.path.dirname(pristine), os.path.dirname(path))
            renames.clear()
            crash_at[0] = k
            with pytest.raises(Crash):
                op(path)
            crash_at[0] = None
            with warnings.catch_warnings():  # the restore announces itself
                warnings.filterwarnings(
                    "ignore", ".*interrupted directory replace", RuntimeWarning
                )
                got = read(path)
            if check is None:
                assert got in (old, new), k
            else:
                check(got, old, new)
            op(path)
            assert read(path) == new, k
            assert not leftovers(os.path.dirname(path)), k
        return old, new

    return run
