"""spark-extract benchmark: one workload, one seed, one JSON line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload skewed_fused --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; the only instrument running
in the timed region is the ``/proc`` RSS sampler. ``--trace 1`` runs the
traced pass and reports the per-layer metrics. Both write the run's full
record (samples, phases, and for ``--trace 1`` the per-layer ledger with
its unattributed remainder) to
``.perfbench_cache/ledger/<workload>-s<seed>-t<trace>.json``. Workloads,
metrics and why each was chosen are listed in ``BENCHMARK.json``.

The engine runs at ``local[<cores>]``. Inputs are generated from the seed
and cached per (corpus, seed, size) under ``.perfbench_cache/``; Spark's
scratch files and temp files stay there too. The last line on stdout is::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

where ``failed`` counts docs missing from the output, with an ``error:*``
status, or differing from the ``extraction`` oracle (``failed_share`` is
``failed / attempted``). Exits non-zero, printing no result, when the engine
sources are not beside the benchmark.

The command runs as a supervisor: the benchmark itself runs in a child
process, and the supervisor, registered as the child subreaper, adopts every
process the run leaves behind (the JVM, ``pyspark.daemon`` and its workers,
multiprocessing helpers), kills what has not ended a few seconds after the
child exits, and reaps them all before it exits with the child's code.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
CHILD_ENV = "PERFBENCH_SUPERVISED"
GRACE_S = 5.0  # time left-behind processes get to end on their own
PR_SET_CHILD_SUBREAPER = 36
REQUIRED = (
    "engine/pipeline.py",
    "engine/run_pipeline.py",
    "engine/session.py",
    "extraction/core.py",
    "fixtures/gen_pages.py",
)


def configure_env(procs: int) -> dict[str, str]:
    """Environment and Spark conf that keep every file the run writes inside
    the checkout. Must run before pyspark is imported."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark-local"),
        SPARK_GRAFT_CPUS=str(procs),
        SPARK_MASTER=f"local[{procs}]",
        SPARK_DRIVER_MEM="4g",
        SPARK_ARROW_BATCH="128",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.environ.pop("SPARK_EXTRACT_MERGE_BUCKETS", None)
    sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }


def _descendants() -> list[int]:
    """Pids of every live process below this one, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rpartition(")")[2].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended between listing and reading
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _reap() -> None:
    """Collect every exited child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_descendants(grace: float) -> None:
    """Wait up to ``grace`` seconds for the processes below this one to end,
    then kill the rest; return once every one of them is reaped."""
    deadline = time.monotonic() + grace
    killed: set[int] = set()
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                if pid not in killed:
                    print(f"perfbench: killing left-behind process {pid}", file=sys.stderr)
                    killed.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run this script with ``argv`` in a child process and leave no process
    of it behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become the child subreaper", file=sys.stderr)
        return 2
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env={**os.environ, CHILD_ENV: "1"})

    stopped = []

    def on_signal(signum, _frame):
        # unwinds out of child.wait(); the finally below kills the child too
        stopped.append(signum)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        code = child.wait()
    finally:
        # a second signal must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        _end_descendants(0.0 if stopped else GRACE_S)
    return code if code >= 0 else 128 - code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: alter one output row so the check must fail a doc")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing beside the benchmark: {missing}",
              file=sys.stderr)
        return 2
    procs = len(os.sched_getaffinity(0))
    conf = configure_env(procs)

    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    ctx = Ctx(cache=CACHE, seed=args.seed, seconds=args.seconds, procs=procs,
              conf=conf, scale=args.scale, corrupt=args.corrupt,
              per_layer=tuple(m["name"] for m in spec["per_layer"]))
    res = WORKLOADS[args.workload](ctx, bool(args.trace))

    unit = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    metrics = {k: {"value": v, "unit": unit[k]} for k, v in res.metrics.items()}
    ledger_path = os.path.join(
        CACHE, "ledger", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(ledger_path), exist_ok=True)
    with open(ledger_path, "w", encoding="utf-8") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "attempted": res.attempted, "failed": res.failed,
                   "metrics": res.metrics, "ledger": res.ledger}, f, indent=1)
    print(f"{args.workload} seed={args.seed} trace={args.trace} local[{procs}] "
          f"docs={res.attempted}")
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:.6g} {m['unit']}")
    print(f"  {'failed_share':40s} {res.failed / res.attempted:.6g} ratio")
    print(f"  ledger: {os.path.relpath(ledger_path, ROOT)}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    if os.environ.get(CHILD_ENV) == "1":
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
