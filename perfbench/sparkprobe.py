"""Spark-side instruments of the benchmark, all read from outside the engine.

- :func:`start_session` / :func:`shutdown` open the engine's own session
  (``engine.session.get_spark``) and, at the end, stop it and wait for the
  JVM to exit.
- :class:`RssSampler` samples the resident set size of every PySpark Python
  worker from ``/proc`` while a timed region runs.
- :func:`collect_group` reads the jobs of one ``setJobGroup`` group back
  from Spark's status store (task metrics per stage) and from the SQL status
  store (per-node SQL metrics). Neither needs the web UI.
"""

from __future__ import annotations

import os
import re
import statistics
import threading


def start_session(conf: dict[str, str]):
    from engine.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak RSS (MiB) of any ``pyspark.daemon`` process or forked worker,
    sampled every ``period`` seconds between :meth:`start` and :meth:`stop`."""

    def __init__(self, period: float = 0.05) -> None:
        self.period = period
        self.peak_kb = 0
        self._workers: dict[int, bool] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _is_worker(self, pid: int) -> bool:
        known = self._workers.get(pid)
        if known is None:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    known = b"pyspark.daemon" in f.read()
            except OSError:
                known = False
            self._workers[pid] = known
        return known

    def sample(self) -> None:
        for name in os.listdir("/proc"):
            if not name.isdigit() or not self._is_worker(int(name)):
                continue
            try:
                with open(f"/proc/{name}/status", encoding="ascii") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue  # the worker exited between listing and reading

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- status store ---------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50}
_SIZE_RE = re.compile(r"([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB|PiB)\b")


def _metric_value(kind: str, text: str) -> float:
    """Parse one SQL metric as the SQL status store formats it. ``sum``
    metrics are exact; ``size`` metrics carry Spark's three digits."""
    if kind == "size":
        # "total (min, med, max ...)\n40.1 MiB (...)" or a bare "40.1 MiB"
        m = _SIZE_RE.search(text.splitlines()[-1])
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0
    return float(text.replace(",", "").split()[0])


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _sql_nodes(spark, job_ids: set[int]) -> list[tuple[str, str, float]]:
    """(node name, metric name, value) for every SQL node metric of the SQL
    executions that ran any of ``job_ids``, nodes listed root first."""
    sq = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _scala_seq(sq.executionsList()):
        it = e.jobs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(int(it.next()))
        if not ids & job_ids:
            continue
        values = sq.executionMetrics(e.executionId())
        for node in _scala_seq(sq.planGraph(e.executionId()).allNodes()):
            for m in _scala_seq(node.metrics()):
                v = _opt(values.get(m.accumulatorId()))
                if v is None or m.metricType() not in ("sum", "size"):
                    continue
                out.append((node.name().strip(), m.name(), _metric_value(m.metricType(), v)))
    return out


def collect_group(spark, group: str, wall: tuple[float, float]) -> dict:
    """Task and SQL metrics of the jobs run under job group ``group``.

    ``wall`` is the (start, end) epoch-second interval the caller timed; the
    part of it no stage was running in is ``driver_overhead_s``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [
        j for j in _scala_seq(store.jobsList(None))
        if _opt(j.jobGroup()) == group
    ]
    stages = []
    for j in jobs:
        for sid in _scala_seq(j.stageIds()):
            try:
                stages.append(store.lastStageAttempt(int(sid)))
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
    run_ms = cpu_ns = gc_ms = shuffle = 0
    intervals = []
    skew_stage, skew_run = None, -1
    for s in stages:
        run_ms += s.executorRunTime()
        cpu_ns += s.executorCpuTime()
        gc_ms += s.jvmGcTime()
        shuffle += s.shuffleWriteBytes()
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        if sub is not None and done is not None:
            intervals.append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        if s.executorRunTime() > skew_run:
            skew_stage, skew_run = s, s.executorRunTime()
    task_skew = 1.0
    if skew_stage is not None:
        durs = [
            _opt(t.duration())
            for t in _scala_seq(store.taskList(skew_stage.stageId(), skew_stage.attemptId(), 100000))
        ]
        durs = [d for d in durs if d is not None]
        if durs and statistics.median(durs) > 0:
            task_skew = max(durs) / statistics.median(durs)
    # wall covered by at least one running stage, clipped to the timed window
    covered, cur = 0.0, None
    for a, b in sorted((max(a, wall[0]), min(b, wall[1])) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        covered += cur[1] - cur[0]
    nodes = _sql_nodes(spark, {int(j.jobId()) for j in jobs})
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "executor_run_s": run_ms / 1000.0,
        "executor_cpu_s": cpu_ns / 1e9,
        "jvm_gc_s": gc_ms / 1000.0,
        "shuffle_write_bytes": shuffle,
        "task_skew": task_skew,
        "driver_overhead_s": (wall[1] - wall[0]) - covered,
        "python_bytes_sent": sum(v for _, m, v in nodes if m == "data sent to Python workers"),
        "python_bytes_returned": sum(
            v for _, m, v in nodes if m == "data returned from Python workers"
        ),
        "nodes": nodes,
    }


def output_rows(nodes: list[tuple[str, str, float]], node_name: str) -> list[float]:
    """``number of output rows`` of every node called ``node_name``, root first."""
    return [v for n, m, v in nodes if n == node_name and m == "number of output rows"]
