"""The benchmark workloads: seeded inputs through the engine's public entry
points, timed from outside, with every output checked against the oracle.

``skewed_fused`` times one job from the pages scan to a completed ``noop``
sink through ``engine.pipeline.run_extract(mode="fused")``.
``resume_merge`` times one full ``engine.run_pipeline`` ``--resume``
increment, from session start to the merged table with lineage and
``_metrics`` written.

Untraced runs report the end-to-end metrics. Traced runs time the calls
into each layer, read Spark's status store, and return the per-layer
ledger. The staged path (``mode="staged"``) is timed and checked in the
traced pass of ``skewed_fused``, whose routing layers are read from a
sample of small docs without a lang hint.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from perfbench import corpus, sparkprobe
from perfbench.layers import layer_pass

SETUPS = 3        # setup samples per untraced extract run (setup_s is their median)
TRACE_REPS = 2    # repetitions of each traced job (medians are reported)
LAYER_DOCS = 300  # rows in the single-thread layer pass
UNHINTED_DOCS = 1000  # small docs without a lang hint, for the routing layers
ARROW_BATCH = {"fused": "128", "staged": "4096"}  # the rows per batch bench.py uses


@dataclass
class Ctx:
    cache: str
    seed: int
    seconds: float
    procs: int
    conf: dict
    scale: float = 1.0
    corrupt: bool = False  # self-test: alter one output row before each check
    per_layer: tuple = ()  # the per-layer metric names of BENCHMARK.json

    def size(self, n: int) -> int:
        return max(20, int(n * self.scale))


@dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict          # name -> value
    ledger: dict | None = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --- extract workloads ----------------------------------------------------

def _extract_df(spark, pages: str, mode: str):
    """The product's extraction DataFrame over a pages parquet."""
    from engine import pipeline

    return pipeline.run_extract(spark.read.parquet(pages), mode=mode)


def _corrupted(df, url: str):
    """``df`` with the text of the row for ``url`` altered."""
    from pyspark.sql import functions as F

    text = F.col("extracted_text")
    return df.withColumn(
        "extracted_text",
        F.when(F.col("url") == url, F.concat(text, F.lit("#"))).otherwise(text),
    )


def _check_extract(ctx: Ctx, df, oracle: dict) -> int:
    if ctx.corrupt:
        df = _corrupted(df, min(oracle))
    rows = df.select("url", corpus.digest_column(df).alias("d"), "status").collect()
    return corpus.count_failed([(r[0], r[1], r[2]) for r in rows], oracle)


def _root_rows(info: dict, node: str) -> float:
    """Rows out of the root-most ``node`` of the job's SQL plan."""
    rows = sparkprobe.output_rows(info["nodes"], node)
    return rows[0] if rows else 0.0


def _first_file(pages: str) -> str:
    """One parquet file of the corpus (the whole corpus when it is one file)."""
    if os.path.isdir(pages):
        return os.path.join(pages, sorted(f for f in os.listdir(pages) if f.endswith(".parquet"))[0])
    return pages


def _batch(spark, mode: str) -> None:
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH[mode])


def extract_setup(ctx: Ctx, m: dict):
    """Session start plus one warm-up job over one file of the corpus."""
    t0 = time.perf_counter()
    spark = sparkprobe.start_session(ctx.conf)
    _noop(_extract_df(spark, _first_file(m["pages"]), "fused"))
    return time.perf_counter() - t0, spark


def _launch_jvm(ctx: Ctx, m: dict) -> None:
    """One untimed setup, so that every setup sample that follows pays for a
    session start and a warm-up on a running JVM and nothing more; the first
    job of a JVM runs 2-3x slower and would otherwise be one of the samples."""
    extract_setup(ctx, m)[1].stop()


def run_skewed_fused(ctx: Ctx, trace: bool) -> Result:
    phase = {}
    phase["inputs_s"], (m, oracle) = _timed(lambda: corpus.load(
        ctx.cache, "skewed", ctx.seed, {"docs": ctx.size(3000), "files": ctx.procs},
        ctx.procs))
    if trace:
        return _trace_skewed(ctx, m, oracle)
    setups, spark = [], None
    try:
        # the oracle digests are computed while the JVM starts
        phase["jvm_s"], _ = _timed(lambda: _launch_jvm(ctx, m))
        phase["oracle_wait_s"], m["oracle"] = _timed(oracle.get)
        for i in range(SETUPS):
            t, spark = extract_setup(ctx, m)
            setups.append(t)
            if i < SETUPS - 1:
                spark.stop()
        # one untimed job over the whole corpus, whose output is compared
        # with the oracle; it also warms the JIT on the real input sizes
        phase["check_s"], failed = _timed(lambda: _check_extract(
            ctx, _extract_df(spark, m["pages"], "fused"), m["oracle"]))
        sc = spark.sparkContext
        rss = sparkprobe.RssSampler()
        times = []
        rss.start()
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end or len(times) < 1:
            sc.setJobGroup(f"timed-{len(times)}", "perfbench timed job")
            times.append(_timed(lambda: _noop(_extract_df(spark, m["pages"], "fused")))[0])
        rss.stop()
        # every timed job must have emitted one row per doc
        for i in range(len(times)):
            info = sparkprobe.collect_group(spark, f"timed-{i}", (0.0, 0.0))
            failed = max(failed, abs(m["docs"] - int(_root_rows(info, "MapInArrow"))))
    finally:
        sparkprobe.shutdown(spark)
    run_s = _median(times)
    return Result(
        attempted=m["docs"],
        failed=failed,
        metrics={
            "run_s": run_s,
            "docs_per_s": m["docs"] / run_s,
            "setup_s": _median(setups),
            "py_worker_peak_rss_mb": rss.peak_mb,
        },
        ledger={"run_s_samples": times, "setup_s_samples": setups, "phase_s": phase},
    )


def _trace_skewed(ctx: Ctx, m: dict, oracle) -> Result:
    """Per-layer pass on the skewed corpus. Each of ``TRACE_REPS`` rounds
    times a scan to noop, an identity ``mapInArrow``, the fused job, the
    fused job again under a job group whose metrics are then read from the
    status store, ``pipeline.detect`` alone, and the staged job under a job
    group."""
    spark = None
    try:
        _launch_jvm(ctx, m)
        m["oracle"] = oracle.get()
        lp = layer_pass(corpus.sample_rows("skewed", ctx.seed, ctx.size(LAYER_DOCS)))
        lp_unhinted = layer_pass(
            corpus.sample_rows("unhinted", ctx.seed, ctx.size(UNHINTED_DOCS)))
        setup_s, spark = extract_setup(ctx, m)
        failed = _check_extract(ctx, _extract_df(spark, m["pages"], "fused"), m["oracle"])
        sc = spark.sparkContext
        pages = m["pages"]

        def scan():
            _noop(spark.read.parquet(pages).select("url", "warc_ts", "html", "lang"))

        def passthrough():
            df = spark.read.parquet(pages).select("url", "warc_ts", "html", "lang")
            _noop(df.mapInArrow(lambda batches: batches, schema=df.schema))

        def detect():
            from engine import pipeline

            _noop(pipeline.detect(spark.read.parquet(pages), emit_filtered_text=False))

        def traced(name: str, mode: str):
            """One job under its own job group, with the RSS sampler on."""
            group = f"{name}-{len(t[name])}"
            sc.setJobGroup(group, f"perfbench traced {name}")
            rss.start()
            w0 = time.time()
            t[name].append(_timed(lambda: _noop(_extract_df(spark, pages, mode)))[0])
            w1 = time.time()
            rss.stop()
            sc.setJobGroup("untraced", "perfbench untraced jobs")
            return sparkprobe.collect_group(spark, group, (w0, w1))

        t = {k: [] for k in ("scan", "pass", "fused", "fused_traced", "detect", "staged_traced")}
        fused_infos, staged_infos, det = [], [], None
        rss = sparkprobe.RssSampler()
        for _ in range(TRACE_REPS):
            _batch(spark, "fused")
            t["scan"].append(_timed(scan)[0])
            t["pass"].append(_timed(passthrough)[0])
            t["fused"].append(_timed(lambda: _noop(_extract_df(spark, pages, "fused")))[0])
            fused_infos.append(traced("fused_traced", "fused"))
            _batch(spark, "staged")
            sc.setJobGroup(f"detect-{len(t['detect'])}", "perfbench detect")
            w0 = time.time()
            t["detect"].append(_timed(detect)[0])
            det = sparkprobe.collect_group(spark, f"detect-{len(t['detect']) - 1}", (w0, time.time()))
            staged_infos.append(traced("staged_traced", "staged"))
            for info, node in ((fused_infos[-1], "MapInArrow"), (staged_infos[-1], "MapInPandas")):
                failed = max(failed, abs(m["docs"] - int(_root_rows(info, node))))
        # the staged path's output is checked against the oracle too
        failed = max(failed, _check_extract(ctx, _extract_df(spark, pages, "staged"), m["oracle"]))
    finally:
        sparkprobe.shutdown(spark)

    med = {k: _median(v) for k, v in t.items()}
    layers = _zero_layers(ctx)
    layers.update(_extraction_layers(lp))
    # Few skewed docs lack a decisive lang tag, so routing there is mostly
    # doc_route. The routing layers are read from the unhinted sample, where
    # block_route runs on every kept block.
    for name, key in (("extraction.routing.route_s", "route_s"),
                      ("extraction.core.orchestration_s", "orchestration_s")):
        layers[name] = lp_unhinted[key]
    layers.update(_spark_layers(fused_infos))
    split = {
        "engine.pipeline.scan_s": med["scan"],
        "engine.pipeline.boundary_s": med["pass"] - med["scan"],
        "engine.stages.udf_s": med["fused"] - med["pass"],
    }
    layers.update(split)
    detect_rows = sparkprobe.output_rows(det["nodes"], "MapInPandas")
    layers["engine.stages.detect_s"] = med["detect"]
    layers["engine.stages.recognize_assemble_s"] = med["staged_traced"] - med["detect"]
    layers["engine.stages.detect_rows_out"] = detect_rows[-1] if detect_rows else 0.0
    layers["engine.stages.keep_filter_ratio"] = _keep_filter_ratio(staged_infos[-1]["nodes"])
    # The single-thread layer calls, scaled from the sample to the corpus by
    # html bytes and spread over the Python workers, explain part of the UDF
    # time; the rest (Arrow conversion, batching, parallel imbalance) is
    # listed as unattributed instead of being dropped.
    python_est = (
        (lp["decode_s"] + lp["segment_s"] + lp["route_s"] + lp["normalize_s"]
         + lp["orchestration_s"])
        * m["html_bytes"] / max(1, lp["html_bytes"]) / ctx.procs
    )
    udf_s = split["engine.stages.udf_s"]
    layers["bench.trace_overhead_s"] = med["fused_traced"] - med["fused"]
    layers["bench.unattributed_s"] = udf_s - python_est
    ledger = {
        "run_s": med["fused"],
        "run_s_traced": med["fused_traced"],
        "setup_s": setup_s,
        "samples": t,
        "run_s_split": split,
        "udf_s_split": {
            "extraction_calls_est_s": python_est,
            "unattributed_s": udf_s - python_est,
        },
        "staged": {
            "run_s": med["staged_traced"],
            "staged_over_fused": med["staged_traced"] / med["fused_traced"],
            "detect_s": med["detect"],
            "recognize_assemble_s": med["staged_traced"] - med["detect"],
            "spark": [{k: v for k, v in i.items() if k != "nodes"} for i in staged_infos],
            "sql_nodes": staged_infos[-1]["nodes"],
        },
        "layer_pass": lp,
        "layer_pass_unhinted": lp_unhinted,
        "spark": [{k: v for k, v in i.items() if k != "nodes"} for i in fused_infos],
        "sql_nodes": fused_infos[-1]["nodes"],
    }
    return Result(attempted=m["docs"], failed=failed, metrics=layers, ledger=ledger)


def _keep_filter_ratio(nodes) -> float:
    """Rows out of the Catalyst keep filter ÷ rows out of the detect stage.
    Nodes are listed root first: detect is the last MapInPandas, and the
    keep filter is the Filter listed just before it."""
    rows = [(n, v) for n, m, v in nodes if m == "number of output rows"]
    idx = [i for i, (n, _) in enumerate(rows) if n == "MapInPandas"]
    if not idx:
        return 0.0
    det = idx[-1]
    for n, v in reversed(rows[:det]):
        if n == "Filter":
            return v / rows[det][1] if rows[det][1] else 0.0
    return 0.0


# --- shared per-layer helpers ---------------------------------------------

def _zero_layers(ctx: Ctx) -> dict:
    """Every per-layer metric, 0 where the workload does not run the layer."""
    return {name: 0.0 for name in ctx.per_layer}


def _extraction_layers(lp: dict) -> dict:
    return {
        "extraction.html_clean.decode_s": lp["decode_s"],
        "extraction.segment.segment_s": lp["segment_s"],
        "extraction.segment.mb_per_s": lp["segment_mb_per_s"],
        "extraction.normalize.normalize_s": lp["normalize_s"],
        "extraction.routing.route_s": lp["route_s"],
        "extraction.core.orchestration_s": lp["orchestration_s"],
        "extraction.segment.blocks_per_doc": lp["blocks_per_doc"],
        "extraction.segment.kept_ratio": lp["kept_ratio"],
    }


def _spark_layers(infos: list[dict]) -> dict:
    keys = ("executor_run_s", "executor_cpu_s", "jvm_gc_s", "task_skew", "jobs",
            "driver_overhead_s", "shuffle_write_bytes", "python_bytes_sent",
            "python_bytes_returned")
    return {f"engine.spark.{k}": _median([float(i[k]) for i in infos]) for k in keys}


# --- resume_merge ---------------------------------------------------------

RUN_ID = "r1"


def _table_dirs(out: str) -> list[str]:
    return [out, f"{out}_lineage", f"{out}_metrics"]


def _clear(out: str) -> None:
    for d in _table_dirs(out):
        shutil.rmtree(d, ignore_errors=True)


def _restore(pristine: str, out: str) -> None:
    _clear(out)
    for src, dst in zip(_table_dirs(pristine), _table_dirs(out)):
        shutil.copytree(src, dst)


def _run_pipeline(args: list[str]) -> None:
    """``engine.run_pipeline.main`` on ``args``, in this process. It reuses
    the session :func:`sparkprobe.start_session` opened and stops it."""
    from engine import run_pipeline

    argv = sys.argv
    sys.argv = ["run_pipeline.py"] + args
    try:
        with contextlib.redirect_stdout(sys.stderr):
            run_pipeline.main()
    finally:
        sys.argv = argv


def _resume_args(m: dict, out: str, base: bool) -> list[str]:
    if base:
        return ["--pages", m["base"], "--out", out, "--run-id", "r0"]
    return ["--pages", m["incoming"], "--out", out, "--resume", "--run-id", RUN_ID]


def _timed_pipeline(ctx: Ctx, args: list[str]) -> float:
    t0 = time.perf_counter()
    sparkprobe.start_session(ctx.conf)
    _run_pipeline(args)
    return time.perf_counter() - t0


def _check_resume(ctx: Ctx, m: dict, out: str) -> int:
    """The table's url set is base ∪ incoming, base rows are unchanged (the
    oracle's output, still under run r0) and new rows match the oracle under
    the increment's run id; the run's lineage and _metrics exist."""
    from pyspark.sql import functions as F

    spark = sparkprobe.start_session(ctx.conf)
    df = spark.read.parquet(out)
    if ctx.corrupt:
        df = _corrupted(df, m["incoming_urls"][-1])
    rows = df.select("url", corpus.digest_column(df).alias("d"), "status", "lineage").collect()
    failed = corpus.count_failed([(r[0], r[1], r[2]) for r in rows], m["oracle"])
    base = set(m["base_urls"])
    failed += sum(1 for r in rows if r[3] != ("r0" if r[0] in base else RUN_ID))
    if not os.path.exists(os.path.join(f"{out}_lineage", f"{RUN_ID}.json")):
        failed += m["docs"]
    n_metrics = (
        spark.read.parquet(f"{out}_metrics").where(F.col("run_id") == RUN_ID).count()
    )
    if n_metrics == 0:
        failed += m["docs"]
    return failed


def run_resume_workload(ctx: Ctx, trace: bool) -> Result:
    size = {"base": ctx.size(5000), "incoming": ctx.size(2000)}
    m, oracle = corpus.load(ctx.cache, "resume", ctx.seed, size, ctx.procs)
    work = os.path.join(ctx.cache, "work")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "extracted")
    pristine = os.path.join(work, "pristine")
    if trace:
        return _trace_resume(ctx, m, oracle, out, pristine)
    m["oracle"] = oracle.get()
    times = []
    rss = sparkprobe.RssSampler()
    try:
        # set-up is the base-table build from a fresh JVM, once per run: it
        # costs 25-35 s on 4 cores, so more samples would not fit the run budget
        _clear(out)
        setup_s = _timed_pipeline(ctx, _resume_args(m, out, base=True))
        _clear(pristine)
        _restore(out, pristine)
        # an increment takes 12-16 s, and the first after the base build runs
        # on a colder JIT, so every run times at least two
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end or len(times) < 2:
            _restore(pristine, out)
            rss.start()
            times.append(_timed_pipeline(ctx, _resume_args(m, out, base=False)))
            rss.stop()
        failed = _check_resume(ctx, m, out)
    finally:
        from pyspark.sql import SparkSession

        sparkprobe.shutdown(SparkSession.getActiveSession())
    run_s = _median(times)
    return Result(
        attempted=m["docs"],
        failed=failed,
        metrics={
            "run_s": run_s,
            "docs_per_s": m["docs"] / run_s,
            "setup_s": setup_s,
            "py_worker_peak_rss_mb": rss.peak_mb,
        },
        ledger={"run_s_samples": times, "setup_s_samples": [setup_s]},
    )


class _IncrementTracer:
    """Timers around the calls ``run_pipeline.main`` makes into
    ``engine.tableio`` and ``engine.metrics``, installed for one increment,
    so the traced increment runs the product's own code path.

    Work done only to measure (staging statistics, bucket sizes, reading the
    status store) runs under its own job group, is timed into ``side`` and is
    left out of the traced wall time."""

    PHASES = ("session_s", "extract_stage_s", "merge_by_url_s", "write_lineage_s",
              "partition_metrics_s", "stop_s")

    def __init__(self, out: str) -> None:
        self.out = out
        self.ph = dict.fromkeys(self.PHASES, 0.0)
        self.side = 0.0
        self.stats: dict = {}
        self.info: dict = {}
        self.w0 = 0.0

    def _timed(self, phase: str, fn, *args, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self.ph[phase] += time.perf_counter() - t0

    @contextlib.contextmanager
    def _measuring(self, spark):
        sc = spark.sparkContext
        sc.setJobGroup("measure", "perfbench measurement only")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.side += time.perf_counter() - t0
            sc.setJobGroup("increment", "perfbench traced increment")

    def _staging_stats(self, spark, staging: str) -> None:
        from pyspark.sql import functions as F

        with open(os.path.join(self.out, "_layout.json"), encoding="utf-8") as f:
            n_buckets = json.load(f)["n_buckets"]
        staged = spark.read.parquet(staging)
        self.stats["staged_rows"] = staged.count()
        self.stats["dirty_buckets"] = staged.select(
            F.pmod(F.xxhash64("url"), F.lit(n_buckets)).alias("b")
        ).distinct().count()
        self.stats["staged_bytes"] = _du(staging)

    def _bucket_mtimes(self) -> dict:
        return {d: os.path.getmtime(os.path.join(self.out, d))
                for d in os.listdir(self.out) if d.startswith("bucket=")}

    @contextlib.contextmanager
    def installed(self):
        from pyspark.sql import SparkSession

        from engine import metrics as M
        from engine import tableio

        write_table, merge_by_url = tableio.write_table, tableio.merge_by_url
        write_lineage, partition_metrics = tableio.write_lineage, M.partition_metrics
        stop = SparkSession.stop

        def write_table_t(df, path):
            if ".staging-" in path:
                self._timed("extract_stage_s", write_table, df, path)
                with self._measuring(df.sparkSession):
                    self._staging_stats(df.sparkSession, path)
            elif path == f"{self.out}_metrics":
                self._timed("partition_metrics_s", write_table, df, path)
            else:
                write_table(df, path)

        def merge_by_url_t(spark, target, updates, *args, **kw):
            with self._measuring(spark):
                before = self._bucket_mtimes()
            self._timed("merge_by_url_s", merge_by_url, spark, target, updates, *args, **kw)
            with self._measuring(spark):
                after = self._bucket_mtimes()
                self.stats["merge_bytes"] = sum(
                    _du(os.path.join(self.out, d)) for d, t in after.items()
                    if before.get(d) != t
                )

        def stop_t(spark):
            with self._measuring(spark):
                self.info = sparkprobe.collect_group(spark, "increment", (self.w0, time.time()))
                self.stats["table_bytes"] = _du(self.out)
            self._timed("stop_s", stop, spark)

        patches = [
            (tableio, "write_table", write_table_t),
            (tableio, "merge_by_url", merge_by_url_t),
            (tableio, "write_lineage",
             lambda *a, **kw: self._timed("write_lineage_s", write_lineage, *a, **kw)),
            (M, "partition_metrics",
             lambda *a, **kw: self._timed("partition_metrics_s", partition_metrics, *a, **kw)),
            (SparkSession, "stop", stop_t),
        ]
        saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
        try:
            for obj, name, fn in patches:
                setattr(obj, name, fn)
            yield self
        finally:
            for obj, name, fn in saved:
                setattr(obj, name, fn)

    def run(self, ctx: Ctx, args: list[str]) -> float:
        """One ``run_pipeline.main`` increment with the timers installed;
        returns its wall seconds less the measurement-only work."""
        with self.installed():
            t0 = time.perf_counter()
            self.w0 = time.time()
            spark = self._timed("session_s", sparkprobe.start_session, ctx.conf)
            spark.sparkContext.setJobGroup("increment", "perfbench traced increment")
            _run_pipeline(args)
            return time.perf_counter() - t0 - self.side


def _trace_resume(ctx: Ctx, m: dict, oracle, out: str, pristine: str) -> Result:
    """A traced increment between two untraced ones; all three run
    ``run_pipeline.main``."""
    from pyspark.sql import SparkSession

    m["oracle"] = oracle.get()
    lp = layer_pass(corpus.sample_rows("resume", ctx.seed, ctx.size(LAYER_DOCS)))
    args = _resume_args(m, out, base=False)
    tracer = _IncrementTracer(out)
    try:
        _clear(out)
        setup_s = _timed_pipeline(ctx, _resume_args(m, out, base=True))
        _clear(pristine)
        _restore(out, pristine)
        _restore(pristine, out)
        untraced = [_timed_pipeline(ctx, args)]
        _restore(pristine, out)
        rss = sparkprobe.RssSampler()
        rss.start()
        traced_s = tracer.run(ctx, args)
        rss.stop()
        # a second untraced increment after the traced one, so that the JIT
        # warming from one increment to the next cancels out of the overhead
        _restore(pristine, out)
        untraced.append(_timed_pipeline(ctx, args))
        failed = _check_resume(ctx, m, out)
    finally:
        sparkprobe.shutdown(SparkSession.getActiveSession())

    ph, st = tracer.ph, tracer.stats
    with open(os.path.join(f"{out}_lineage", f"{RUN_ID}.json"), encoding="utf-8") as f:
        n_rows = json.load(f)["total_rows"]
    untraced_s = _median(untraced)
    unattributed = traced_s - sum(ph.values())
    layers = _zero_layers(ctx)
    layers.update(_extraction_layers(lp))
    layers.update(_spark_layers([tracer.info]))
    layers["engine.tableio.merge_by_url_s"] = ph["merge_by_url_s"]
    layers["engine.tableio.write_lineage_s"] = ph["write_lineage_s"]
    layers["engine.metrics.partition_metrics_s"] = ph["partition_metrics_s"]
    layers["engine.tableio.dirty_buckets"] = float(st["dirty_buckets"])
    layers["engine.tableio.write_amplification"] = st["merge_bytes"] / max(1, st["staged_bytes"])
    layers["engine.tableio.table_bytes_per_doc"] = st["table_bytes"] / max(1, n_rows)
    layers["engine.tableio.resume_skip_ratio"] = (m["docs"] - st["staged_rows"]) / m["docs"]
    layers["bench.trace_overhead_s"] = traced_s - untraced_s
    layers["bench.unattributed_s"] = unattributed
    ledger = {
        "run_s": untraced_s,
        "run_s_untraced_samples": untraced,
        "run_s_traced": traced_s,
        "setup_s": setup_s,
        "run_s_split": ph,
        # argument parsing, the pages read and anti-join plan, the final
        # count and the JSON print of run_pipeline.main
        "unattributed_s": unattributed,
        "measurement_only_s": tracer.side,
        "tableio": {**st, "table_rows": n_rows},
        "layer_pass": lp,
        "spark": {k: v for k, v in tracer.info.items() if k != "nodes"},
        "rss_peak_mb": rss.peak_mb,
    }
    return Result(attempted=m["docs"], failed=failed, metrics=layers, ledger=ledger)


WORKLOADS = {
    "skewed_fused": run_skewed_fused,
    "resume_merge": run_resume_workload,
}
