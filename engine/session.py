"""SparkSession builder with the engine's standard configuration.

Tuned for the pages workload: Arrow transfer on, small Arrow batches because
the binary ``html`` column is large (SURVEY.md §7.1 step 6), AQE enabled for
runtime shuffle re-planning, UTC session timezone for deterministic timestamp
semantics, and shuffle partitions sized to cores rather than the 200 default.

A local session starts Spark's Python daemon through :mod:`engine.pydaemon`
(``spark.python.daemon.module``), which runs it on the interpreter's
installed, compiled pyspark when that is the version of Spark's
``pyspark.zip``; the stock daemon compiles pyspark from the zip at every
session's first Python task. A daemon starts before ``--py-files`` reach a
worker's ``sys.path``, so the session also puts the root ``engine`` was
imported from (a checkout or the ``--py-files`` zip; in local mode both are
on the driver's host) on the workers' ``PYTHONPATH``. A local session
also lists a table's files on the driver however many directories it has:
above ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32 by
default) Spark lists them in a job of its own, which in local mode runs on
the same host's threads and only adds the job (0.4-0.6 s for a 64-bucket
table). Other masters keep the stock daemon and Spark's threshold.

The driver heap defaults to 24g, or to half of the host's memory where that
is less (a heap larger than the host gets the JVM killed mid-run);
``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Binary html rows are big; keep Arrow batches small so (a) a batch of giant
# pages fits comfortably in the Python worker and (b) the JVM serializer and
# the Python worker pipeline tightly instead of alternating on big chunks
# (O6 analog at batch level; measured ~3-4x throughput vs 512-row batches on
# the skewed bench corpus).
ARROW_BATCH_ROWS = 128

# Local sessions never list a table's files in a Spark job (see above).
LOCAL_LISTING_THRESHOLD = str(2**31 - 1)

# The directory (or zip) this package was imported from.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set, else ``min(24g, half the host's RAM)``."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    except (ValueError, OSError):
        return "24g"
    return "24g" if half_mib >= 24 << 10 else f"{half_mib}m"


def get_spark(
    app_name: str = "spark-extract",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT64 microsecond timestamps, not INT96: their parquet footers
        # carry min/max, which tableio's merge census reads instead of
        # aggregating the rows in a Spark job
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # reap reliable-checkpoint files once their RDD is GC'd (iterative
        # algorithms checkpoint per invocation — without this, a long
        # session accumulates checkpoint data on disk)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if master.startswith("local"):
        builder = (
            builder.config("spark.python.daemon.module", "engine.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", _ROOT)
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                    LOCAL_LISTING_THRESHOLD)
        )
    # In-repo jars: MiniCatalog (DSv2 row-level ops — MERGE INTO executes for
    # real, engine/java/minicat, VERDICT r2 #2) and mediadec (JVM-native
    # javax.imageio/javax.sound media decode, VERDICT r3 #1). Registered
    # whenever built; spark.jars reaches driver + executors in any deploy.
    dist = os.path.join(_ROOT, "dist")
    jars = [
        j
        for j in (os.path.join(dist, "minicat.jar"), os.path.join(dist, "mediadec.jar"))
        if os.path.exists(j)
    ]
    if jars:
        builder = builder.config("spark.jars", ",".join(jars))
    if os.path.exists(os.path.join(dist, "minicat.jar")):
        builder = builder.config("spark.sql.catalog.mini", "minicat.MiniCatalog")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_checkpoint_tracked(df):
    """``df.localCheckpoint()`` plus the handle needed to release it.

    A local checkpoint persists its RDD directly at the RDD level, so
    ``Dataset.unpersist()`` (which only clears CacheManager entries) cannot
    free it — the blocks sit in executor memory until the JVM happens to GC
    the Dataset and the ContextCleaner reaps it. Iterative trainers
    (engine/bpe, engine/logreg) checkpoint every round; in a long-lived
    session that pins one table per round. Returns ``(checkpointed_df,
    rdd_ids)`` where ``rdd_ids`` are the persistent-RDD registry entries the
    checkpoint created — pass them to :func:`release_local_checkpoint` as
    soon as the next round is materialized. The id diff is race-free in
    practice: checkpoints are driver-side calls and the engine trains one
    model at a time.
    """
    jsc = df.sparkSession.sparkContext._jsc
    before = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    out = df.localCheckpoint()  # eager: blocks exist before we diff
    after = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    return out, sorted(after - before)


def release_local_checkpoint(spark, rdd_ids) -> None:
    """Unpersist the RDDs behind a tracked local checkpoint (see above).
    Safe to call with ids already cleaned — missing entries are skipped."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in rdd_ids:
        rdd = m.get(i)
        if rdd is not None:
            rdd.unpersist(False)
