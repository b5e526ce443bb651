"""Iceberg-style table IO on a parquet-directory fallback.

The design targets Iceberg (``MERGE INTO extracted t USING updates s ON
t.url = s.url``, snapshot lineage, SURVEY.md §2.3 J4); this sandbox has no
Iceberg runtime jar (verified, SURVEY.md §7), so the same *semantics* are
provided over plain parquet directories (SURVEY.md §7.3 H5):

- ``merge_by_url``  — idempotent upsert: existing rows whose url appears in
  the updates are replaced (anti-join + union), others kept. The table is
  laid out in ``bucket=N`` subdirectories keyed by ``pmod(xxhash64(url),
  n_buckets)`` (the parquet emulation of Iceberg's bucket partition
  transform): a merge touches ONLY the dirty buckets — the ones the
  updates hash into — so incremental-merge cost is O(updates), not
  O(table) (VERDICT r1). One census aggregation of the updates by bucket
  yields the dirty set with per-bucket row counts and min/max. When no
  update url exists yet (the ``--resume`` case) the merge APPENDS: one
  new data file per dirty bucket, renamed into the live bucket dir, no
  existing file rewritten (Iceberg's append snapshot). Otherwise each
  dirty bucket is rewritten into one data file (rows are grouped by
  bucket before every bucketed write, the analog of Iceberg's
  ``write.distribution-mode=hash``) and swapped in whole (write-tmp +
  rename). Recorded ranges are widened before any rename; a crash
  between renames leaves a prefix merged, and re-running the same merge
  converges (idempotence and kill-point tests).
- ``_layout.json``  — bucket count, the table's Spark ``schema`` (the data
  columns, without ``bucket``), per-bucket min/max ``stats`` and row
  counts (``rows``), the Iceberg manifest analog: ``read_range`` prunes
  on the stats and ``table_rows`` sums the counts without a scan. A new
  or migrated table's layout is written into its tmp dir, so it moves in
  with the data; every writer saves it after its data files are written
  and before any of them moves in.
- ``_read``         — the one reader of a table: ``read_table`` (and
  through it ``remaining``), ``read_range``, ``read_url``, the merge's
  dirty-bucket read, the stats passes and ``compact`` all go through it.
  It hands Spark the recorded schema (or the one a caller just wrote,
  for a staging or tmp dir), so Spark runs no schema-inference job, and
  ``get_spark`` raises the parallel-listing threshold in local mode, so
  it runs no listing job either. A layout that records no schema, or
  that is older than one of the table's data files (a file written
  outside ``tableio``, which may carry a column the layout lacks), is
  read by inference over every file instead, with one RuntimeWarning.
- ``replace_dir`` / ``heal`` — the one crash-safe directory replace
  (Iceberg's atomic snapshot commit, on a file system): every table and
  IVF-index rewrite writes a tmp dir, renames the live dir aside, renames
  the tmp dir in and deletes the aside last. The aside is a hidden
  ``_gc-<tag>-bucket-N`` for a partition dir and a ``<live>.gc-<tag>``
  sibling otherwise. Writers (``write_table``, ``write_table_sorted``,
  ``merge_by_url``, ``compact``, the IVF upsert and compaction) heal on
  entry: an aside whose live dir is missing is restored, any other aside
  and every ``.tmp-*``/``_compact-*`` leftover deleted. Readers
  (``read_table``, ``read_range``, ``read_url``, ``ivf_topk``) only
  restore.
- ``remaining``     — checkpointed-resume anti-join (J3): pages minus already-
  extracted urls. No forced broadcast: the done set is parquet-backed, so
  Catalyst's size statistics broadcast it when small and fall back to a
  shuffled join when not (an unconditional hint OOMs at table scale,
  ADVICE r1).
- ``write_lineage`` / ``append_run`` — per-run lineage JSON next to the data
  (the run's partition row counts, the table total from the layout) and
  the append-by-run ``_metrics`` table, the fallback for Iceberg snapshot
  metadata.

When an Iceberg catalog is configured (``spark.sql.catalog.*``), the same
calls route to real ``MERGE INTO`` SQL — the switch is config, not code
(see ``iceberg_available``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def rowlevel_catalog_available(spark: SparkSession) -> bool:
    """True when the in-repo MiniCatalog (engine/java/minicat) is on the
    classpath — a minimal DSv2 catalog whose tables support row-level
    operations, so ``merge_sql`` EXECUTES end-to-end (VERDICT r2 #2) in the
    sandbox where no Iceberg runtime jar exists. Single-JVM storage: a test
    catalog, not a production sink — production routes to Iceberg via
    ``iceberg_available`` with the identical MERGE statement."""
    if spark.conf.get("spark.sql.catalog.mini", None) is None:
        return False
    try:
        # instantiate through Spark's catalog manager (the session
        # classloader sees spark.jars; the py4j root classloader does not)
        spark.sql("SHOW TABLES IN mini.ns")
        return True
    except Exception:  # noqa: BLE001
        return False


# Hash buckets for the merge layout. 64 keeps per-bucket rewrites ~1/64 of
# the table; at real scale this maps to Iceberg `bucket(N, url)` partitioning.
N_MERGE_BUCKETS = 64


def _is_bucketed(path: str) -> bool:
    return any(d.startswith("bucket=") for d in os.listdir(path))


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def _write_buckets(df: DataFrame, path: str, tasks: int | None = None) -> None:
    """Write ``df`` (with its ``bucket`` column) as ``bucket=N`` dirs under
    ``path``, rows grouped by bucket first — the analog of Iceberg's hash
    write distribution (``write.distribution-mode=hash``). Without it every
    input task writes its own file into every bucket it touches. With AQE
    the rebalance keeps a small bucket in one task (one file per bucket)
    and splits a bucket larger than ``advisoryPartitionSizeInBytes``, so
    large buckets still write in parallel.

    ``tasks`` hash-partitions into exactly that many tasks instead, which
    AQE leaves as they are: every bucket is written by one task, so as
    exactly one file, and small buckets are not coalesced into one task
    that writes every file in turn."""
    grouped = (
        df.hint("rebalance", "bucket") if tasks is None
        else df.repartition(tasks, "bucket")
    )
    grouped.write.mode("overwrite").partitionBy("bucket").parquet(path)


def replace_dir(tmp: str, live: str) -> None:
    """Put the fully written directory ``tmp`` in place of ``live`` — THE
    directory replace of every table and index rewrite. ``live`` is
    renamed aside, ``tmp`` renamed into place, and the aside deleted last,
    so a crash at any point leaves one whole version live or parked aside
    (never neither), and :func:`heal` restores or deletes the aside. The
    aside of a partition dir ``key=V`` is a hidden ``_gc-<tag>-key-V``
    beside it (the name avoids '=', a partition-discovery trigger even
    under a leading underscore); any other dir's is a ``<live>.gc-<tag>``
    sibling."""
    if not os.path.exists(live):
        os.rename(tmp, live)
        return
    parent, name = os.path.split(live)
    tag = uuid.uuid4().hex[:8]
    aside = (
        os.path.join(parent, f"_gc-{tag}-{name.replace('=', '-', 1)}")
        if "=" in name else f"{live}.gc-{tag}"
    )
    os.rename(live, aside)
    os.rename(tmp, live)
    shutil.rmtree(aside)


def heal(path: str, restore_only: bool = False, what: str = "table") -> None:
    """Undo what an interrupted :func:`replace_dir` left at ``path``: an
    aside whose live dir is missing (the table's ``.gc-`` sibling, or a
    ``_gc-`` partition aside inside it) is renamed back, announced with one
    RuntimeWarning. Writers heal on entry and also delete the asides whose
    live dir exists and the ``.tmp-*``/``_compact-*`` dirs a crash before
    the swap left (single-writer: nothing else is mid-replace then);
    readers pass ``restore_only``."""

    def restore(aside: str, live: str) -> None:
        os.rename(aside, live)
        warnings.warn(
            f"{what} {path}: restored {aside} to {live} after an "
            "interrupted directory replace",
            RuntimeWarning,
            stacklevel=3,
        )

    # glob.escape: a path containing [ ] * ? must not become a pattern
    stem = glob.escape(path)
    asides = sorted(glob.glob(stem + ".gc-*"), key=os.path.getmtime)
    if asides and not os.path.exists(path):
        restore(asides.pop(), path)
    if os.path.isdir(path):
        for d in sorted(os.listdir(path)):
            full = os.path.join(path, d)
            if d.startswith("_gc-"):
                live = os.path.join(path, d.split("-", 2)[2].replace("-", "=", 1))
                if not os.path.exists(live):
                    restore(full, live)
                elif not restore_only:
                    shutil.rmtree(full)
            elif d.startswith("_compact-") and not restore_only:
                shutil.rmtree(full)
    if not restore_only:
        for stale in asides + glob.glob(stem + ".tmp-*"):
            shutil.rmtree(stale, ignore_errors=True)


def read_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame | None:
    """The table at ``path`` without its ``bucket`` column, or None when it
    does not exist. ``schema``, the data columns of the DataFrame that was
    just written there, spares the inference a table without a layout
    needs (see :func:`_read`)."""
    heal(path, restore_only=True)
    if not os.path.exists(path):
        return None
    # `bucket` is merge-layout plumbing, not part of the logical schema
    return _read(spark, path, schema=schema).drop("bucket")


def _data_files(path: str) -> list[tuple[str, int]]:
    """``(name, mtime_ns)`` of every data file of the table at ``path``:
    the files in its root and in its ``bucket=N`` dirs, not the hidden or
    ``_``-prefixed ones (checksums, markers, the layout)."""
    found = []
    with os.scandir(path) as top:
        for e in top:
            if e.name.startswith((".", "_")):
                continue
            if e.is_file():
                found.append((e.name, e.stat().st_mtime_ns))
            elif e.name.startswith("bucket="):
                with os.scandir(e.path) as files:
                    found += [
                        (f"{e.name}/{f.name}", f.stat().st_mtime_ns)
                        for f in files if not f.name.startswith((".", "_"))
                    ]
    return found


def _recorded_schema(path: str, layout: dict) -> StructType | None:
    """The data schema ``layout`` records for the table at ``path``, or
    None, announced with one RuntimeWarning, when it cannot be trusted: the
    layout records none (a table written before schemas were recorded; the
    next tableio writer records it), or a data file is newer than it. Every
    tableio writer saves the layout after writing its files, so a newer
    file was written outside tableio and may carry a column the recorded
    schema lacks. The check stats files; it runs no Spark job."""
    recorded = layout.get("schema")
    if recorded is None:
        why = "records no schema"
    else:
        stamp = os.stat(os.path.join(path, "_layout.json")).st_mtime_ns
        newer = next((n for n, t in _data_files(path) if t > stamp), None)
        if newer is None:
            return StructType.fromJson(recorded)
        why = f"is older than the data file {newer}"
    warnings.warn(
        f"table {path}: _layout.json {why}; reading it with the schema "
        "inferred from every data file",
        RuntimeWarning,
        stacklevel=4,
    )
    return None


def _read(
    spark: SparkSession,
    path: str,
    dirs=(),
    schema: StructType | None = None,
) -> DataFrame:
    """THE reader of tableio's tables: the table at ``path``, or only its
    partition ``dirs`` (``basePath`` keeps their ``bucket`` column).

    The schema is ``schema`` when the caller has it (the data columns of
    what it just wrote), else the one ``_layout.json`` records, with
    ``bucket int`` added for a partitioned read. Spark then infers no
    schema; a table with no layout is inferred, as Spark always does, and
    one whose recorded schema cannot be trusted (:func:`_recorded_schema`)
    is inferred from every data file (``mergeSchema``), so a column only
    some files carry is kept, never dropped."""
    reader = spark.read
    if schema is None:
        layout = _read_layout(path)
        if layout is not None:
            schema = _recorded_schema(path, layout)
            if schema is None:
                reader = reader.option("mergeSchema", "true")
    if schema is not None:
        if dirs or _is_bucketed(path):
            schema = StructType(
                [*_data_schema(schema).fields, StructField("bucket", IntegerType())]
            )
        reader = reader.schema(schema)
    if dirs:
        return reader.option("basePath", path).parquet(*dirs)
    return reader.parquet(path)


def _data_schema(schema: StructType) -> StructType:
    """``schema`` without the ``bucket`` partition column."""
    return StructType([f for f in schema.fields if f.name != "bucket"])


def _read_layout(path: str) -> dict | None:
    layout_file = os.path.join(path, "_layout.json")
    if not os.path.exists(layout_file):
        return None
    with open(layout_file, encoding="utf-8") as f:
        return json.load(f)


def _save_layout(path: str, layout: dict) -> None:
    """Replace ``_layout.json`` atomically (write a sibling, then
    ``os.replace``): a crash mid-write never leaves a torn manifest."""
    tmp = os.path.join(path, "_layout.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(layout, f)
    os.replace(tmp, os.path.join(path, "_layout.json"))


def _write_layout(
    path: str,
    n_buckets: int,
    schema: StructType | None = None,
    sort_by: str | None = None,
) -> None:
    """Record the bucket count and the data ``schema`` next to the data
    (the parquet-fallback analog of Iceberg's partition-spec and schema
    metadata; underscore-prefixed files are ignored by Spark's parquet
    listing). ``sort_by`` marks a range layout (see
    :func:`write_table_sorted`): buckets are CONTIGUOUS RANGES of that
    column, not url hashes."""
    layout: dict = {"n_buckets": n_buckets}
    if schema is not None:
        layout["schema"] = _data_schema(schema).jsonValue()
    if sort_by is not None:
        layout["sort_by"] = sort_by
    _save_layout(path, layout)


# Columns whose per-bucket min/max are recorded in _layout.json (r5,
# VERDICT r4 #7 — the manifest-level stats that make Iceberg range queries
# cheap: `read_range` skips every bucket whose [min,max] cannot overlap).
STATS_COLS = ("doc_id", "warc_ts")


def _stat_cast(df: DataFrame, col: str):
    """Stat values are stored JSON-plain: timestamps as epoch seconds
    (DOUBLE; session tz is pinned UTC), numerics as-is."""
    return F.col(col).cast("double") if dict(df.dtypes)[col] == "timestamp" else F.col(col)


def _bucket_stats(df: DataFrame) -> tuple[dict, dict]:
    """One aggregation of ``df`` by its ``bucket`` column. Returns
    ``(stats, rows)``: {bucket id (str) -> {col -> [min, max]}} for the
    STATS_COLS present (empty when none is), and {bucket id -> row count}."""
    cols = [c for c in STATS_COLS if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        e = _stat_cast(df, c)
        aggs += [F.min(e).alias(f"mn_{c}"), F.max(e).alias(f"mx_{c}")]
    got = df.groupBy("bucket").agg(*aggs).collect()
    stats = {
        str(r["bucket"]): {c: [r[f"mn_{c}"], r[f"mx_{c}"]] for c in cols}
        for r in got
    } if cols else {}
    return stats, {str(r["bucket"]): r["rows"] for r in got}


def _record_stats(path: str, stats: dict, rows: dict) -> None:
    """Merge per-bucket min/max entries and row counts into
    ``_layout.json`` as the exact values for those buckets (no-op without a
    layout file or entries). Counts live in their own ``rows`` map:
    ``read_range`` and the widening pass read ``stats`` per column."""
    layout = _read_layout(path)
    if layout is None or not (stats or rows):
        return
    if stats:
        layout.setdefault("stats", {}).update(stats)
    layout.setdefault("rows", {}).update(rows)
    _save_layout(path, layout)


def _refresh_stats(spark: SparkSession, path: str) -> None:
    """Recompute every bucket's min/max for the STATS_COLS present in the
    table schema, and its row count, and merge them into ``_layout.json``
    — the Iceberg manifest min/max and record-count analog."""
    if _read_layout(path) is None:
        return
    dirs = [
        os.path.join(path, d)
        for d in sorted(os.listdir(path))
        if d.startswith("bucket=")
    ]
    if dirs:
        _record_stats(path, *_bucket_stats(_read(spark, path, dirs)))


def table_rows(spark: SparkSession, path: str) -> int:
    """The table's row count: the sum of the per-bucket counts in
    ``_layout.json`` when it records them (no scan), else a count."""
    rows = (_read_layout(path) or {}).get("rows")
    if rows is not None:
        return sum(rows.values())
    return read_table(spark, path).count()


def _widen_stats(
    path: str, buckets, incoming: dict, schema: StructType | None = None
) -> None:
    """Pre-swap stats widening (review r5): the bucket-dir renames and the
    post-swap stats write are not atomic, and stale-but-NARROW stats
    would make read_range silently skip buckets holding just-merged rows
    if a crash lands between them. Before any rename, each dirty bucket's
    recorded range is widened to the UNION of its current range and the
    ``incoming`` range — correct for both the pre- and post-swap table at
    every crash point (min/max pruning only needs a superset). Buckets
    with no recorded entry stay unrecorded (already conservative); a
    column whose incoming range is unknown is dropped from the entry.

    The same save records ``schema``, the data schema of the files about
    to move in. It runs after they are written, so none of them is newer
    than the layout (see :func:`_recorded_schema`)."""
    layout = _read_layout(path)
    if layout is None:
        return
    if schema is not None:
        layout["schema"] = _data_schema(schema).jsonValue()
    stats = layout.get("stats") or {}
    for b in buckets:
        old = stats.get(str(b))
        if old is None:
            continue
        new = incoming.get(str(b), {})
        for col in list(old):
            lo_hi, inc = old[col], new.get(col)
            if (
                inc is None
                or inc[0] is None
                or inc[1] is None
                or lo_hi[0] is None
                or lo_hi[1] is None
            ):
                del old[col]  # unknown range on either side: no pruning
            else:
                old[col] = [min(lo_hi[0], inc[0]), max(lo_hi[1], inc[1])]
    _save_layout(path, layout)


def _widen_stats_for_swap(
    spark: SparkSession,
    path: str,
    tmp: str,
    buckets,
    schema: StructType | None = None,
) -> tuple[dict, dict]:
    """:func:`_widen_stats` with the incoming ranges read from the staged
    ``tmp`` dirs of a bucket rewrite, written with data ``schema``. Returns
    their ``(stats, rows)`` (collected even when the layout records no
    stats yet): after the swap each dirty bucket dir IS its ``tmp`` dir, so
    the merge records these as the exact entries instead of re-reading the
    swapped buckets."""
    tmp_dirs = [
        os.path.join(tmp, f"bucket={b}")
        for b in buckets
        if os.path.exists(os.path.join(tmp, f"bucket={b}"))
    ]
    stats, rows = (
        _bucket_stats(_read(spark, tmp, tmp_dirs, schema))
        if tmp_dirs else ({}, {})
    )
    _widen_stats(path, buckets, stats, schema)
    return stats, rows


def read_range(
    spark: SparkSession, path: str, col: str, lo, hi
) -> DataFrame | None:
    """Stats-pruned range read (r5): consult the per-bucket min/max in
    ``_layout.json`` and list ONLY the bucket directories whose recorded
    range overlaps ``[lo, hi]`` (inclusive) — strictly fewer files than the
    full-table filter on selective ranges, equal results by construction
    (pytest-pinned). Buckets with no recorded stats are conservatively
    included; tables without stats fall back to the full filtered scan
    (correct, just unpruned). Returns None when the table is missing."""
    from datetime import datetime, timezone

    heal(path, restore_only=True)
    if not os.path.exists(path):
        return None

    def plain(v):
        if isinstance(v, datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=timezone.utc)
            return v.timestamp()
        return v

    lo_v, hi_v = plain(lo), plain(hi)
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    layout = _read_layout(path)
    if not _is_bucketed(path) or layout is None:
        return read_table(spark, path).filter(pred)
    stats = layout.get("stats", {})
    dirs, skipped = [], 0
    for d in sorted(os.listdir(path)):
        if not d.startswith("bucket="):
            continue
        s = stats.get(d.split("=", 1)[1], {}).get(col)
        if s is not None and (s[0] is None or s[1] is None):
            s = None  # all-null column in this bucket: no overlap evidence
        if s is not None and (s[1] < lo_v or s[0] > hi_v):
            skipped += 1
            continue  # recorded [min,max] cannot overlap: skip the files
        dirs.append(os.path.join(path, d))
    if not dirs:  # nothing can match: empty result, same schema, no scan
        return read_table(spark, path).filter(pred).limit(0)
    return _read(spark, path, dirs).drop("bucket").filter(pred)


def read_url(spark: SparkSession, path: str, url: str) -> DataFrame | None:
    """Bucket-pruned point lookup: read ONLY the ``bucket=N`` subdirectory
    the url hashes into — O(table/n_buckets) I/O instead of a full scan,
    the parquet emulation of Iceberg's bucket-transform partition pruning.
    Falls back to a pruned full-table plan on flat/manifest-less layouts.
    Returns None when the table does not exist."""
    heal(path, restore_only=True)
    if not os.path.exists(path):
        return None
    layout_doc = _read_layout(path)
    if not _is_bucketed(path) or layout_doc is None:
        return read_table(spark, path).filter(F.col("url") == url)
    if layout_doc.get("sort_by") is not None:
        # range layout (write_table_sorted): bucket placement follows the
        # sort column, not the url hash — the pruned full-table plan is the
        # only correct point lookup here
        return read_table(spark, path).filter(F.col("url") == url)
    n_buckets = layout_doc["n_buckets"]
    # Validate the manifest against the directories actually present
    # (ADVICE r2 #1): a merge invoked with a different n_buckets than the
    # table's real layout would leave a stale manifest, and hashing into the
    # wrong bucket silently returns empty for a url that exists. On any
    # inconsistency, fall back to the pruned full-table plan (correct, just
    # not O(1/n_buckets)).
    observed = [
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("bucket=") and d.split("=", 1)[1].isdigit()
    ]
    if not observed or max(observed) >= n_buckets:
        return read_table(spark, path).filter(F.col("url") == url)
    # hash in the JVM so the lookup bucket always matches the writer's
    b = (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(url)), F.lit(n_buckets)).cast("int").alias("b")
        )
        .first()["b"]
    )
    bucket_dir = f"{path}/bucket={b}"
    if not os.path.exists(bucket_dir):
        # Either the url genuinely doesn't exist (its bucket is empty — the
        # common case, and the scan below returns empty quickly with the
        # pushdown) OR the manifest claims MORE buckets than the real layout
        # and we hashed into a phantom bucket. Falling back to the pruned
        # full-table plan is correct in both cases; returning an empty
        # result unconditionally was only correct in the first (the other
        # direction of the stale-manifest guard above).
        return read_table(spark, path).filter(F.col("url") == url)
    return _read(spark, path, [bucket_dir]).drop("bucket").filter(F.col("url") == url)


def write_table(df: DataFrame, path: str) -> None:
    heal(path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    replace_dir(tmp, path)


def write_table_sorted(
    df: DataFrame,
    path: str,
    sort_col: str = "warc_ts",
    n_buckets: int = N_MERGE_BUCKETS,
) -> None:
    """Range-layout writer (VERDICT r5 #5) — the Iceberg sort-order analog
    that makes the per-bucket min/max stats machinery actually FIRE on the
    column users range-scan.

    The url-hash merge layout scatters every ingest hour across every
    bucket, so a ``warc_ts`` range overlaps all 64 recorded [min, max]
    intervals and ``read_range`` prunes nothing on natural data. Here the
    rows are range-partitioned ON the sort column (``repartitionByRange``
    computes the boundaries from a sample, exactly Iceberg's sort-order
    write) and sorted within each bucket, so bucket i holds the i-th
    contiguous slice of the timeline: per-bucket ranges are DISJOINT up to
    boundary ties, a range predicate overlaps only ``span/table_span`` of
    the dirs, and within each file the parquet row-group stats are sorted
    too (the scan's own min/max pushdown bites as well). Pytest pins that
    a day's read lists a MINORITY of bucket dirs on uncorrelated data.

    This is a read-optimized TIME-SERIES layout: bucket placement no
    longer encodes the url hash, so ``read_url`` detects ``sort_by`` and
    falls back to the pruned full scan, and ``merge_by_url`` refuses the
    table (rewriting history into a range layout is a compaction job, not
    an upsert). At 100 TB this is the append-only analytics copy of the
    table, written once per partition roll; the url-hash copy remains the
    upsert/point-lookup side — the same split Iceberg users make between
    a bucket-partitioned and a sort-ordered table.
    """
    if sort_col not in [c for c, _ in df.dtypes]:
        raise ValueError(f"sort column {sort_col!r} not in schema")
    if sort_col not in STATS_COLS:
        raise ValueError(
            f"sort column {sort_col!r} has no recorded stats "
            f"(STATS_COLS={STATS_COLS}); pruning could never fire"
        )
    heal(path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    arranged = (
        df.repartitionByRange(n_buckets, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .withColumn("bucket", F.spark_partition_id())
    )
    # each task holds exactly one bucket value: partitionBy groups without
    # any extra shuffle, one sorted file per bucket dir
    arranged.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    _write_layout(tmp, n_buckets, df.schema, sort_by=sort_col)
    spark = df.sparkSession
    _refresh_stats(spark, tmp)  # the layout moves in with the data
    replace_dir(tmp, path)
    spark.catalog.refreshByPath(path)


def merge_sql(table_ident: str) -> str:
    """The exact MERGE INTO statement ``merge_by_url_iceberg`` executes.

    Factored out so the SQL contract is testable without an Iceberg runtime:
    ``tests/test_tableio.py`` feeds this text to Spark's own SQL parser and
    asserts it yields a MergeIntoTable logical plan (VERDICT r1 — the
    statement had never been exercised)."""
    return f"""
        MERGE INTO {table_ident} t
        USING _updates s
        ON t.url = s.url
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """


def merge_by_url_iceberg(
    spark: SparkSession, table_ident: str, updates: DataFrame
) -> None:
    """Native Iceberg MERGE INTO (SURVEY.md §2.3 J4) — used when an Iceberg
    catalog is on the classpath/config (``iceberg_available``); not reachable
    in this sandbox (no runtime jar), kept as the config-switch target so the
    fallback below is a drop-in (SURVEY.md §7.3 H5)."""
    updates.createOrReplaceTempView("_updates")
    spark.sql(merge_sql(table_ident))


def merge_by_url(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    n_buckets: int = N_MERGE_BUCKETS,
) -> dict | None:
    """MERGE INTO target USING updates ON url — parquet-fallback emulation.

    MATCHED → UPDATE * (update row wins), NOT MATCHED → INSERT *.
    Idempotent: merging the same updates twice equals merging once.
    Incremental: only buckets the updates hash into (the dirty buckets) are
    touched. One aggregation of the updates by bucket (the census) yields
    the dirty set with each dirty bucket's row count and min/max; one
    url-only semi-join of the updates against the dirty buckets then picks
    the write:

    - no update url exists yet (the ``--resume`` case, after the anti-join
      in :func:`remaining`): **append**. The updates are written to a tmp
      sibling, one file per dirty bucket, and each file is moved into its
      live bucket dir with one atomic rename; no existing file is rewritten
      (Iceberg's append snapshot). Each append adds a file per dirty
      bucket; a later rewrite of that bucket, or :func:`compact`, folds
      them back into one (Iceberg's ``rewrite_data_files``).
    - some update url exists: **rewrite** each dirty bucket into a single
      data file (rows grouped by bucket, see :func:`_write_buckets`) and
      swap it in whole.

    Stats and row counts are widened/recorded without re-reading the live
    table: before any rename the recorded ranges are widened to cover the
    incoming rows, so :func:`read_range` never skips a row at any crash
    point. Every directory replace (new table, migration, bucket rewrite)
    goes through :func:`replace_dir`, and the merge runs :func:`heal` on
    entry. A crash before the renames leaves only the tmp sibling, which
    the next merge deletes; a crash between renames leaves a prefix of
    buckets merged, and re-running the same merge finds the overlap, takes
    the rewrite path and converges.

    Returns ``{"path", "dirty_buckets", "rows_in"}`` with ``path`` one of
    ``new``, ``migrate``, ``append``, ``rewrite``, ``noop``. Routes to
    :func:`merge_by_url_iceberg` when ``target_path`` is a catalog table
    identifier (no '/') and Iceberg is available; that route returns None.

    ``updates`` is read three times (census, overlap check, write) — callers
    merging an expensive lineage should materialize it first
    (``engine/run_pipeline.py`` stages the run output to parquet before
    merging for exactly this reason).
    """
    if "/" not in target_path and (
        iceberg_available(spark) or rowlevel_catalog_available(spark)
    ):
        # catalog table ident → native MERGE INTO (Iceberg in production;
        # the in-repo MiniCatalog exercises the same statement offline)
        merge_by_url_iceberg(spark, target_path, updates)
        return None
    heal(target_path)
    # An existing table's recorded layout wins over the caller's n_buckets
    # (ADVICE r2 #1): hashing updates with a different bucket count than the
    # table's real layout would scatter rows into wrong buckets and break
    # the point lookup. The bucket count is a table property, not a call
    # parameter — exactly like Iceberg's partition spec.
    layout = _read_layout(target_path) if os.path.exists(target_path) else None
    if layout is not None:
        if layout.get("sort_by") is not None:
            raise ValueError(
                f"{target_path} is a range layout (sort_by="
                f"{layout['sort_by']!r}); merge_by_url upserts into "
                "url-hash layouts only — rewrite via write_table_sorted"
            )
        n_buckets = layout["n_buckets"]
    upd = _with_bucket(updates, n_buckets)
    in_stats, in_rows = _bucket_stats(upd)  # the census
    dirty = sorted(int(b) for b in in_rows)

    def summary(path: str) -> dict:
        return {"path": path, "dirty_buckets": len(dirty),
                "rows_in": sum(in_rows.values())}

    if not os.path.exists(target_path):
        if not dirty:
            write_table(updates, target_path)  # keep a readable empty schema
            return summary("new")
        # the layout, with its counts, is written into tmp: the table
        # never lands without it
        tmp = f"{target_path}.tmp-{uuid.uuid4().hex[:8]}"
        _write_buckets(upd, tmp)
        _write_layout(tmp, n_buckets, upd.schema)
        _record_stats(tmp, in_stats, in_rows)  # the table IS upd
        replace_dir(tmp, target_path)
        return summary("new")
    if not _is_bucketed(target_path):
        # one-time migration of a flat write_table layout: everything dirty
        existing = read_table(spark, target_path)
        kept = existing.join(updates.select("url"), "url", "left_anti")
        merged = _with_bucket(kept.unionByName(updates), n_buckets)
        tmp = f"{target_path}.tmp-{uuid.uuid4().hex[:8]}"
        _write_buckets(merged, tmp)
        _write_layout(tmp, n_buckets, merged.schema)
        _refresh_stats(spark, tmp)
        replace_dir(tmp, target_path)
        return summary("migrate")
    if layout is None:
        _write_layout(target_path, n_buckets)
        layout = {}
    if "rows" not in layout:
        warnings.warn(
            f"{target_path}: _layout.json records no per-bucket row counts; "
            "counting every bucket once",
            RuntimeWarning,
            stacklevel=2,
        )
        _refresh_stats(spark, target_path)
    if not dirty:  # empty updates: no-op, untouched table
        return summary("noop")
    live = {b for b in dirty if os.path.exists(f"{target_path}/bucket={b}")}
    existing_dirty = (
        _read(spark, target_path, [f"{target_path}/bucket={b}" for b in sorted(live)])
        if live else None
    )
    tmp = f"{target_path}.tmp-{uuid.uuid4().hex[:8]}"
    # done-url side is a fresh DF with parquet size stats on the other
    # side; no forced broadcast (ADVICE r1) — Catalyst/AQE picks. A count,
    # not isEmpty(): an empty result would make take(1) rescan in
    # growing partition batches, one job each.
    if existing_dirty is None or existing_dirty.select("url").join(
        upd.select("url"), "url", "left_semi"
    ).count() == 0:
        # the empty union types the appended files exactly like a rewrite
        # of the bucket would (unionByName coercion)
        appended = (
            upd if existing_dirty is None
            else existing_dirty.limit(0).unionByName(upd)
        )
        _write_buckets(
            appended, tmp, min(len(dirty), spark.sparkContext.defaultParallelism)
        )
        _widen_stats(target_path, dirty, in_stats, appended.schema)
        for b in dirty:
            src, dst = f"{tmp}/bucket={b}", f"{target_path}/bucket={b}"
            if b not in live:
                os.rename(src, dst)
                continue
            for name in sorted(os.listdir(src)):
                if name.startswith("."):
                    continue  # checksums move with their data file
                os.rename(os.path.join(src, name), os.path.join(dst, name))
                crc = f".{name}.crc"
                if os.path.exists(os.path.join(src, crc)):
                    os.rename(os.path.join(src, crc), os.path.join(dst, crc))
        shutil.rmtree(tmp)
        spark.catalog.refreshByPath(target_path)
        # a bucket that held rows keeps its widened entry, now the exact
        # range of old ∪ incoming (or unrecorded, if it was); a new bucket
        # holds only the incoming rows. Never record the incoming range
        # alone for a bucket that held rows: read_range would skip them.
        old_rows = _read_layout(target_path)["rows"]
        _record_stats(
            target_path,
            {str(b): in_stats[str(b)] for b in dirty
             if b not in live and str(b) in in_stats},
            {b: old_rows.get(b, 0) + n for b, n in in_rows.items()},
        )
        return summary("append")
    merged = existing_dirty.join(upd.select("url"), "url", "left_anti").unionByName(upd)
    _write_buckets(merged, tmp)
    # widen BEFORE the swap so a crash at any point leaves conservative
    # (superset) ranges; tightened to exact after the swap succeeds
    fresh_stats, fresh_rows = _widen_stats_for_swap(
        spark, target_path, tmp, dirty, merged.schema
    )
    for b in dirty:
        src = f"{tmp}/bucket={b}"
        if os.path.exists(src):  # else no merged rows landed: keep old data
            replace_dir(src, f"{target_path}/bucket={b}")
    shutil.rmtree(tmp)
    # the swap replaced files under an existing path: drop Spark's shared
    # file-status cache entries so later reads don't chase deleted parts
    spark.catalog.refreshByPath(target_path)
    # every dirty bucket holds an update row, so each swapped bucket dir is
    # exactly the tmp dir the widening pass read: its stats and counts are
    # the exact entries, and the merge aggregates the dirty buckets once
    _record_stats(target_path, fresh_stats, fresh_rows)
    return summary("rewrite")


def remaining(pages: DataFrame, extracted_path: str) -> DataFrame:
    """Resume anti-join (J3): pages not yet present in the extracted table.

    The done set is parquet-backed, so Catalyst's size statistics broadcast
    it below ``spark.sql.autoBroadcastJoinThreshold`` and shuffle otherwise —
    an unconditional ``F.broadcast`` hint would OOM the driver once the
    extracted table outgrows memory (ADVICE r1).
    """
    spark = pages.sparkSession
    done = read_table(spark, extracted_path)
    if done is None:
        return pages
    return pages.join(done.select("url"), "url", "left_anti")


def write_lineage(
    spark: SparkSession,
    target_path: str,
    run_id: str,
    partitions,
    gates: dict | None = None,
) -> str:
    """Record the run's lineage next to the table: ``partitions`` is
    ``[(part_id, rows)]`` over the run's own rows, ``run_rows`` their sum,
    ``total_rows`` the table total from the layout counts
    (:func:`table_rows`, no scan) and ``gates`` the run's gate counters."""
    payload = {
        "run_id": run_id,
        "partitions": [
            {"part_id": p, "lineage": run_id, "rows": n}
            for p, n in sorted(partitions)
        ],
        "run_rows": sum(n for _, n in partitions),
        "total_rows": table_rows(spark, target_path),
    }
    if gates is not None:
        payload["gates"] = gates
    lineage_dir = f"{target_path}_lineage"
    os.makedirs(lineage_dir, exist_ok=True)
    lineage_path = f"{lineage_dir}/{run_id}.json"
    with open(lineage_path, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=2)
    return lineage_path


def append_run(
    spark: SparkSession, path: str, run_id: str, rows, schema
) -> None:
    """Append-by-run table: a run's few driver-side ``rows`` (Spark
    ``schema``, with a ``run_id`` column) become ``path/run-<run_id>.parquet``,
    written to a hidden tmp file and moved in with ``os.replace``. Re-running
    a run id replaces its rows; every other run's rows survive, including
    those in files an earlier Spark writer left (rows of ``run_id`` are
    filtered out of those). ``spark.read.parquet(path)`` reads all runs."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    def replace(name: str, table) -> None:
        """Swap ``path/name`` for ``table``; delete it when ``table`` is None."""
        crc = os.path.join(path, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # a stale checksum would fail the next read
        if table is None:
            os.remove(os.path.join(path, name))
            return
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))

    os.makedirs(path, exist_ok=True)
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet") or name.startswith((".", "_", "run-")):
            continue
        old = pq.read_table(os.path.join(path, name))
        keep = old.filter(pc.not_equal(old["run_id"], run_id))
        if keep.num_rows < old.num_rows:
            replace(name, keep if keep.num_rows else None)
    replace(
        f"run-{run_id}.parquet",
        pa.Table.from_pylist([r.asDict() for r in rows], schema=to_arrow_schema(schema)),
    )
    spark.catalog.refreshByPath(path)


def compact(spark: SparkSession, target_path: str) -> list[int]:
    """Small-file compaction for the bucketed parquet table — the fallback's
    analog of Iceberg's ``rewrite_data_files`` (r4). A ``merge_by_url``
    rewrite leaves one file per bucket (only a bucket above the rebalance
    split size gets several); its append path adds one file per dirty
    bucket, and files from other writers pile up too. This rewrites each
    bucket directory holding more than one data file into a single file.
    Clean buckets are untouched (their files keep identity and mtime —
    same discipline as the dirty-bucket merge).
    Returns the compacted bucket ids.

    Crash-safe write-then-swap (ADVICE r4): fresh files land in
    underscore-prefixed ``_compact-`` dirs (invisible to Hadoop/Spark
    partition discovery) and :func:`replace_dir` swaps each in; :func:`heal`
    on entry restores or collects what an interrupted compaction left.
    Every bucket is read with the table's schema (the recorded one, or the
    inferred one when it cannot be trusted), and the layout is re-saved
    with it after the writes and before the first swap, so the compacted
    files are never newer than the layout."""
    heal(target_path)
    if not _is_bucketed(target_path):
        return []
    multi = [
        d for d in sorted(os.listdir(target_path))
        if d.startswith("bucket=") and sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(target_path, d))
        ) > 1
    ]
    if not multi:
        return []
    layout = _read_layout(target_path)
    schema = _data_schema(_read(spark, target_path).schema)
    # range layouts (r6): the rewrite must keep rows sorted so the
    # compacted file's parquet row-group stats stay monotone (the
    # within-file half of the skipping story); coalesce(1) alone would
    # interleave the source files' row order
    sort_col = (layout or {}).get("sort_by")
    swaps = []
    for d in multi:
        bdir = os.path.join(target_path, d)
        # bucket files exclude the partition column (the dir name carries
        # it), so a direct dir read/write round-trips the file schema
        df = _read(spark, bdir, schema=schema).coalesce(1)
        if sort_col is not None:
            df = df.sortWithinPartitions(sort_col)
        tmp = os.path.join(
            target_path, f"_compact-{uuid.uuid4().hex[:8]}-{d.replace('=', '-', 1)}"
        )
        df.write.mode("overwrite").parquet(tmp)
        swaps.append((tmp, bdir))
    if layout is not None:
        layout["schema"] = schema.jsonValue()
        _save_layout(target_path, layout)
    for tmp, bdir in swaps:
        replace_dir(tmp, bdir)
    spark.catalog.refreshByPath(target_path)
    return [int(d.split("=", 1)[1]) for d in multi]
