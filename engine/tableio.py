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
  O(table) (VERDICT r1). The updates are staged once, already split into
  ``bucket=N`` dirs of one file each (``run_pipeline`` stages its output
  so itself and hands the dir over), and the census (per-bucket row
  counts and min/max) is read from the staged files' parquet footers,
  with no Spark job. A new table is the staging dir, renamed in. When no
  update url exists yet (the ``--resume`` case) the merge APPENDS: each
  staged file is renamed into its live bucket dir, no existing file
  rewritten (Iceberg's fast append). Whether one exists is a semi-join,
  skipped when the table's ``version`` still equals the one the caller
  read before its ``remaining`` anti-join (Iceberg's snapshot-id check).
  Otherwise each dirty bucket is rewritten into one data file (rows are
  grouped by bucket before every bucketed write, the analog of Iceberg's
  ``write.distribution-mode=hash``) and swapped in whole (write-tmp +
  rename). Recorded ranges are widened before any rename; a crash
  between renames leaves a prefix merged, and re-running the same merge
  converges (idempotence and kill-point tests).
- ``_layout.json``  — bucket count, the table's Spark ``schema`` (the data
  columns, without ``bucket``), per-bucket min/max ``stats`` and row
  counts (``rows``), the Iceberg manifest analog: ``read_range`` prunes
  on the stats and ``table_rows`` sums the counts without a scan. Its
  ``version`` is bumped by every commit, and ``pending`` names the
  buckets of a merge between its first and last rename, whose counts the
  next merge recounts. A new or migrated table's layout is written into
  its tmp dir, so it moves in with the data; every writer saves it after
  its data files are written and before any of them moves in. Tables are
  written with TIMESTAMP_MICROS timestamps (``get_spark``), whose footers
  carry min/max; a file with INT96 ones (older, or from another session)
  reads equal, and a census over it is taken by a Spark job, loudly.
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
  and every ``.tmp-*``/``_compact-*``/``.staging-*`` leftover deleted
  (but the staging dir a merge was handed). Readers
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


def bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    """``df`` with the ``bucket`` column of a table of ``n_buckets`` url
    buckets. :func:`write_table` writes such a DataFrame as ``bucket=N``
    dirs, which :func:`merge_by_url` can move into the table whole."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def bucket_count(path: str) -> int:
    """The bucket count of the table at ``path``: the one its layout
    records, or :data:`N_MERGE_BUCKETS` for a table that has none yet."""
    return (_read_layout(path) or {}).get("n_buckets", N_MERGE_BUCKETS)


def layout_version(path: str) -> int | None:
    """The ``version`` the layout of the table at ``path`` records (every
    commit bumps it), or None for a table without one."""
    return (_read_layout(path) or {}).get("version")


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


def heal(
    path: str,
    restore_only: bool = False,
    what: str = "table",
    keep: str | None = None,
) -> None:
    """Undo what an interrupted :func:`replace_dir` left at ``path``: an
    aside whose live dir is missing (the table's ``.gc-`` sibling, or a
    ``_gc-`` partition aside inside it) is renamed back, announced with one
    RuntimeWarning. Writers heal on entry and also delete the asides whose
    live dir exists, the ``.tmp-*``/``_compact-*`` dirs a crash before the
    swap left and the ``.staging-*`` dirs of a killed ``run_pipeline``
    (single-writer: nothing else is mid-replace then), all but ``keep``,
    the staging dir the writer was handed; readers pass ``restore_only``."""

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
        kept = keep and os.path.abspath(keep)
        leftovers = glob.glob(stem + ".tmp-*") + glob.glob(stem + ".staging-*")
        for stale in asides + leftovers:
            if os.path.abspath(stale) != kept:
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


def _newer_file(path: str) -> str | None:
    """A data file of the table at ``path`` newer than its
    ``_layout.json``, or None. Every tableio writer saves the layout after
    writing its files, so such a file was written outside tableio."""
    stamp = os.stat(os.path.join(path, "_layout.json")).st_mtime_ns
    return next((n for n, t in _data_files(path) if t > stamp), None)


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
        newer = _newer_file(path)
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


def _same_types(a: StructType, b: StructType) -> bool:
    """``a`` and ``b`` name the same columns with the same types, whatever
    their nullability (a file read makes every column nullable)."""
    return a.simpleString() == b.simpleString()


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
    version: int | None = None,
) -> None:
    """Record the bucket count and the data ``schema`` next to the data
    (the parquet-fallback analog of Iceberg's partition-spec and schema
    metadata; underscore-prefixed files are ignored by Spark's parquet
    listing). ``sort_by`` marks a range layout (see
    :func:`write_table_sorted`): buckets are CONTIGUOUS RANGES of that
    column, not url hashes. ``version`` is the commit's (see
    :func:`_next_version`)."""
    layout: dict = {"n_buckets": n_buckets}
    if schema is not None:
        layout["schema"] = _data_schema(schema).jsonValue()
    if sort_by is not None:
        layout["sort_by"] = sort_by
    if version is not None:
        layout["version"] = version
    _save_layout(path, layout)


def _next_version(layout: dict | None) -> int:
    """The ``version`` of the next commit to a table whose layout is
    ``layout``: one more than it records (0 without one). Every commit
    bumps it with the layout save before its first rename, so a reader
    that noted the version can tell, from the layout alone, that the
    table changed since (the Iceberg snapshot-id analog)."""
    return (layout or {}).get("version", 0) + 1


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


_TS_UNITS = {"milliseconds": 10**3, "microseconds": 10**6, "nanoseconds": 10**9}


class _NoFooterStats(Exception):
    """A parquet footer that cannot give a column's min/max."""


def _chunk_range(chunk, n_rows: int):
    """``[min, max]`` of one parquet column chunk as :func:`_bucket_stats`
    gives them (timestamps as epoch seconds), from its footer statistics;
    None when every value is null. Raises :class:`_NoFooterStats` when the
    footer cannot tell: no min/max (INT96 timestamps never carry them, and
    long strings may not) or a type other than an integer or a UTC
    timestamp."""
    s = chunk.statistics
    if s is not None and s.has_null_count and s.null_count == n_rows:
        return None
    if s is None or not s.has_min_max or chunk.physical_type not in (
        "INT32", "INT64"
    ):
        raise _NoFooterStats(chunk.path_in_schema)
    logical = json.loads(s.logical_type.to_json())
    kind = logical.get("Type")
    if kind in ("None", "Int"):
        return [s.min_raw, s.max_raw]
    if kind == "Timestamp" and logical.get("isAdjustedToUTC"):
        unit = _TS_UNITS[logical["timeUnit"]]
        return [s.min_raw / unit, s.max_raw / unit]
    raise _NoFooterStats(chunk.path_in_schema)


def _footer_census(dirs) -> tuple[dict, dict] | None:
    """:func:`_bucket_stats` of the ``bucket=N`` dirs ``dirs``, read from
    the parquet footers of their files: the row count of each file and
    the min/max of each of its row groups, for the STATS_COLS its schema
    holds. Runs no Spark job. None when the footers cannot give them (see
    :func:`_chunk_range`), or when the files disagree on which STATS_COLS
    they hold."""
    import pyarrow.parquet as pq

    stats: dict = {}
    rows: dict = {}
    cols = None
    try:
        for d in dirs:
            b = d.rsplit("=", 1)[1]
            for name in sorted(os.listdir(d)):
                if name.startswith((".", "_")):
                    continue
                md = pq.read_metadata(os.path.join(d, name))
                top = md.schema.to_arrow_schema().names
                have = [c for c in STATS_COLS if c in top]
                if cols is None:
                    cols = have
                elif have != cols:
                    return None
                rows[b] = rows.get(b, 0) + md.num_rows
                entry = stats.setdefault(b, {c: [None, None] for c in cols})
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for i in range(rg.num_columns):
                        chunk = rg.column(i)
                        lo_hi = entry.get(chunk.path_in_schema)
                        got = lo_hi is not None and _chunk_range(chunk, rg.num_rows)
                        if got:
                            lo_hi[:] = got if lo_hi[0] is None else [
                                min(lo_hi[0], got[0]), max(lo_hi[1], got[1])
                            ]
    except _NoFooterStats:
        return None
    return (stats if cols else {}), rows


def _census(
    spark: SparkSession, path: str, dirs, schema: StructType | None = None
) -> tuple[dict, dict]:
    """:func:`_bucket_stats` of the ``bucket=N`` dirs ``dirs`` of the table
    or staging dir at ``path``: from their parquet footers, with no Spark
    job, or, when the footers cannot give them (INT96 timestamps carry no
    min/max; ``get_spark`` writes TIMESTAMP_MICROS), from one Spark
    aggregation of the dirs read with ``schema``, announced with one
    RuntimeWarning."""
    if not dirs:
        return {}, {}
    got = _footer_census(dirs)
    if got is None:
        warnings.warn(
            f"{path}: parquet footers carry no min/max for {', '.join(STATS_COLS)} "
            "(INT96 timestamps carry none); taking the bucket census with a "
            "Spark job",
            RuntimeWarning,
            stacklevel=3,
        )
        got = _bucket_stats(_read(spark, path, dirs, schema))
    return got


def _record_stats(path: str, stats: dict, rows: dict) -> None:
    """Merge per-bucket min/max entries and row counts into
    ``_layout.json`` as the exact values for those buckets, and clear the
    ``pending`` mark of an unfinished commit (no-op without a layout
    file). Counts live in their own ``rows`` map: ``read_range`` and the
    widening pass read ``stats`` per column."""
    layout = _read_layout(path)
    if layout is None:
        return
    if stats:
        layout.setdefault("stats", {}).update(stats)
    if rows or "rows" in layout:
        layout.setdefault("rows", {}).update(rows)
    layout.pop("pending", None)
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


def _begin_commit(
    path: str, buckets, incoming: dict, schema: StructType | None = None
) -> None:
    """The layout save of a merge before its first rename.

    Pre-swap stats widening (review r5): the bucket-dir renames and the
    post-swap stats write are not atomic, and stale-but-NARROW stats
    would make read_range silently skip buckets holding just-merged rows
    if a crash lands between them. Before any rename, each dirty bucket's
    recorded range is widened to the UNION of its current range and the
    ``incoming`` range — correct for both the pre- and post-swap table at
    every crash point (min/max pruning only needs a superset). Buckets
    with no recorded entry stay unrecorded (already conservative); a
    column whose incoming range is unknown is dropped from the entry.

    The same save records ``schema``, the data schema of the files about
    to move in (it runs after they are written, so none of them is newer
    than the layout, see :func:`_recorded_schema`), bumps ``version`` and
    marks the dirty ``buckets`` ``pending``: their row counts are stale
    until :func:`_record_stats` clears the mark after the last rename, and
    the next merge recounts a bucket a crash left marked."""
    layout = _read_layout(path)
    if layout is None:
        return
    if schema is not None:
        layout["schema"] = _data_schema(schema).jsonValue()
    layout["version"] = _next_version(layout)
    layout["pending"] = sorted(
        {int(b) for b in buckets} | set(layout.get("pending", ()))
    )
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
    """:func:`_begin_commit` with the incoming ranges taken from the staged
    ``tmp`` dirs of a bucket rewrite, written with data ``schema``
    (:func:`_census`). Returns their ``(stats, rows)`` (collected even when
    the layout records no stats yet): after the swap each dirty bucket dir
    IS its ``tmp`` dir, so the merge records these as the exact entries
    instead of re-reading the swapped buckets."""
    tmp_dirs = [
        os.path.join(tmp, f"bucket={b}")
        for b in buckets
        if os.path.exists(os.path.join(tmp, f"bucket={b}"))
    ]
    stats, rows = _census(spark, tmp, tmp_dirs, schema)
    _begin_commit(path, buckets, stats, schema)
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
    """Write ``df`` as the table at ``path``, replacing it whole
    (:func:`replace_dir`). A ``df`` with a ``bucket`` column
    (:func:`bucketed`) is written as ``bucket=N`` dirs, each bucket by one
    of ``defaultParallelism`` tasks, so as one file: the staging layout
    :func:`merge_by_url` moves into a table file by file."""
    heal(path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    if "bucket" in df.columns:
        _write_buckets(df, tmp, df.sparkSession.sparkContext.defaultParallelism)
    else:
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
    _write_layout(tmp, n_buckets, df.schema, sort_by=sort_col,
                  version=_next_version(_read_layout(path)))
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
    *,
    staged: str | None = None,
    version: int | None = None,
) -> dict | None:
    """MERGE INTO target USING updates ON url — parquet-fallback emulation.

    MATCHED → UPDATE * (update row wins), NOT MATCHED → INSERT *.
    Idempotent: merging the same updates twice equals merging once.
    Incremental: only buckets the updates hash into (the dirty buckets) are
    touched.

    ``updates`` is read once, into a tmp staging dir of ``bucket=N`` dirs
    with one file each (:func:`bucketed`), so callers need not
    materialize an expensive lineage. ``staged`` names such a dir the
    caller already wrote, with :func:`write_table`, from its rows with
    ``bucketed(..., n_buckets)``, and ``updates`` read from it: then the
    merge writes no data for an append or a new table
    (``engine/run_pipeline.py`` stages its output so). The census (each
    dirty bucket's row count and min/max) is read from the staged files'
    parquet footers, with no Spark job (:func:`_census`). Then:

    - no table yet: **new**. The layout is written into the staging dir,
      which is renamed in as the table.
    - no update url exists yet (the ``--resume`` case, after the anti-join
      in :func:`remaining`): **append**. Each staged file is moved into its
      live bucket dir with one atomic rename; no existing file is rewritten
      (Iceberg's append snapshot). Each append adds a file per dirty
      bucket; a later rewrite of that bucket, or :func:`compact`, folds
      them back into one (Iceberg's ``rewrite_data_files``). Staged files
      typed unlike the table are first written again in its types.
    - some update url exists: **rewrite** each dirty bucket into a single
      data file (rows grouped by bucket, see :func:`_write_buckets`) and
      swap it in whole.

    Whether an update url exists is a url-only semi-join of the updates
    against the dirty buckets, skipped when ``version``, the
    :func:`layout_version` the caller read before its :func:`remaining`
    anti-join, still equals the table's and no data file is newer than the
    layout: the table has not changed since, so no update url is in it.

    Stats and row counts are widened/recorded without re-reading the live
    table: before any rename the recorded ranges are widened to cover the
    incoming rows, the ``version`` bumped and the dirty buckets marked
    ``pending`` (:func:`_begin_commit`), so :func:`read_range` never skips
    a row at any crash point. Every directory replace (new table,
    migration, bucket rewrite) goes through :func:`replace_dir`, and the
    merge runs :func:`heal` on entry (keeping ``staged``). A crash before
    the renames leaves only tmp siblings, which the next merge deletes; a
    crash between renames leaves a prefix of buckets merged: the next
    merge recounts the pending buckets from their footers, and re-running
    the same merge finds the overlap, takes the rewrite path and
    converges.

    Returns ``{"path", "dirty_buckets", "rows_in", "overlap_checked"}``
    with ``path`` one of ``new``, ``migrate``, ``append``, ``rewrite``,
    ``noop``; ``overlap_checked`` says whether an append or rewrite looked
    for update urls already in the table (false when ``version`` ruled
    them out, and on the other paths, which take no such decision). Routes
    to :func:`merge_by_url_iceberg` when ``target_path`` is a catalog table
    identifier (no '/') and Iceberg is available; that route returns None.
    """
    if "/" not in target_path and (
        iceberg_available(spark) or rowlevel_catalog_available(spark)
    ):
        # catalog table ident → native MERGE INTO (Iceberg in production;
        # the in-repo MiniCatalog exercises the same statement offline)
        merge_by_url_iceberg(spark, target_path, updates)
        return None
    heal(target_path, keep=staged)
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
        if staged is not None and layout["n_buckets"] != n_buckets:
            warnings.warn(
                f"{staged} holds {n_buckets} buckets, {target_path} "
                f"{layout['n_buckets']}: staging the updates again",
                RuntimeWarning,
                stacklevel=2,
            )
            staged = None
        n_buckets = layout["n_buckets"]
    own = staged is None
    if own:
        staged = f"{target_path}.tmp-{uuid.uuid4().hex[:8]}"
        _write_buckets(
            bucketed(updates, n_buckets), staged,
            spark.sparkContext.defaultParallelism,
        )
    try:
        return _merge_staged(
            spark, target_path, layout, n_buckets, staged,
            _data_schema(updates.schema), version,
        )
    finally:
        if own:
            shutil.rmtree(staged, ignore_errors=True)


def _merge_staged(
    spark: SparkSession,
    target_path: str,
    layout: dict | None,
    n_buckets: int,
    staged: str,
    schema: StructType,
    version: int | None,
) -> dict:
    """:func:`merge_by_url` of the updates staged at ``staged`` (data
    ``schema``, ``n_buckets`` buckets) into the table, whose ``layout``
    was read after the heal."""
    staged_dirs = [
        os.path.join(staged, d) for d in sorted(os.listdir(staged))
        if d.startswith("bucket=")
    ]
    in_stats, in_rows = _census(spark, staged, staged_dirs, schema)
    dirty = sorted(int(b) for b in in_rows)

    def staged_rows() -> DataFrame:
        """The staged rows, without the bucket column their dirs carry."""
        return _read(spark, staged, schema=schema).drop("bucket")

    def summary(path: str, checked: bool = False) -> dict:
        return {"path": path, "dirty_buckets": len(dirty),
                "rows_in": sum(in_rows.values()), "overlap_checked": checked}

    if not os.path.exists(target_path):
        if not dirty:
            write_table(staged_rows(), target_path)  # keep a readable empty schema
            return summary("new")
        # the layout, with its counts, is written into the staging dir,
        # which becomes the table: it never lands without them
        _write_layout(staged, n_buckets, schema, version=_next_version(layout))
        _record_stats(staged, in_stats, in_rows)
        replace_dir(staged, target_path)
        return summary("new")
    if not _is_bucketed(target_path):
        # one-time migration of a flat write_table layout: everything dirty
        upd_rows = staged_rows()
        existing = read_table(spark, target_path)
        kept = existing.join(upd_rows.select("url"), "url", "left_anti")
        merged = bucketed(kept.unionByName(upd_rows), n_buckets)
        tmp = f"{target_path}.tmp-{uuid.uuid4().hex[:8]}"
        _write_buckets(merged, tmp)
        _write_layout(tmp, n_buckets, merged.schema, version=_next_version(layout))
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
            stacklevel=3,
        )
        _refresh_stats(spark, target_path)
        layout = _read_layout(target_path)
    if layout.get("pending"):
        warnings.warn(
            f"{target_path}: an interrupted merge left the row counts of "
            f"buckets {layout['pending']} unsettled; recounting them",
            RuntimeWarning,
            stacklevel=3,
        )
        _record_stats(target_path, *_census(spark, target_path, [
            d for d in (f"{target_path}/bucket={b}" for b in layout["pending"])
            if os.path.isdir(d)
        ]))
        layout = _read_layout(target_path)
    if not dirty:  # empty updates: no-op, untouched table
        return summary("noop")
    live = [b for b in dirty if os.path.exists(f"{target_path}/bucket={b}")]
    unchanged = (
        version is not None
        and layout.get("version") == version
        and "schema" in layout
        and _newer_file(target_path) is None
    )
    # the staged files move in as they are only when typed like the table
    fits = unchanged and _same_types(StructType.fromJson(layout["schema"]), schema)
    existing_dirty = None
    if live and not fits:
        existing_dirty = _read(
            spark, target_path, [f"{target_path}/bucket={b}" for b in live]
        )
        upd = bucketed(staged_rows(), n_buckets)
    # done-url side is a fresh DF with parquet size stats on the other side;
    # no forced broadcast (ADVICE r1) — Catalyst/AQE picks. A count, not
    # isEmpty(): an empty result would make take(1) rescan in growing
    # partition batches, one job each. Staged files typed unlike the table
    # take the rewrite too: its union writes them in the table's types.
    if existing_dirty is not None and (
        not _same_types(_data_schema(existing_dirty.schema), schema)
        or existing_dirty.select("url").join(
            upd.select("url"), "url", "left_semi"
        ).count() > 0
    ):
        tmp = f"{target_path}.tmp-{uuid.uuid4().hex[:8]}"
        merged = existing_dirty.join(
            upd.select("url"), "url", "left_anti"
        ).unionByName(upd)
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
        return summary("rewrite", not unchanged)
    _begin_commit(target_path, dirty, in_stats, schema)
    for b in dirty:
        s_dir, t_dir = f"{staged}/bucket={b}", f"{target_path}/bucket={b}"
        if b not in live:
            os.rename(s_dir, t_dir)
            continue
        for name in sorted(os.listdir(s_dir)):
            if name.startswith("."):
                continue  # checksums move with their data file
            os.rename(os.path.join(s_dir, name), os.path.join(t_dir, name))
            crc = f".{name}.crc"
            if os.path.exists(os.path.join(s_dir, crc)):
                os.rename(os.path.join(s_dir, crc), os.path.join(t_dir, crc))
    spark.catalog.refreshByPath(target_path)
    # a bucket that held rows keeps its widened entry, now the exact range
    # of old ∪ incoming (or unrecorded, if it was); a new bucket holds only
    # the incoming rows. Never record the incoming range alone for a
    # bucket that held rows: read_range would skip them.
    old_rows = layout["rows"]
    _record_stats(
        target_path,
        {str(b): in_stats[str(b)] for b in dirty
         if b not in live and str(b) in in_stats},
        {b: old_rows.get(b, 0) + n for b, n in in_rows.items()},
    )
    return summary("append", not unchanged)


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
    merge: dict | None = None,
) -> str:
    """Record the run's lineage next to the table: ``partitions`` is
    ``[(part_id, rows)]`` over the run's own rows, ``run_rows`` their sum,
    ``total_rows`` the table total from the layout counts
    (:func:`table_rows`, no scan), ``gates`` the run's gate counters and
    ``merge`` the summary :func:`merge_by_url` returned."""
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
    if merge is not None:
        payload["merge"] = merge
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
        layout["version"] = _next_version(layout)
        _save_layout(target_path, layout)
    for tmp, bdir in swaps:
        replace_dir(tmp, bdir)
    spark.catalog.refreshByPath(target_path)
    return [int(d.split("=", 1)[1]) for d in multi]
