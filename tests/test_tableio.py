"""TableIO edge cases: missing-table reads, atomic replace, empty updates,
and the Iceberg routing guard."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from engine import pipeline, tableio


def test_read_missing_table_returns_none(spark, tmp_path):
    assert tableio.read_table(spark, str(tmp_path / "nope")) is None


def test_write_table_atomic_replace(spark, pages_unit_path, tmp_path):
    out = str(tmp_path / "t")
    pages = spark.read.parquet(pages_unit_path)
    tableio.write_table(pages.limit(10).select("url"), out)
    assert spark.read.parquet(out).count() == 10
    tableio.write_table(pages.limit(3).select("url"), out)  # replace
    assert spark.read.parquet(out).count() == 3
    assert not [d for d in os.listdir(tmp_path) if ".tmp-" in d]  # no tmp leftovers


def test_merge_with_empty_updates_is_noop(spark, pages_unit_path, tmp_path):
    out = str(tmp_path / "t")
    pages = spark.read.parquet(pages_unit_path)
    ext = pipeline.run_extract(pages.limit(12), run_id="a")
    tableio.merge_by_url(spark, out, ext)
    before = {r["url"] for r in spark.read.parquet(out).collect()}
    tableio.merge_by_url(spark, out, ext.filter("1 = 0"))  # empty updates
    after = {r["url"] for r in spark.read.parquet(out).collect()}
    assert before == after and len(before) == 12


def test_iceberg_unavailable_in_sandbox(spark):
    assert tableio.iceberg_available(spark) is False  # documented sandbox fact


def test_iceberg_merge_statement_parses(spark):
    """SQL contract for the unreachable Iceberg path (VERDICT r1): Spark's
    own parser must accept the exact statement merge_by_url_iceberg runs and
    produce a MergeIntoTable plan with both WHEN clauses — catching syntax
    rot without needing the runtime jar."""
    sql = tableio.merge_sql("cat.db.extracted")
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    assert plan.getClass().getSimpleName() == "MergeIntoTable"
    s = plan.toString()
    assert "UpdateStarAction" in s or "update" in s.lower()
    assert "InsertStarAction" in s or "insert" in s.lower()


def _bucket_state(path):
    """{bucket dir -> sorted [(file, mtime_ns, size)]} for swap detection."""
    state = {}
    for d in os.listdir(path):
        if not d.startswith("bucket="):
            continue
        full = os.path.join(path, d)
        state[d] = sorted(
            (f, os.stat(os.path.join(full, f)).st_mtime_ns,
             os.stat(os.path.join(full, f)).st_size)
            for f in os.listdir(full)
            if f.endswith(".parquet")
        )
    return state


def test_merge_rewrites_only_dirty_buckets(spark, pages_unit_path, tmp_path):
    """Incremental merge is O(updates): buckets the updates do not hash into
    keep their exact files and mtimes (VERDICT r1 #4)."""
    out = str(tmp_path / "t")
    pages = spark.read.parquet(pages_unit_path)
    full = pipeline.run_extract(pages, run_id="a")
    tableio.merge_by_url(spark, out, full, n_buckets=8)
    before = _bucket_state(out)
    assert len(before) > 1  # corpus spans several buckets

    one_url = spark.read.parquet(out).select("url").first()["url"]
    upd = pipeline.run_extract(pages.filter(pages.url == one_url), run_id="b")
    tableio.merge_by_url(spark, out, upd, n_buckets=8)
    after = _bucket_state(out)

    from pyspark.sql import functions as F

    dirty = (
        spark.createDataFrame([(one_url,)], "url string")
        .select(F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("b"))
        .first()["b"]
    )
    assert before.keys() == after.keys()
    for d in before:
        if d == f"bucket={dirty}":
            assert before[d] != after[d]  # dirty bucket rewritten
        else:
            assert before[d] == after[d], d  # clean bucket untouched

    # semantics unchanged: still one row per url, update won
    final = spark.read.parquet(out)
    assert final.groupBy("url").count().filter("count > 1").count() == 0
    assert final.filter(f"url = '{one_url}'").first()["lineage"] == "b"


def _files_per_bucket(path):
    return {d: len(files) for d, files in _bucket_state(path).items()}


def _stats_rows(spark, n, start=0):
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    return spark.createDataFrame(
        [(f"u{i}", i, t0 + timedelta(minutes=i), f"t{i}")
         for i in range(start, start + n)],
        "url string, doc_id long, warc_ts timestamp, extracted_text string",
    )


def test_merge_writes_one_file_per_bucket(spark, tmp_path):
    """Merges group rows by bucket before the write (Iceberg's hash write
    distribution): a many-task input still leaves exactly one data file in
    every bucket dir — on the new-table, flat-migration and incremental
    branches — and repeated merges do not grow the file count."""
    path = str(tmp_path / "t")
    tableio.merge_by_url(spark, path, _stats_rows(spark, 96).repartition(8),
                         n_buckets=8)
    counts = _files_per_bucket(path)
    assert len(counts) == 8 and set(counts.values()) == {1}, counts

    for k in range(3):
        upd = _stats_rows(spark, 40, start=30 * k).repartition(8)
        tableio.merge_by_url(spark, path, upd)
        assert _files_per_bucket(path) == counts, k
    assert spark.read.parquet(path).count() == 100  # u0..u99

    flat = str(tmp_path / "flat")
    tableio.write_table(_stats_rows(spark, 64).repartition(8), flat)
    tableio.merge_by_url(spark, flat, _stats_rows(spark, 8, start=60), n_buckets=8)
    assert set(_files_per_bucket(flat).values()) == {1}


def _bucket_of(spark, urls, n_buckets):
    return {
        r["url"]: r["b"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int").alias("b"))
        .collect()
    }


def test_merge_stats_equal_full_refresh(spark, tmp_path):
    """The merge records each dirty bucket's stats and row count without
    re-reading the live table — from the census on the append path (widened
    old ∪ incoming for a bucket that held rows, the census entry for a new
    bucket), from the staged tmp dir on the rewrite path. After each merge
    the recorded stats and counts equal a full recomputation."""
    import json

    path = str(tmp_path / "t")
    layout = os.path.join(path, "_layout.json")

    def recorded():
        with open(layout, encoding="utf-8") as f:
            doc = json.load(f)
        return doc["stats"], doc["rows"]

    # the base fills buckets 0-3 of 8, so the first update also opens new ones
    base = _stats_rows(spark, 64).where(F.pmod(F.xxhash64("url"), F.lit(8)) < 4)
    tableio.merge_by_url(spark, path, base.repartition(4), n_buckets=8)
    assert set(recorded()[1]) == {"0", "1", "2", "3"}
    for upd, want in (
        (_stats_rows(spark, 16, start=200), "append"),
        (_stats_rows(spark, 24, start=50), "rewrite"),
    ):
        before = set(recorded()[1])
        got = tableio.merge_by_url(spark, path, upd.repartition(4))
        assert got["path"] == want, got
        merged = recorded()
        tableio._refresh_stats(spark, path)
        assert recorded() == merged
        assert sum(merged[1].values()) == spark.read.parquet(path).count()
        assert tableio.table_rows(spark, path) == spark.read.parquet(path).count()
        if want == "append":
            assert set(merged[1]) > before  # new buckets were opened
    assert len(merged[0]) == 8 and all(
        set(s) == {"doc_id", "warc_ts"} for s in merged[0].values()
    )


def test_layout_without_counts_is_recounted_once(spark, tmp_path):
    """A layout written before per-bucket row counts existed gets them from
    one full stats pass on the next merge, which says so with a warning."""
    import json

    import pytest

    path = str(tmp_path / "t")
    tableio.merge_by_url(spark, path, _stats_rows(spark, 40), n_buckets=4)
    layout = os.path.join(path, "_layout.json")
    with open(layout, encoding="utf-8") as f:
        doc = json.load(f)
    del doc["rows"]
    with open(layout, "w", encoding="utf-8") as f:
        json.dump(doc, f)
    with pytest.warns(RuntimeWarning, match="row counts"):
        got = tableio.merge_by_url(spark, path, _stats_rows(spark, 8, start=100))
    assert (got["path"], got["rows_in"]) == ("append", 8)
    assert tableio.table_rows(spark, path) == 48 == spark.read.parquet(path).count()


def test_disjoint_appends_then_rewrite_and_compact_fold_buckets(spark, tmp_path):
    """Updates whose urls are all new take the append path: each adds one
    file per dirty bucket and rewrites no existing file, clean buckets keep
    their files and mtimes, so k appends leave at most 1+k files per
    bucket. An update that matches one existing url takes the rewrite
    path, which folds its dirty buckets back to one file; ``compact`` folds
    the rest."""
    path = str(tmp_path / "t")
    tableio.merge_by_url(spark, path, _stats_rows(spark, 64).repartition(4),
                         n_buckets=8)
    k = 3
    for i in range(k):
        upd = _stats_rows(spark, 5, start=1000 + 10 * i)
        dirty = {f"bucket={b}" for b in _bucket_of(
            spark, [r["url"] for r in upd.collect()], 8).values()}
        before = _bucket_state(path)
        got = tableio.merge_by_url(spark, path, upd.repartition(3))
        assert got == {"path": "append", "dirty_buckets": len(dirty), "rows_in": 5}
        after = _bucket_state(path)
        assert before.keys() == after.keys()
        assert dirty < set(after)  # some buckets stay clean
        for d in after:
            if d in dirty:  # old files untouched, one new file next to them
                assert set(before[d]) < set(after[d])
                assert len(after[d]) == len(before[d]) + 1
            else:
                assert after[d] == before[d], d
    assert 1 < max(_files_per_bucket(path).values()) <= 1 + k
    final = spark.read.parquet(path)
    assert final.count() == 64 + 5 * k
    assert final.groupBy("url").count().filter("count > 1").count() == 0

    # one existing url in the update: rewrite, its buckets back to one file
    upd = _stats_rows(spark, 1, start=1000).unionByName(
        _stats_rows(spark, 2, start=3000)
    ).withColumn("extracted_text", F.lit("again"))
    got = tableio.merge_by_url(spark, path, upd)
    assert got["path"] == "rewrite", got
    rewritten = {f"bucket={b}" for b in _bucket_of(
        spark, ["u1000", "u3000", "u3001"], 8).values()}
    counts = _files_per_bucket(path)
    assert all(counts[d] == 1 for d in rewritten), counts
    assert tableio.read_url(spark, path, "u1000").first()["extracted_text"] == "again"
    want = sorted(tuple(r) for r in spark.read.parquet(path).drop("bucket").collect())
    assert len(want) == 64 + 5 * k + 2

    tableio.compact(spark, path)
    assert set(_files_per_bucket(path).values()) == {1}
    got = sorted(tuple(r) for r in spark.read.parquet(path).drop("bucket").collect())
    assert got == want


def test_append_kill_points_recover_to_one_clean_merge(spark, tmp_path, monkeypatch):
    """The append moves files into live bucket dirs one ``os.rename`` at a
    time. A crash after any number of moves leaves a table with no duplicate
    url whose every row is its pre-merge or its merged version, and
    ``read_range`` still finds every row (stats are widened before the
    first move). Re-running the merge equals one clean merge."""
    import pytest

    def rows(p):
        return {
            r["url"]: r.asDict()
            for r in spark.read.parquet(p).drop("bucket").collect()
        }

    def check_ranges(p):
        full = spark.read.parquet(p).drop("bucket")
        for lo, hi in ((0, 47), (100, 123), (110, 111)):
            got = tableio.read_range(spark, p, "doc_id", lo, hi)
            want = full.where(f"doc_id BETWEEN {lo} AND {hi}")
            assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # buckets 0-2 of 4 hold rows; the update also opens bucket 3
    base = _stats_rows(spark, 48).where(F.pmod(F.xxhash64("url"), F.lit(4)) < 3)
    upd = _stats_rows(spark, 24, start=100)
    clean = str(tmp_path / "clean")
    tableio.merge_by_url(spark, clean, base, n_buckets=4)
    pre = rows(clean)

    moves = []
    real_rename = os.rename

    def counting(src, dst):
        moves.append(src)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", counting)
    assert tableio.merge_by_url(spark, clean, upd)["path"] == "append"
    monkeypatch.setattr(os, "rename", real_rename)
    post = rows(clean)
    assert len(post) == len(pre) + 24 and len(moves) > 3

    class Crash(Exception):
        pass

    for k in sorted({0, 1, len(moves) // 2, len(moves) - 1}):
        path = str(tmp_path / f"t{k}")
        tableio.merge_by_url(spark, path, base, n_buckets=4)
        done = []

        def crashing(src, dst):
            if len(done) == k:
                raise Crash(k)
            done.append(src)
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crashing)
        with pytest.raises(Crash):
            tableio.merge_by_url(spark, path, upd)
        monkeypatch.setattr(os, "rename", real_rename)
        spark.catalog.refreshByPath(path)
        df = spark.read.parquet(path)
        assert df.groupBy("url").count().filter("count > 1").count() == 0, k
        got = rows(path)
        assert set(pre) <= set(got), k
        assert all(r == pre.get(u) or r == post[u] for u, r in got.items()), k
        check_ranges(path)

        tableio.merge_by_url(spark, path, upd)  # re-run converges
        assert rows(path) == post, k
        assert tableio.table_rows(spark, path) == len(post), k
        check_ranges(path)


def _read(spark, path):
    """Sorted rows of the table as a reader sees it (``read_table``
    restores a dir an interrupted replace left aside)."""
    spark.catalog.refreshByPath(path)
    df = tableio.read_table(spark, path)
    return None if df is None else sorted(map(tuple, df.collect()))


def _read_with_layout(spark, path):
    """The rows and the ``_layout.json`` a reader finds next to them."""
    rows = _read(spark, path)
    return rows, tableio._read_layout(path)


def test_write_table_kill_points(spark, replace_kill_points):
    old, new = replace_kill_points(
        lambda p: tableio.write_table(_stats_rows(spark, 10), p),
        lambda p: tableio.write_table(_stats_rows(spark, 3, start=50), p),
        lambda p: _read(spark, p),
    )
    assert len(old) == 10 and len(new) == 3


def test_write_table_sorted_kill_points(spark, replace_kill_points):
    """The range layout's ``_layout.json`` moves in with its data: every
    crash point reads the old or the new rows with their own layout."""
    old, new = replace_kill_points(
        lambda p: tableio.write_table_sorted(_stats_rows(spark, 16), p, n_buckets=4),
        lambda p: tableio.write_table_sorted(
            _stats_rows(spark, 24, start=100), p, n_buckets=4
        ),
        lambda p: _read_with_layout(spark, p),
    )
    assert len(new[0]) == 24 and sum(new[1]["rows"].values()) == 24
    assert new[1]["sort_by"] == "warc_ts"


def test_migrate_kill_points(spark, replace_kill_points):
    """A crash inside the flat-to-bucketed migration leaves the flat table
    readable, so the re-run migrates it instead of taking the new-table
    path with the updates alone. The bucketed table never lands without
    its layout and row counts."""

    def merge(p):
        upd = _stats_rows(spark, 5, start=8).withColumn("extracted_text", F.lit("new"))
        assert tableio.merge_by_url(spark, p, upd, n_buckets=4)["path"] == "migrate"

    old, new = replace_kill_points(
        lambda p: tableio.write_table(_stats_rows(spark, 10), p),
        merge,
        lambda p: _read_with_layout(spark, p),
    )
    assert old[1] is None and len(new[0]) == 13
    assert sum(new[1]["rows"].values()) == 13


def test_rewrite_kill_points(spark, replace_kill_points):
    """A crash inside a bucket swap of the rewrite path: every url is read
    once, as its pre-merge or its merged version, no row lost (the read is
    ``read_range``, which restores a parked bucket too); re-running the
    merge equals one clean merge, counts included."""
    base = _stats_rows(spark, 24)
    b = _bucket_of(spark, [f"u{i}" for i in range(24)], 4)
    dirty = sorted(set(b.values()))[:2]
    upd = base.where(F.col("url").isin([u for u, x in b.items() if x in dirty]))
    upd = upd.withColumn("extracted_text", F.lit("new"))

    def read(p):
        spark.catalog.refreshByPath(p)
        rows = tableio.read_range(spark, p, "doc_id", 0, 10**6).collect()
        return sorted(map(tuple, rows)), tableio.table_rows(spark, p)

    def check(got, old, new):
        rows = got[0]
        assert len({r[0] for r in rows}) == len(rows) == len(old[0])
        pre, post = {r[0]: r for r in old[0]}, {r[0]: r for r in new[0]}
        assert all(r in (pre[r[0]], post[r[0]]) for r in rows)

    old, new = replace_kill_points(
        lambda p: tableio.merge_by_url(spark, p, base, n_buckets=4),
        lambda p: tableio.merge_by_url(spark, p, upd),
        read,
        check,
    )
    assert old[0] != new[0] and new[1] == 24


def test_compact_kill_points(spark, replace_kill_points):
    """A crash inside a bucket swap of ``compact`` reads the same rows;
    re-running it leaves one file per bucket."""
    b = _bucket_of(spark, [f"u{i}" for i in range(100, 140)], 4)
    two = sorted(set(b.values()))[:2]
    extra = _stats_rows(spark, 40, start=100).where(
        F.col("url").isin([u for u, x in b.items() if x in two])
    )

    def build(p):
        tableio.merge_by_url(spark, p, _stats_rows(spark, 24), n_buckets=4)
        assert tableio.merge_by_url(spark, p, extra)["path"] == "append"

    def read(p):
        return _read(spark, p), max(_files_per_bucket(p).values())

    def check(got, old, new):
        assert got[0] == old[0] == new[0]

    old, new = replace_kill_points(
        build, lambda p: tableio.compact(spark, p), read, check
    )
    assert old[1] == 2 and new[1] == 1


def test_read_url_prunes_to_one_bucket(spark, pages_unit_path, tmp_path):
    """Point lookup reads only the bucket the url hashes into: result equals
    the full-table filter, its scan lists exactly one bucket=N directory,
    and misses/flat layouts degrade gracefully."""
    out = str(tmp_path / "t")
    pages = spark.read.parquet(pages_unit_path)
    tableio.merge_by_url(spark, out, pipeline.run_extract(pages, run_id="a"),
                         n_buckets=8)
    assert os.path.exists(os.path.join(out, "_layout.json"))
    url = spark.read.parquet(out).select("url").first()["url"]

    got = tableio.read_url(spark, out, url)
    full = spark.read.parquet(out).drop("bucket").filter(f"url = '{url}'")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in full.collect()]
    # the pruned plan's file index lists exactly ONE path (the bucket dir;
    # long paths are truncated in the plan string, so match the count)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryFileIndex(1 paths)" in plan, plan
    # miss: empty result, same schema
    miss = tableio.read_url(spark, out, "no-such-url")
    assert miss.count() == 0 and set(miss.columns) == set(full.columns)
    # flat layout fallback
    flat = str(tmp_path / "flat")
    tableio.write_table(pipeline.run_extract(pages.limit(8), run_id="b"), flat)
    u2 = spark.read.parquet(flat).select("url").first()["url"]
    assert tableio.read_url(spark, flat, u2).count() == 1
    assert tableio.read_url(spark, str(tmp_path / "absent"), "x") is None


def test_merge_migrates_flat_layout(spark, pages_unit_path, tmp_path):
    """A table written flat (write_table) is migrated to buckets on first
    merge, with upsert semantics intact."""
    out = str(tmp_path / "t")
    pages = spark.read.parquet(pages_unit_path)
    tableio.write_table(pipeline.run_extract(pages, run_id="a"), out)
    assert not any(d.startswith("bucket=") for d in os.listdir(out))
    upd = pipeline.run_extract(pages.limit(5), run_id="b")
    tableio.merge_by_url(spark, out, upd, n_buckets=8)
    assert any(d.startswith("bucket=") for d in os.listdir(out))
    final = spark.read.parquet(out)
    assert final.count() == 64
    assert final.filter("lineage = 'b'").count() == 5
    assert final.groupBy("url").count().filter("count > 1").count() == 0


def test_merge_respects_existing_layout_and_lookup_survives(spark, tmp_path):
    """ADVICE r2 #1: a merge invoked with a DIFFERENT n_buckets than the
    table's recorded layout must not scatter rows into wrong buckets — the
    table's _layout.json wins, and the point lookup still finds every url."""
    from engine import tableio

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"u{i}", f"t{i}") for i in range(20)], "url string, extracted_text string"
    )
    tableio.merge_by_url(spark, target, base, n_buckets=8)
    upd = spark.createDataFrame(
        [("u3", "NEW3"), ("u99", "NEW99")], "url string, extracted_text string"
    )
    # caller passes the wrong bucket count; recorded layout (8) must win
    tableio.merge_by_url(spark, target, upd, n_buckets=3)
    import json
    import os

    with open(os.path.join(target, "_layout.json"), encoding="utf-8") as f:
        assert json.load(f)["n_buckets"] == 8
    assert tableio.read_url(spark, target, "u3").collect()[0][
        "extracted_text"
    ] == "NEW3"
    assert tableio.read_url(spark, target, "u99").count() == 1
    assert tableio.read_table(spark, target).count() == 21


def test_read_url_falls_back_on_stale_manifest(spark, tmp_path):
    """A manifest claiming fewer buckets than the directories present is
    inconsistent — read_url must fall back to the (correct) pruned full-table
    plan instead of hashing into the wrong bucket and returning empty."""
    import json
    import os

    from engine import tableio

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"u{i}", f"t{i}") for i in range(20)], "url string, extracted_text string"
    )
    tableio.merge_by_url(spark, target, base, n_buckets=8)
    with open(os.path.join(target, "_layout.json"), "w", encoding="utf-8") as f:
        json.dump({"n_buckets": 2}, f)  # stale: dirs go up to bucket=7
    for i in range(20):
        got = tableio.read_url(spark, target, f"u{i}")
        assert got.count() == 1, f"u{i} lost under stale manifest"


def test_compact_buckets_preserves_content(spark, tmp_path):
    """r4 rewrite_data_files analog: multi-file bucket dirs collapse to one
    file each; table contents, layout, and point lookup are unchanged;
    already-compact buckets keep their files untouched."""
    import os

    from engine import tableio

    path = str(tmp_path / "tbl")
    rows = [(f"u{i}", f"t{i}", 1) for i in range(64)]
    df = spark.createDataFrame(rows, "url string, extracted_text string, ver long")
    tableio.merge_by_url(spark, path, df.repartition(8), n_buckets=4)
    # merges write one file per bucket: give one bucket a second file (a
    # second writer generation appending new urls that hash into it)
    from pyspark.sql import functions as F

    b0 = f"{path}/bucket=0"
    more = spark.createDataFrame(
        [(f"u{i}", f"t{i}", 2) for i in range(64, 128)], df.schema
    ).where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    more.coalesce(1).write.mode("append").parquet(b0)
    spark.catalog.refreshByPath(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).drop("bucket").collect())
    multi = [
        d for d in os.listdir(path)
        if d.startswith("bucket=")
        and len([f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")]) > 1
    ]
    assert multi, "setup failed to produce multi-file buckets"

    compacted = tableio.compact(spark, path)
    assert sorted(compacted) == sorted(int(d.split("=")[1]) for d in multi)
    for d in os.listdir(path):
        if d.startswith("bucket="):
            files = [f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")]
            assert len(files) <= 1, d
    after = sorted(tuple(r) for r in spark.read.parquet(path).drop("bucket").collect())
    assert after == before
    # point lookup still bucket-prunes correctly
    hit = tableio.read_url(spark, path, "u7")
    assert hit is not None and hit.count() == 1
    # idempotent: second compact is a no-op
    assert tableio.compact(spark, path) == []


def test_range_read_skips_buckets_via_minmax_stats(spark, tmp_path):
    """VERDICT r4 #7 (Iceberg manifest min/max pruning analog): merges
    record per-bucket min/max for doc_id/warc_ts in _layout.json; a
    selective read_range lists strictly fewer files than the full table
    and returns exactly the full-scan filter's rows. Stats refresh
    incrementally on merge (only dirty buckets re-aggregated)."""
    import json
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import functions as F

    from engine import tableio

    path = str(tmp_path / "tbl")
    urls = [f"u{i}" for i in range(64)]
    # assign doc_id/warc_ts CLUSTERED by the url's merge bucket, the layout
    # under which min/max stats can prune (time-correlated ingest batches)
    buckets = {
        r["url"]: r["b"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").alias("b"))
        .collect()
    }
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = []
    for i, u in enumerate(sorted(urls, key=lambda u: (buckets[u], u))):
        rows.append((u, 100 * buckets[u] + i % 100,
                     t0 + timedelta(hours=buckets[u] * 24 + i), f"t{i}"))
    df = spark.createDataFrame(
        rows, "url string, doc_id long, warc_ts timestamp, extracted_text string"
    )
    tableio.merge_by_url(spark, path, df, n_buckets=8)

    with open(f"{path}/_layout.json", encoding="utf-8") as f:
        layout = json.load(f)
    assert layout["stats"], "merge did not record min/max stats"
    assert all(set(s) == {"doc_id", "warc_ts"} for s in layout["stats"].values())

    # doc_id range covering exactly one bucket's span
    got = tableio.read_range(spark, path, "doc_id", 300, 350)
    full = spark.read.parquet(path).drop("bucket").filter(
        "doc_id between 300 and 350"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))
    n_all = len(spark.read.parquet(path).inputFiles())
    assert 0 < len(got.inputFiles()) < n_all, "range scan did not skip files"

    # timestamp range: one bucket's 24h day
    lo, hi = t0 + timedelta(hours=48), t0 + timedelta(hours=71)
    got_ts = tableio.read_range(spark, path, "warc_ts", lo, hi)
    full_ts = spark.read.parquet(path).drop("bucket").filter(
        (F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") <= F.lit(hi))
    )
    assert sorted(map(tuple, got_ts.collect())) == sorted(
        map(tuple, full_ts.collect())
    )
    assert 0 < len(got_ts.inputFiles()) < n_all

    # empty intersection: no bucket overlaps -> empty result, no data read
    assert tableio.read_range(spark, path, "doc_id", 10_000, 20_000).count() == 0

    # merge moves a row's doc_id outside its bucket's recorded range: stats
    # must refresh (only the dirty bucket) or the row would be lost to skips
    victim = rows[0][0]
    upd = spark.createDataFrame(
        [(victim, 9_999, t0, "moved")],
        "url string, doc_id long, warc_ts timestamp, extracted_text string",
    )
    tableio.merge_by_url(spark, path, upd)
    hit = tableio.read_range(spark, path, "doc_id", 9_000, 10_000)
    assert [r["url"] for r in hit.collect()] == [victim]
    assert len(hit.inputFiles()) < n_all

    # statless table (flat write) falls back to a correct full filter
    flat = str(tmp_path / "flat")
    tableio.write_table(df, flat)
    flat_got = tableio.read_range(spark, flat, "doc_id", 300, 350)
    assert sorted(
        (r["url"], r["doc_id"]) for r in flat_got.collect()
    ) == sorted((u, d) for u, d, _, _ in rows if 300 <= d <= 350)


def test_sorted_layout_prunes_timestamp_ranges_on_natural_data(spark, tmp_path):
    """VERDICT r5 #5: on NATURAL (url-uncorrelated) data the url-hash
    layout scatters every ingest hour across every bucket, so warc_ts
    stats prune nothing — write_table_sorted's range layout (Iceberg
    sort-order analog) gives disjoint per-bucket ranges and a day's
    read_range lists a MINORITY of bucket dirs, equal rows to the full
    filter. Point lookup falls back correctly; merge_by_url refuses the
    range layout loudly."""
    from datetime import datetime, timedelta, timezone

    import pytest as _pytest
    from pyspark.sql import functions as F

    from engine import tableio

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    # 512 docs over 16 days, urls uncorrelated with time
    rows = [
        (f"u{i}", i, t0 + timedelta(minutes=45 * i), f"t{i}")
        for i in range(512)
    ]
    df = spark.createDataFrame(
        rows, "url string, doc_id long, warc_ts timestamp, extracted_text string"
    )
    lo, hi = t0 + timedelta(days=4), t0 + timedelta(days=5)
    pred = (F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") <= F.lit(hi))

    # motivation pin: the url-hash merge layout cannot prune this range
    hashed = str(tmp_path / "hashed")
    tableio.merge_by_url(spark, hashed, df, n_buckets=16)
    got_hashed = tableio.read_range(spark, hashed, "warc_ts", lo, hi)
    n_all_hashed = len(spark.read.parquet(hashed).inputFiles())
    assert len(got_hashed.inputFiles()) == n_all_hashed, (
        "url-hash layout unexpectedly pruned a timestamp range"
    )

    path = str(tmp_path / "sorted")
    tableio.write_table_sorted(df, path, sort_col="warc_ts", n_buckets=16)
    dirs = [d for d in __import__("os").listdir(path) if d.startswith("bucket=")]
    assert len(dirs) > 8, dirs

    got = tableio.read_range(spark, path, "warc_ts", lo, hi)
    full = spark.read.parquet(path).drop("bucket").filter(pred)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, full.collect()))
    n_listed = len(got.inputFiles())
    n_all = len(spark.read.parquet(path).inputFiles())
    # 1 of 16 days -> a strict minority of the bucket dirs (boundary
    # buckets may add one or two)
    assert 0 < n_listed <= n_all // 4, (n_listed, n_all)

    # point lookup on the range layout: correct via the full-scan fallback
    hit = tableio.read_url(spark, path, "u100")
    assert hit is not None and hit.count() == 1

    # upserting into a range layout is refused, not silently misplaced
    upd = spark.createDataFrame(
        [("u0", 0, t0, "changed")],
        "url string, doc_id long, warc_ts timestamp, extracted_text string",
    )
    with _pytest.raises(ValueError, match="range layout"):
        tableio.merge_by_url(spark, path, upd)


def test_compact_keeps_sorted_layout_order(spark, tmp_path):
    """r6: compacting a range-layout bucket must rewrite it SORTED — the
    within-file half of the skipping story (monotone parquet row-group
    stats); a plain coalesce would interleave the source files' order."""
    import os
    from datetime import datetime, timedelta, timezone

    from engine import tableio

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [
        (f"u{i}", i, t0 + timedelta(minutes=45 * i), f"t{i}") for i in range(128)
    ]
    df = spark.createDataFrame(
        rows, "url string, doc_id long, warc_ts timestamp, extracted_text string"
    )
    path = str(tmp_path / "sorted")
    tableio.write_table_sorted(df, path, sort_col="warc_ts", n_buckets=4)
    # split one bucket into two files (a second writer generation)
    b0 = f"{path}/bucket=0"
    part = [f for f in os.listdir(b0) if f.endswith(".parquet")][0]
    extra = spark.read.parquet(f"{b0}/{part}")
    head = extra.orderBy("warc_ts").limit(5)
    head.write.mode("append").parquet(b0)
    spark.catalog.refreshByPath(path)
    assert tableio.compact(spark, path) == [0]
    files = [f for f in os.listdir(b0) if f.endswith(".parquet")]
    assert len(files) == 1
    got = spark.read.parquet(b0).collect()
    ts = [r["warc_ts"] for r in got]
    assert ts == sorted(ts), "compacted bucket lost its sort order"


def test_stats_widened_before_swap_survive_merge_crash(spark, tmp_path):
    """Review r5: the bucket swap and the exact stats refresh are not
    atomic. The merge widens recorded ranges to old ∪ incoming BEFORE any
    rename, so at EVERY crash point (pre-swap with old data, post-swap
    without the tightening refresh) read_range still finds every row —
    stale-but-narrow stats silently dropping just-merged rows was the
    failure mode."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from engine import tableio

    path = str(tmp_path / "tbl")
    urls = [f"u{i}" for i in range(32)]
    buckets = {
        r["url"]: r["b"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", F.pmod(F.xxhash64("url"), F.lit(4)).cast("int").alias("b"))
        .collect()
    }
    rows = [(u, 100 * buckets[u] + i, f"t{i}") for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, "url string, doc_id long, extracted_text string")
    tableio.merge_by_url(spark, path, df, n_buckets=4)

    # emulate the merge up to (but not including) the swap: tmp holds the
    # dirty bucket's rebuilt content with an out-of-range doc_id
    victim = rows[0]
    vb = buckets[victim[0]]
    upd = spark.createDataFrame(
        [(victim[0], 77_777, "moved", vb)],
        "url string, doc_id long, extracted_text string, bucket int",
    )
    kept = (
        spark.read.parquet(f"{path}/bucket={vb}")
        .withColumn("bucket", F.lit(vb))
        .where(F.col("url") != victim[0])
    )
    tmp = str(tmp_path / "tbl.tmp-crash")
    kept.unionByName(upd).write.partitionBy("bucket").parquet(tmp)
    tableio._widen_stats_for_swap(spark, path, tmp, [vb])

    # crash point A: widened stats, swap not yet performed — old table must
    # still answer range reads exactly
    got_old = tableio.read_range(spark, path, "doc_id", victim[1], victim[1])
    assert [r["url"] for r in got_old.collect()] == [victim[0]]

    # crash point B: swap done, exact refresh never ran
    shutil.rmtree(f"{path}/bucket={vb}")
    os.rename(f"{tmp}/bucket={vb}", f"{path}/bucket={vb}")
    spark.catalog.refreshByPath(path)
    hit = tableio.read_range(spark, path, "doc_id", 77_000, 78_000)
    assert [r["url"] for r in hit.collect()] == [victim[0]]

    # the widened entry is a superset range (or dropped) — never narrow
    with open(f"{path}/_layout.json", encoding="utf-8") as f:
        st = json.load(f)["stats"].get(str(vb), {})
    if "doc_id" in st:
        assert st["doc_id"][0] <= victim[1] and st["doc_id"][1] >= 77_777


def test_compact_crash_states_read_consistently_and_self_heal(spark, tmp_path):
    """ADVICE r4: compaction is write-then-swap — simulate every crash
    state and assert (a) the table reads its exact pre-compact contents in
    each state (aside/tmp dirs are underscore-prefixed, invisible to
    partition discovery), and (b) the next compact() self-heals."""
    import os
    import shutil

    from engine import tableio

    path = str(tmp_path / "tbl")
    rows = [(f"u{i}", f"t{i}", 1) for i in range(64)]
    df = spark.createDataFrame(rows, "url string, extracted_text string, ver long")
    tableio.merge_by_url(spark, path, df.repartition(8), n_buckets=4)
    want = sorted(tuple(r) for r in spark.read.parquet(path).drop("bucket").collect())

    def table():
        return sorted(
            tuple(r) for r in spark.read.parquet(path).drop("bucket").collect()
        )

    # crash state 1: fresh write completed into _compact- tmp, swap not begun
    bdir = os.path.join(path, "bucket=0")
    spark.read.parquet(bdir).coalesce(1).write.parquet(
        os.path.join(path, "_compact-deadbeef-bucket-0")
    )
    assert table() == want  # tmp dir invisible to readers
    tableio.compact(spark, path)
    assert not os.path.exists(os.path.join(path, "_compact-deadbeef-bucket-0"))
    assert table() == want

    # crash state 2: crashed between the two renames (bucket dir aside,
    # fresh dir not yet moved in) — data lives only in the aside dir
    os.rename(bdir, os.path.join(path, "_gc-cafebabe-bucket-0"))
    assert tableio.compact(spark, path) == []  # heals: restores the aside dir
    assert os.path.isdir(bdir) and table() == want

    # crash state 3: swap completed, old aside dir not yet deleted
    shutil.copytree(bdir, os.path.join(path, "_gc-0badf00d-bucket-0"))
    assert table() == want  # aside dir invisible: no doubled rows
    tableio.compact(spark, path)
    assert not os.path.exists(os.path.join(path, "_gc-0badf00d-bucket-0"))
    assert table() == want


def test_merge_crash_states_read_consistently_and_self_heal(spark, tmp_path):
    """ADVICE r5: merge_by_url's bucket swap now uses compact()'s aside-dir
    two-rename pattern — simulate the crash states and assert the table
    always reads a consistent version and the next merge self-heals. The
    old rmtree(dst)+rename had a window where a bucket's data was gone."""
    import shutil

    path = str(tmp_path / "tbl")
    rows = [(f"u{i}", f"t{i}", 1) for i in range(64)]
    df = spark.createDataFrame(rows, "url string, extracted_text string, ver long")
    tableio.merge_by_url(spark, path, df, n_buckets=4)
    want = sorted(tuple(r) for r in spark.read.parquet(path).drop("bucket").collect())

    def table():
        return sorted(
            tuple(r) for r in spark.read.parquet(path).drop("bucket").collect()
        )

    # crash state 1: crashed between the two renames — bucket=0 moved aside,
    # fresh dir never moved in. Reader sees no bucket=0; next merge restores.
    bdir = os.path.join(path, "bucket=0")
    os.rename(bdir, os.path.join(path, "_gc-feedface-bucket-0"))
    spark.catalog.refreshByPath(path)
    upd = spark.createDataFrame(
        [("u1", "new", 2)], "url string, extracted_text string, ver long"
    )
    tableio.merge_by_url(spark, path, upd)
    assert os.path.isdir(bdir)  # healed before merging
    got = table()
    assert ("u1", "new", 2) in got and len(got) == len(want)

    # crash state 2: swap completed, aside dir not yet deleted — the aside
    # is underscore-prefixed so readers never double-count; merge GCs it.
    shutil.copytree(bdir, os.path.join(path, "_gc-0defaced-bucket-0"))
    before = table()
    tableio.merge_by_url(
        spark, path,
        spark.createDataFrame(
            [("u2", "newer", 3)], "url string, extracted_text string, ver long"
        ),
    )
    assert not os.path.exists(os.path.join(path, "_gc-0defaced-bucket-0"))
    got = table()
    assert ("u2", "newer", 3) in got and len(got) == len(before)

    # crash state 3 (ADVICE r6): crashed BEFORE the swap loop — the staged
    # '{target}.tmp-{tag}' SIBLING is left behind; it lives outside
    # target_path so the in-dir heal never saw it and repeated crashed
    # merges leaked full dirty-bucket copies. The next merge removes it.
    stale = f"{path}.tmp-deadbeef"
    shutil.copytree(path, stale)
    before = table()
    tableio.merge_by_url(
        spark, path,
        spark.createDataFrame(
            [("u3", "newest", 4)], "url string, extracted_text string, ver long"
        ),
    )
    assert not os.path.exists(stale)
    got = table()
    assert ("u3", "newest", 4) in got and len(got) == len(before)


def test_append_run_replaces_its_rows_and_keeps_other_runs(spark, tmp_path):
    """The append-by-run table: each run's rows live in one file; writing a
    run id again replaces exactly its rows. Rows a Spark writer left
    (a table written before per-run files) keep every other run's rows,
    lose the re-run id's, and the table reads with the same schema."""
    path = str(tmp_path / "m")
    schema = "part_id int, docs_in long, run_id string, wall_ms int"
    legacy = spark.createDataFrame(
        [(0, 5, "r0", 1), (1, 6, "r0", 1), (0, 7, "r1", 2)], schema
    )
    tableio.write_table(legacy.coalesce(1), path)
    spark.createDataFrame([(1, 8, "r1", 2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)

    def table():
        df = spark.read.parquet(path)
        assert df.dtypes == legacy.dtypes
        return sorted(tuple(r) for r in df.collect())

    r1 = spark.createDataFrame([(0, 3, "r1", 9), (1, 4, "r1", 9)], schema)
    tableio.append_run(spark, path, "r1", r1.collect(), r1.schema)
    assert table() == [(0, 3, "r1", 9), (0, 5, "r0", 1), (1, 4, "r1", 9), (1, 6, "r0", 1)]

    r1 = spark.createDataFrame([(2, 10, "r1", 11)], schema)
    tableio.append_run(spark, path, "r1", r1.collect(), r1.schema)
    r2 = spark.createDataFrame([], schema)
    tableio.append_run(spark, path, "r2", r2.collect(), r2.schema)
    assert table() == [(0, 5, "r0", 1), (1, 6, "r0", 1), (2, 10, "r1", 11)]
    assert sorted(f for f in os.listdir(path) if f.startswith("run-")) == [
        "run-r1.parquet", "run-r2.parquet"
    ]


def _layout(path):
    import json

    with open(os.path.join(path, "_layout.json"), encoding="utf-8") as f:
        return json.load(f)


def _recorded(path):
    from pyspark.sql.types import StructType

    return StructType.fromJson(_layout(path)["schema"]).simpleString()


def _quiet_read(spark, path):
    """``read_table`` with every RuntimeWarning raised as an error."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        return tableio.read_table(spark, path)


def test_every_layout_write_records_the_schema_and_reads_run_no_job(
    spark, tmp_path, new_jobs
):
    """The new, append, rewrite and migrate paths of ``merge_by_url`` and
    ``write_table_sorted`` record the table's data schema (no ``bucket``)
    in ``_layout.json``. A table or range read passes it to Spark: the
    DataFrames are built with no Spark job and no warning, and read what
    an inferring read finds."""
    want = _stats_rows(spark, 1).schema.simpleString()
    path = str(tmp_path / "t")
    for upd, merge_path in (
        (_stats_rows(spark, 40), "new"),
        (_stats_rows(spark, 8, start=100), "append"),
        (_stats_rows(spark, 4, start=30), "rewrite"),
    ):
        assert tableio.merge_by_url(spark, path, upd, n_buckets=4)["path"] == merge_path
        assert _recorded(path) == want, merge_path
    flat = str(tmp_path / "flat")
    tableio.write_table(_stats_rows(spark, 10), flat)
    assert tableio.merge_by_url(spark, flat, _stats_rows(spark, 3, start=50))["path"] == (
        "migrate"
    )
    assert _recorded(flat) == want
    ranged = str(tmp_path / "ranged")
    tableio.write_table_sorted(_stats_rows(spark, 30), ranged, n_buckets=4)
    assert _recorded(ranged) == want

    for p in (path, flat, ranged):
        spark.catalog.refreshByPath(p)
        new_jobs()
        df = _quiet_read(spark, p)
        rr = tableio.read_range(spark, p, "doc_id", 0, 9)
        assert new_jobs() == [], p
        inferred = spark.read.parquet(p).drop("bucket")
        assert df.schema == inferred.schema
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, inferred.collect()))
        assert sorted(r["doc_id"] for r in rr.collect()) == list(range(10))


def test_layout_without_schema_is_inferred_loudly_until_a_write_records_it(
    spark, tmp_path
):
    """A layout written before schemas were recorded reads by inference with
    one RuntimeWarning; the next merge records the schema, and reads are
    quiet again."""
    import json

    import pytest

    path = str(tmp_path / "t")
    tableio.merge_by_url(spark, path, _stats_rows(spark, 24), n_buckets=4)
    doc = _layout(path)
    del doc["schema"]
    with open(os.path.join(path, "_layout.json"), "w", encoding="utf-8") as f:
        json.dump(doc, f)
    with pytest.warns(RuntimeWarning, match="records no schema") as rec:
        df = tableio.read_table(spark, path)
    assert len(rec) == 1
    assert sorted(r["doc_id"] for r in df.collect()) == list(range(24))

    with pytest.warns(RuntimeWarning, match="records no schema"):
        got = tableio.merge_by_url(spark, path, _stats_rows(spark, 6, start=100))
    assert got["path"] == "append"
    assert _recorded(path) == _stats_rows(spark, 1).schema.simpleString()
    assert _quiet_read(spark, path).count() == 30


def test_file_newer_than_layout_is_read_by_inference_loudly(spark, tmp_path):
    """A data file written outside tableio after the layout, here with a
    column the recorded schema lacks, makes the recorded schema untrusted:
    the table reads with the schema inferred from every file, with one
    RuntimeWarning, so the column is kept with its values, never dropped.
    ``compact`` folds the file in and re-saves the layout with that schema,
    and reads are quiet again."""
    import pytest

    path = str(tmp_path / "t")
    tableio.merge_by_url(spark, path, _stats_rows(spark, 16), n_buckets=4)
    extra = (
        _stats_rows(spark, 40, start=500)
        .where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
        .withColumn("note", F.lit("outside"))
    )
    urls = {r["url"] for r in extra.collect()}
    assert urls
    extra.coalesce(1).write.mode("append").parquet(f"{path}/bucket=0")
    spark.catalog.refreshByPath(path)

    with pytest.warns(RuntimeWarning, match="older than the data file bucket=0/") as rec:
        df = tableio.read_table(spark, path)
    assert len(rec) == 1, [str(w.message) for w in rec]
    rows = {r["url"]: r["note"] for r in df.collect()}
    assert len(rows) == 16 + len(urls)
    assert {u for u, n in rows.items() if n is not None} == urls
    assert set(rows[u] for u in urls) == {"outside"}

    with pytest.warns(RuntimeWarning, match="older than the data file"):
        assert tableio.compact(spark, path) == [0]
    assert "note:string" in _recorded(path)
    quiet = {r["url"]: r["note"] for r in _quiet_read(spark, path).collect()}
    assert quiet == rows


def test_compact_reads_buckets_with_the_recorded_schema(spark, tmp_path, new_jobs):
    """``compact`` reads every bucket with the recorded schema: one write
    job per compacted bucket and no schema-inference job, no warning, and
    the re-saved layout keeps later reads quiet."""
    import warnings

    path = str(tmp_path / "t")
    tableio.merge_by_url(spark, path, _stats_rows(spark, 32), n_buckets=4)
    tableio.merge_by_url(spark, path, _stats_rows(spark, 32, start=100))
    assert set(_files_per_bucket(path).values()) == {2}
    want = sorted(map(tuple, spark.read.parquet(path).drop("bucket").collect()))
    new_jobs()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        done = tableio.compact(spark, path)
    jobs = new_jobs()
    assert sorted(done) == [0, 1, 2, 3]
    assert "schema" not in jobs and len(jobs) == len(done), jobs
    assert set(_files_per_bucket(path).values()) == {1}
    assert sorted(map(tuple, _quiet_read(spark, path).collect())) == want
