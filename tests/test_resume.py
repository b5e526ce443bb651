"""Checkpointed resume (J3 anti-join) + MERGE-by-url (J4) semantics:
a run killed partway and resumed must converge to the same table as one
clean run, and re-merging is idempotent (SURVEY.md §2.3)."""

from __future__ import annotations

from engine import pipeline, tableio


def _table_dict(df):
    return {r["url"]: (r["extracted_text"], r["status"]) for r in df.collect()}


def test_resume_equals_single_run(spark, pages_small_path, tmp_path):
    out = str(tmp_path / "extracted")
    pages = spark.read.parquet(pages_small_path)

    # "killed" first run: only half the input got processed and merged
    first_half = pages.filter("xxhash64(url) % 2 = 0")
    tableio.merge_by_url(
        spark, out, pipeline.run_extract(first_half, num_parts=4, run_id="r1")
    )
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < pages.count()

    # resume: anti-join leaves only unprocessed urls
    todo = tableio.remaining(pages, out)
    assert todo.count() == pages.count() - n_first
    tableio.merge_by_url(
        spark, out, pipeline.run_extract(todo, num_parts=4, run_id="r2")
    )

    resumed = _table_dict(spark.read.parquet(out))
    single = _table_dict(pipeline.run_extract(pages, num_parts=4, run_id="r0"))
    assert resumed == single


def test_merge_idempotent(spark, pages_unit_path, tmp_path):
    out = str(tmp_path / "extracted")
    pages = spark.read.parquet(pages_unit_path)
    upd = pipeline.run_extract(pages, num_parts=2, run_id="a")
    tableio.merge_by_url(spark, out, upd)
    once = _table_dict(spark.read.parquet(out))
    tableio.merge_by_url(spark, out, upd)  # merge same updates again
    twice = _table_dict(spark.read.parquet(out))
    assert once == twice
    assert spark.read.parquet(out).groupBy("url").count().filter("count > 1").count() == 0


def test_merge_updates_win(spark, pages_unit_path, tmp_path):
    out = str(tmp_path / "extracted")
    pages = spark.read.parquet(pages_unit_path)
    tableio.merge_by_url(spark, out, pipeline.run_extract(pages, num_parts=2, run_id="v1"))
    from pyspark.sql import functions as F

    v2 = pipeline.run_extract(pages.limit(10), num_parts=2, run_id="v2").withColumn(
        "lineage", F.lit("v2")
    )
    tableio.merge_by_url(spark, out, v2)
    final = spark.read.parquet(out)
    assert final.count() == 64
    assert final.filter("lineage = 'v2'").count() == 10


def test_resume_emit_blocks_uses_premerge_snapshot(spark, pages_small_path, tmp_path):
    """Regression (ADVICE r1): with --resume --emit-blocks the CLI must write
    the blocks table BEFORE merge_by_url replaces the output dir a lazy
    `remaining` plan still references. Drive the CLI main() end-to-end."""
    import sys
    from unittest import mock

    from engine import run_pipeline

    out = str(tmp_path / "extracted")
    pages = spark.read.parquet(pages_small_path)
    # seed a partial table so --resume has something to anti-join against
    tableio.merge_by_url(
        spark, out,
        pipeline.run_extract(pages.filter("xxhash64(url) % 2 = 0"), run_id="seed"),
    )
    n_done = spark.read.parquet(out).count()
    argv = [
        "run_pipeline.py", "--pages", pages_small_path, "--out", out,
        "--resume", "--emit-blocks", "--run-id", "r2",
        "--master", spark.sparkContext.master,
    ]
    with mock.patch.object(sys, "argv", argv), \
            mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
            mock.patch.object(spark, "stop", lambda: None):
        run_pipeline.main()
    # blocks table covers exactly the resumed (not-yet-done) urls
    blocks_urls = {
        r["url"] for r in spark.read.parquet(f"{out}_blocks").select("url").collect()
    }
    assert len(blocks_urls) == pages.count() - n_done
    assert spark.read.parquet(out).count() == pages.count()


def test_emit_blocks_marks_forced_blocks_with_fallback(spark, pages_unit_path, tmp_path):
    """With --emit-blocks --fallback, the blocks table marks the relaxed-pass
    winner `forced`: a doc has a forced block exactly when its extracted
    status is 'fallback'."""
    import sys
    from unittest import mock

    from engine import run_pipeline

    out = str(tmp_path / "extracted")
    argv = [
        "run_pipeline.py", "--pages", pages_unit_path, "--out", out,
        "--emit-blocks", "--fallback", "--parts", "3",
        "--master", spark.sparkContext.master,
    ]
    with mock.patch.object(sys, "argv", argv), \
            mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
            mock.patch.object(spark, "stop", lambda: None):
        run_pipeline.main()
    forced = {
        r["url"] for r in
        spark.read.parquet(f"{out}_blocks").filter("forced").select("url").collect()
    }
    fell_back = {
        r["url"] for r in
        spark.read.parquet(out).filter("status = 'fallback'").select("url").collect()
    }
    assert fell_back and forced == fell_back


def test_lineage_written(spark, pages_unit_path, tmp_path):
    import json
    import os

    out = str(tmp_path / "extracted")
    pages = spark.read.parquet(pages_unit_path)
    tableio.merge_by_url(spark, out, pipeline.run_extract(pages, num_parts=2, run_id="L"))
    parts = [
        (r["part_id"], r["count"])
        for r in spark.read.parquet(out).groupBy("part_id").count().collect()
    ]
    path = tableio.write_lineage(spark, out, "L", parts)
    assert os.path.exists(path)
    payload = json.load(open(path))
    assert payload["total_rows"] == 64
    assert all(p["rows"] > 0 for p in payload["partitions"])


def test_cli_wat_out_exports_input_pages_metadata(spark, pages_small_path, tmp_path):
    """r6: --wat-out exports WAT metadata for every INPUT page of the run
    (raw pages, pre-resume) alongside the extraction output."""
    import sys
    from unittest import mock

    from engine import run_pipeline, sources

    out = str(tmp_path / "extracted")
    wat = str(tmp_path / "wat")
    argv = [
        "run_pipeline.py", "--pages", pages_small_path, "--out", out,
        "--wat-out", wat, "--run-id", "r1",
        "--master", spark.sparkContext.master,
    ]
    with mock.patch.object(sys, "argv", argv), \
            mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
            mock.patch.object(spark, "stop", lambda: None):
        run_pipeline.main()
    pages = spark.read.parquet(pages_small_path)
    got = sources.read_pages_wat(spark, wat).collect()
    assert all(r["status"] == "ok" for r in got)
    assert {r["url"] for r in got} == {
        r["url"] for r in pages.select("url").collect()
    }
    assert all('"Links":' in r["payload"] for r in got)


def test_cli_blocklist_gates_pages_before_extraction(
    spark, pages_small_path, tmp_path
):
    """r7: --blocklist gates input urls through engine.urlgate BEFORE
    extraction — blocked urls appear in neither the extracted table nor
    the WAT export; comments and blank lines in the rules file are
    ignored; malformed lines fail loudly."""
    import sys
    from unittest import mock

    import pytest as _pytest

    from engine import run_pipeline, sources

    pages = spark.read.parquet(pages_small_path)
    urls = [r["url"] for r in pages.select("url").collect()]
    victim_host = urls[0].split("/")[2]
    blocked = {u for u in urls if u.split("/")[2] == victim_host}
    assert blocked and len(blocked) < len(urls)

    rules = tmp_path / "rules.tsv"
    rules.write_text(
        "# crawl blocklist\n\nhost\t" + victim_host + "\n", encoding="utf-8"
    )
    out = str(tmp_path / "extracted")
    wat = str(tmp_path / "wat")
    argv = [
        "run_pipeline.py", "--pages", pages_small_path, "--out", out,
        "--wat-out", wat, "--blocklist", str(rules), "--run-id", "r1",
        "--master", spark.sparkContext.master,
    ]
    with mock.patch.object(sys, "argv", argv), \
            mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
            mock.patch.object(spark, "stop", lambda: None):
        run_pipeline.main()
    got = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    assert got == set(urls) - blocked
    wat_urls = {r["url"] for r in sources.read_pages_wat(spark, wat).collect()}
    assert wat_urls == set(urls) - blocked  # gated before the WAT export

    bad = tmp_path / "bad.tsv"
    bad.write_text("host-with-no-tab\n", encoding="utf-8")
    argv2 = [
        "run_pipeline.py", "--pages", pages_small_path,
        "--out", str(tmp_path / "x"), "--blocklist", str(bad),
        "--run-id", "r2", "--master", spark.sparkContext.master,
    ]
    with mock.patch.object(sys, "argv", argv2), \
            mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
            mock.patch.object(spark, "stop", lambda: None), \
            _pytest.raises(SystemExit, match="malformed"):
        run_pipeline.main()


def test_cli_quality_min_gates_extracted_docs(spark, pages_small_path, tmp_path):
    """r7: --quality-min drops ok/fallback docs scoring below the frozen
    quality-classifier threshold and passes failure rows through; the kept
    set equals an engine.logreg rescoring of the ungated output."""
    import sys
    from unittest import mock

    from engine import run_pipeline
    from engine.logreg import quality_p_expr
    from engine.logreg_model import TRAINED_WEIGHTS

    def run(out, extra):
        argv = [
            "run_pipeline.py", "--pages", pages_small_path, "--out", out,
            "--run-id", "r1", "--master", spark.sparkContext.master,
        ] + extra
        with mock.patch.object(sys, "argv", argv), \
                mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
                mock.patch.object(spark, "stop", lambda: None):
            run_pipeline.main()
        return spark.read.parquet(out)

    base = run(str(tmp_path / "all"), [])
    q = 0.62
    gated = run(str(tmp_path / "gated"), ["--quality-min", str(q)])

    p = quality_p_expr(
        TRAINED_WEIGHTS,
        text="coalesce(extracted_text, '')",
        n_chars="length(coalesce(extracted_text, ''))",
    )
    want = {
        r["url"]
        for r in base.where(
            f"status NOT IN ('ok', 'fallback') OR ({p}) >= {q!r}"
        ).collect()
    }
    got = {r["url"] for r in gated.collect()}
    assert got == want
    # the gate actually fired, and failure rows survived it
    assert len(got) < base.count()
    base_fail = {
        r["url"]
        for r in base.where("status NOT IN ('ok', 'fallback')").collect()
    }
    assert base_fail and base_fail <= got


def _run_cli(spark, args, capsys=None):
    """``run_pipeline.main`` on ``args`` in the test session; returns the
    parsed JSON line when ``capsys`` is given."""
    import json
    import sys
    from unittest import mock

    from engine import run_pipeline

    argv = ["run_pipeline.py", *args, "--master", spark.sparkContext.master]
    if capsys is not None:
        capsys.readouterr()
    with mock.patch.object(sys, "argv", argv), \
            mock.patch.object(run_pipeline, "get_spark", lambda master=None: spark), \
            mock.patch.object(spark, "stop", lambda: None):
        run_pipeline.main()
    if capsys is not None:
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return None


def test_two_resume_runs_keep_run_scoped_metrics_and_lineage(
    spark, pages_small_path, tmp_path, capsys
):
    """Each --resume run's _metrics and lineage count that run's own rows:
    the first run's _metrics rows survive the second run, each run's
    sum(docs_in) equals the rows it staged, lineage partitions hold only
    the run's rows while total_rows is the table count, and re-running a
    run id replaces its _metrics rows instead of adding to them."""
    import json

    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_small_path)
    half = str(tmp_path / "half.parquet")
    pages.filter("xxhash64(url) % 2 = 0").write.parquet(half)
    n_half, n_all = spark.read.parquet(half).count(), pages.count()
    out = str(tmp_path / "extracted")

    def docs_in(run_id):
        return [
            r["docs_in"]
            for r in spark.read.parquet(f"{out}_metrics")
            .where(F.col("run_id") == run_id).collect()
        ]

    def lineage(run_id):
        with open(f"{out}_lineage/{run_id}.json", encoding="utf-8") as f:
            return json.load(f)

    first = _run_cli(spark, ["--pages", half, "--out", out, "--resume",
                             "--run-id", "r1"], capsys)
    assert first["merge"]["path"] == "new" and first["rows"] == n_half
    second = _run_cli(spark, ["--pages", pages_small_path, "--out", out,
                              "--resume", "--run-id", "r2"], capsys)
    assert (second["merge"]["path"], second["merge"]["rows_in"]) == (
        "append", n_all - n_half
    )
    assert second["rows"] == n_all == spark.read.parquet(out).count()
    assert sum(docs_in("r1")) == n_half  # the first run's rows survive
    assert sum(docs_in("r2")) == n_all - n_half
    for run_id, n in (("r1", n_half), ("r2", n_all - n_half)):
        lin = lineage(run_id)
        staged = {
            r["part_id"]: r["count"]
            for r in spark.read.parquet(out).where(F.col("lineage") == run_id)
            .groupBy("part_id").count().collect()
        }
        assert {p["part_id"]: p["rows"] for p in lin["partitions"]} == staged
        assert {p["lineage"] for p in lin["partitions"]} == {run_id}
        assert lin["run_rows"] == n
    assert lineage("r2")["total_rows"] == spark.read.parquet(out).count()

    # re-run r2 over every page: its rows are replaced, r1's stay
    again = _run_cli(spark, ["--pages", pages_small_path, "--out", out,
                             "--run-id", "r2"], capsys)
    assert again["merge"]["path"] == "rewrite"
    assert sum(docs_in("r2")) == n_all
    assert sum(docs_in("r1")) == n_half
    assert lineage("r2")["total_rows"] == n_all


def test_cli_gate_counters_match_hand_counts(spark, pages_small_path, tmp_path, capsys):
    """The run's gate counters (observed on the staging write, no extra
    job) equal counts made by hand from the input, the blocklist, the
    resumed table and a rescoring of the extracted rows; the lineage JSON
    and the JSON line carry the same counters."""
    import json

    from pyspark.sql import functions as F

    from engine.logreg import quality_p_expr
    from engine.logreg_model import TRAINED_WEIGHTS

    pages = spark.read.parquet(pages_small_path)
    urls = {r["url"] for r in pages.select("url").collect()}
    victim_host = sorted(urls)[0].split("/")[2]
    blocked = {u for u in urls if u.split("/")[2] == victim_host}
    rules = tmp_path / "rules.tsv"
    rules.write_text("host\t" + victim_host + "\n", encoding="utf-8")
    out = str(tmp_path / "extracted")
    tableio.merge_by_url(
        spark, out,
        pipeline.run_extract(pages.filter("xxhash64(url) % 2 = 0"), run_id="seed"),
    )
    done = {r["url"] for r in spark.read.parquet(out).select("url").collect()}
    q = 0.62
    got = _run_cli(spark, [
        "--pages", pages_small_path, "--out", out, "--resume", "--run-id", "r2",
        "--blocklist", str(rules), "--quality-min", str(q),
    ], capsys)

    todo = urls - blocked - done
    p = quality_p_expr(
        TRAINED_WEIGHTS,
        text="coalesce(extracted_text, '')",
        n_chars="length(coalesce(extracted_text, ''))",
    )
    ungated = pipeline.run_extract(pages.where(F.col("url").isin(sorted(todo))))
    dropped = ungated.where(
        f"status IN ('ok', 'fallback') AND ({p}) < {q!r}"
    ).count()
    want = {
        "pages_in": len(urls - blocked),
        "resume_skipped": len((urls - blocked) & done),
        "extracted": len(todo),
        "quality_dropped": dropped,
    }
    assert blocked and want["resume_skipped"] and dropped  # every gate fired
    assert got["gates"] == want
    with open(f"{out}_lineage/r2.json", encoding="utf-8") as f:
        lin = json.load(f)
    assert lin["gates"] == want
    assert lin["run_rows"] == len(todo) - dropped


def test_cli_labels_phase_jobs(spark, pages_unit_path, tmp_path, capsys):
    """Every phase's Spark jobs carry the phase name as their description,
    and the JSON line reports each phase's wall time. The merge phase
    launches no job: the new table is the staging dir, renamed in."""
    store = spark.sparkContext._jsc.sc().statusStore()

    def jobs():
        js = store.jobsList(None)
        return {
            int(js.apply(i).jobId()): js.apply(i).description()
            for i in range(js.size())
        }

    seen = set(jobs())
    out = str(tmp_path / "extracted")
    got = _run_cli(spark, [
        "--pages", pages_unit_path, "--out", out, "--run-id", "r1",
        "--wat-out", str(tmp_path / "wat"), "--wet-out", str(tmp_path / "wet"),
    ], capsys)
    phases = {"wat_export", "extract_stage", "merge", "metrics", "wet_export"}
    labels = {d.get() for j, d in jobs().items() if j not in seen and d.isDefined()}
    assert phases - {"merge"} <= labels, labels
    assert "merge" not in labels, labels
    assert got["merge"]["path"] == "new"
    assert set(got["phases_ms"]) == phases
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_cli_gate_counters_when_every_page_is_done(
    spark, pages_unit_path, tmp_path, capsys
):
    """A --resume run whose pages are all done: the repartitioned stage is
    empty, AQE drops the rest of the plan with the observations in it, and
    the counters still report every page as skipped."""
    out = str(tmp_path / "extracted")
    args = ["--pages", pages_unit_path, "--out", out, "--parts", "3"]
    _run_cli(spark, args + ["--run-id", "r1"])
    got = _run_cli(spark, args + ["--resume", "--run-id", "r2"], capsys)
    assert got["gates"] == {"pages_in": 64, "resume_skipped": 64,
                            "extracted": 0, "quality_dropped": 0}
    assert got["merge"] == {"path": "noop", "dirty_buckets": 0, "rows_in": 0,
                            "overlap_checked": False}
    assert got["rows"] == 64


def test_resume_run_lists_no_files_and_infers_no_table_schema(
    spark, pages_small_path, tmp_path, capsys, new_jobs
):
    """A --resume increment over a table of more than 32 bucket dirs (Spark's
    default parallel-listing threshold), with a WET export, reads the
    table, the staging dir, the dirty buckets and the merged output with
    known schemas and lists their files on the driver: it runs no listing
    job, and its one schema-inference job is the pages input's."""
    import os

    pages = spark.read.parquet(pages_small_path)
    half = str(tmp_path / "half.parquet")
    # crc32, not xxhash64: half of the url hashes is half of the buckets
    pages.filter("crc32(url) % 2 = 0").write.parquet(half)
    out = str(tmp_path / "extracted")
    _run_cli(spark, ["--pages", half, "--out", out, "--run-id", "r1"])
    assert sum(d.startswith("bucket=") for d in os.listdir(out)) > 32
    new_jobs()
    got = _run_cli(spark, [
        "--pages", pages_small_path, "--out", out, "--resume", "--run-id", "r2",
        "--wet-out", str(tmp_path / "wet"),
    ], capsys)
    kinds = new_jobs()
    assert got["merge"]["path"] == "append"
    assert "listing" not in kinds, kinds
    assert kinds.count("schema") == 1, kinds



def _half(spark, pages_small_path, tmp_path, pred="crc32(url) % 8 = 0"):
    """A pages parquet of the urls ``pred`` picks, for a base run."""
    half = str(tmp_path / "half.parquet")
    spark.read.parquet(pages_small_path).filter(pred).write.parquet(half)
    return half


def test_resume_increment_runs_at_most_8_jobs_and_none_to_merge(
    spark, pages_small_path, tmp_path, capsys, new_jobs
):
    """A --resume increment over an unchanged table runs at most 8 Spark
    jobs, none of them in the merge phase: the census comes from the
    staged files' footers, the table version noted before the anti-join
    rules out an overlap, and the staged files are moved in. The lineage
    JSON carries the merge summary of the JSON line."""
    import json

    store = spark.sparkContext._jsc.sc().statusStore()
    out = str(tmp_path / "extracted")
    _run_cli(spark, ["--pages", _half(spark, pages_small_path, tmp_path),
                     "--out", out, "--run-id", "r1"])

    def descriptions():
        js = store.jobsList(None)
        return {
            int(js.apply(i).jobId()): js.apply(i).description()
            for i in range(js.size())
        }

    new_jobs()
    seen = set(descriptions())
    got = _run_cli(spark, ["--pages", pages_small_path, "--out", out,
                           "--resume", "--run-id", "r2"], capsys)
    kinds = new_jobs()
    assert (got["merge"]["path"], got["merge"]["overlap_checked"]) == ("append", False)
    assert len(kinds) <= 8, kinds
    labels = [d.get() for j, d in descriptions().items()
              if j not in seen and d.isDefined()]
    assert "merge" not in labels and "extract_stage" in labels, labels
    assert "merge" in got["phases_ms"]
    with open(f"{out}_lineage/r2.json", encoding="utf-8") as f:
        assert json.load(f)["merge"] == got["merge"]


class _Killed(Exception):
    """A run_pipeline process killed at a kill point."""


def _table_state(spark, out):
    """The table's rows by url (without the run-dependent ``part_id``) and
    its recorded counts and stats."""
    spark.catalog.refreshByPath(out)
    rows = {
        r["url"]: r.asDict(recursive=True)
        for r in tableio.read_table(spark, out).drop("part_id").collect()
    }
    layout = tableio._read_layout(out)
    return rows, layout["rows"], layout.get("stats")


def _leftovers(out):
    import glob

    return glob.glob(out + ".staging-*") + glob.glob(out + ".tmp-*")


def _run_killed(spark, args, monkeypatch, kill):
    """``run_pipeline`` on ``args`` with ``kill()`` raising inside it, as a
    process killed there stops: its ``finally`` (the staging dir's
    removal) never runs."""
    import types

    import pytest

    from engine import run_pipeline

    monkeypatch.setattr(
        run_pipeline, "shutil", types.SimpleNamespace(rmtree=lambda *a, **k: None)
    )
    with pytest.raises(_Killed):
        kill(lambda: _run_cli(spark, args))
    monkeypatch.undo()


def test_run_killed_after_its_staging_write_leaves_no_staging_dir(
    spark, pages_small_path, tmp_path, monkeypatch
):
    """A run killed after its staging write leaves its ``.staging-*`` dir;
    the next ``--resume`` run collects it before staging its own and ends
    with the table a clean run writes."""
    import warnings

    half = _half(spark, pages_small_path, tmp_path)
    clean, out = str(tmp_path / "clean"), str(tmp_path / "extracted")
    for p in (clean, out):
        _run_cli(spark, ["--pages", half, "--out", p, "--run-id", "r1"])
    args = ["--pages", pages_small_path, "--resume", "--run-id", "r2"]
    _run_cli(spark, args + ["--out", clean])

    def kill(run):
        def merge(*a, **kw):
            raise _Killed()

        monkeypatch.setattr(tableio, "merge_by_url", merge)
        run()

    _run_killed(spark, args + ["--out", out], monkeypatch, kill)
    assert len(_leftovers(out)) == 1
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        _run_cli(spark, args + ["--out", out])
    assert _leftovers(out) == []
    assert _table_state(spark, out) == _table_state(spark, clean)


def test_cli_merge_kill_points_recover_to_a_clean_run(
    spark, pages_small_path, tmp_path, monkeypatch
):
    """Every rename of the merge of a run_pipeline run is a kill point: the
    new table's rename of the staging dir (a base run) and the moves of
    the staged files into live and new bucket dirs (a --resume
    increment). A run killed at any of them, then re-run with --resume,
    leaves no staging or tmp dir and ends with the rows, the per-bucket
    counts and the stats of a clean run."""
    import os
    import shutil
    import warnings

    half = _half(spark, pages_small_path, tmp_path)
    base = ["--pages", half, "--run-id", "r1"]
    inc = ["--pages", pages_small_path, "--resume", "--run-id", "r2"]
    clean = str(tmp_path / "clean")
    _run_cli(spark, base + ["--out", clean])
    clean_base = _table_state(spark, clean)
    pristine = str(tmp_path / "pristine")
    shutil.copytree(clean, pristine)
    _run_cli(spark, inc + ["--out", clean])
    clean_inc = _table_state(spark, clean)

    real_rename, real_merge = os.rename, tableio.merge_by_url

    def renames_of(run, at=None):
        """Run ``run`` counting the renames its merge makes; raise
        _Killed at the ``at``-th."""
        done, inside = [], [False]

        def rename(src, dst):
            if inside[0]:
                if len(done) == at:
                    raise _Killed()
                done.append(src)
            real_rename(src, dst)

        def merge(*a, **kw):
            inside[0] = True
            try:
                return real_merge(*a, **kw)
            finally:
                inside[0] = False

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            m.setattr(tableio, "merge_by_url", merge)
            run()
        return len(done)

    probe = str(tmp_path / "probe")
    shutil.copytree(pristine, probe)
    n_moves = renames_of(lambda: _run_cli(spark, inc + ["--out", probe]))
    assert n_moves > 3
    cases = [("new", 0, base, None, clean_base)] + [
        ("append", k, inc, pristine, clean_inc)
        for k in sorted({0, 1, n_moves // 2, n_moves - 1})
    ]
    for name, k, args, start, want in cases:
        out = str(tmp_path / f"{name}{k}")
        if start is not None:
            shutil.copytree(start, out)
        _run_killed(spark, args + ["--out", out], monkeypatch,
                    lambda run, k=k: renames_of(run, at=k))
        assert _leftovers(out), (name, k)
        rerun = args if "--resume" in args else args + ["--resume"]
        with warnings.catch_warnings():  # the recount announces itself
            warnings.filterwarnings("ignore", ".*unsettled", RuntimeWarning)
            _run_cli(spark, rerun + ["--out", out])
        assert _leftovers(out) == [], (name, k)
        assert _table_state(spark, out) == want, (name, k)


def test_commit_between_anti_join_and_merge_is_checked_and_converges(
    spark, pages_small_path, tmp_path, monkeypatch, capsys
):
    """Another writer commits to the table after the run's ``remaining``
    anti-join read it and before the run merges: the run's rows for the
    url that writer added. The table's version changed, so the merge
    checks for an overlap (``overlap_checked``), finds it, rewrites the
    bucket, and the table ends as a clean run leaves it, with the run's
    rows winning."""
    from pyspark.sql import functions as F

    half = _half(spark, pages_small_path, tmp_path)
    clean, out = str(tmp_path / "clean"), str(tmp_path / "extracted")
    for p in (clean, out):
        _run_cli(spark, ["--pages", half, "--out", p, "--run-id", "r1"])
    args = ["--pages", pages_small_path, "--resume", "--run-id", "r2"]
    _run_cli(spark, args + ["--out", clean])
    want = _table_state(spark, clean)
    victim = sorted(set(want[0]) - {
        r["url"] for r in spark.read.parquet(half).select("url").collect()
    })[0]
    real_remaining = tableio.remaining

    def remaining(pages, path):
        todo = real_remaining(pages, path)
        intruder = pipeline.run_extract(
            spark.read.parquet(pages_small_path).where(F.col("url") == victim),
            run_id="intruder",
        ).withColumn("extracted_text", F.lit("intruder"))
        assert tableio.merge_by_url(spark, path, intruder)["path"] == "append"
        return todo

    monkeypatch.setattr(tableio, "remaining", remaining)
    got = _run_cli(spark, args + ["--out", out], capsys)
    assert got["merge"]["overlap_checked"] is True
    assert got["merge"]["path"] == "rewrite"
    state = _table_state(spark, out)
    assert state[0][victim]["lineage"] == "r2"
    assert state == want
