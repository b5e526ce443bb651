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
    and the JSON line reports each phase's wall time."""
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
    assert phases <= labels, labels
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
    assert got["merge"] == {"path": "noop", "dirty_buckets": 0, "rows_in": 0}
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
