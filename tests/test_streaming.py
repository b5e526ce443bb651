"""Structured Streaming: incremental extraction must (a) process only new
files per invocation (checkpointed AvailableNow), (b) produce bytes identical
to the batch pipeline over the union of all files."""

from __future__ import annotations

import os
import re

from fixtures.gen_pages import compute_goldens, gen_rows, write_parquet

from engine.streaming import incremental_extract


def _extracted_rows(rows) -> dict[str, tuple]:
    """url -> the whole extracted row (text, spans, counts, status)."""
    return {
        r["url"]: (
            r["extracted_text"],
            [
                {"block_id": s["block_id"], "start": s["start"],
                 "end": s["end"], "lang": s["lang"]}
                for s in (r["spans"] or [])
            ],
            r["n_blocks"],
            r["n_kept"],
            r["status"],
        )
        for r in rows
    }


def _extract_carriers(query) -> list[str]:
    """Carrier node of every Python map stage in the finished query's last
    executed plan, apart from the WARC parse stage."""
    plan = query._jsq.explainInternal(False)
    stages = re.findall(r"(MapIn(?:Arrow|Pandas)) (\w+)\(", plan)
    return [carrier for carrier, fn in stages if fn != "warc_parse_batches"]


def test_incremental_extract_matches_batch_goldens(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(pages_dir)

    rows = gen_rows(60, seed=11)
    first, second = rows[:40], rows[40:]
    write_parquet(first, f"{pages_dir}/batch0.parquet")

    incremental_extract(spark, pages_dir, out_dir, cp_dir, run_id="s1")
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 40

    # new files land; second invocation processes ONLY them
    write_parquet(second, f"{pages_dir}/batch1.parquet")
    query = incremental_extract(spark, pages_dir, out_dir, cp_dir, run_id="s2")
    assert _extract_carriers(query) == ["MapInArrow"]
    final = spark.read.parquet(out_dir)
    assert final.count() == 60
    assert final.filter("lineage = 's2'").count() == 20  # only the new files
    assert final.groupBy("url").count().filter("count > 1").count() == 0

    goldens = _extracted_rows(compute_goldens(rows))
    assert _extracted_rows(final.collect()) == goldens  # whole-row identity


def test_stateful_sessionize_matches_batch_query(spark, tmp_path):
    """The applyInPandasWithState streaming sessionizer must agree with the
    batch sessionize oracle query over the same events."""
    import shutil

    import __spark_entry__ as em
    from engine.streaming import sessionize_stateful

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{events_dir}/e0.parquet")

    schema = spark.read.parquet(f"{events_dir}/e0.parquet").schema
    sessionize_stateful(
        spark, events_dir, str(tmp_path / "out"), str(tmp_path / "cp"), schema
    )
    got = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    exp = {
        r["user_id"]: (r["n_events"], r["n_sessions"])
        for r in em.queries()["sessionize"](spark, "/root/testdata/sf0.001").collect()
    }
    assert got == exp


def test_windowed_event_counts_matches_batch_sql(spark):
    from engine.streaming import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        (r["hour_epoch"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_event_counts(events).collect()
    }
    events.createOrReplaceTempView("events")
    exp = {
        (r["hour_epoch"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql(
            """
            SELECT CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(round(sum(value), 4) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
            """
        ).collect()
    }
    assert got == exp


def test_dedup_stream_drops_duplicates_across_batches(spark, tmp_path):
    """Streaming ingest dedup (dropDuplicatesWithinWatermark on md5(html)):
    first arrival kept, in-batch and cross-batch duplicates within the
    watermark horizon dropped, fresh content appended."""
    import datetime as dt

    from engine.streaming import dedup_stream

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(pages_dir)

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def row(url, html, secs):
        return {"url": url, "warc_ts": t0 + dt.timedelta(seconds=secs),
                "html": html, "text": "", "lang": "en"}

    a, b, c = b"<p>alpha content</p>", b"<p>beta content</p>", b"<p>gamma</p>"
    # batch 0: a twice (in-batch dup) + b
    write_parquet([row("u1", a, 0), row("u2", a, 10), row("u3", b, 20)],
                  f"{pages_dir}/batch0.parquet")
    dedup_stream(spark, pages_dir, out_dir, cp_dir)
    got0 = spark.read.parquet(out_dir)
    assert got0.count() == 2  # one row per distinct payload

    # batch 1: a again (cross-batch dup, within the 1h horizon) + fresh c
    write_parquet([row("u4", a, 60), row("u5", c, 70)],
                  f"{pages_dir}/batch1.parquet")
    dedup_stream(spark, pages_dir, out_dir, cp_dir)
    final = spark.read.parquet(out_dir)
    assert final.count() == 3
    hashes = [r["content_hash"] for r in final.collect()]
    assert len(set(hashes)) == 3
    # first arrival won: url u1 (not u2/u4) carries payload `a`
    urls = {r["content_hash"]: r["url"] for r in final.collect()}
    import hashlib

    assert urls[hashlib.md5(a).hexdigest()] == "u1"


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Stream-stream time-range join (watermark-bounded state on both
    sides): streaming output equals the identical join on static frames."""
    import shutil

    from engine.streaming import _attribution_join, attribution_stream

    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(events_dir)

    # the file-stream source lists FILES (no recursion): copy the single-file
    # events parquet in flat
    shutil.copy("/root/testdata/sf0.001/events.parquet", f"{events_dir}/b0.parquet")
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = attribution_stream(
        spark, events_dir, out_dir, cp_dir, src.schema, horizon="4 hours"
    )
    q.awaitTermination()

    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    want = sorted(
        tuple(r)
        for r in _attribution_join(src, src, "4 hours", streaming=False).collect()
    )
    assert got == want
    assert len(got) >= 10  # the horizon actually captures conversions


def test_stream_stream_left_outer_emits_nulls_on_eviction(spark, tmp_path):
    """r6: the LEFT OUTER stream-stream join — a click with no purchase
    in the horizon emits with NULL purchase columns, but only once the
    combined watermark PROVES no match can still arrive (state
    eviction); a click whose horizon is still open stays pending. This
    deferred-null semantics is exactly what separates the streaming
    outer join from a static left join."""
    import datetime as dt

    from engine.streaming import attribution_stream_outer

    events_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(events_dir)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    def write(rows, name):
        # the file-stream source lists FILES flat (no recursion): stage the
        # parquet dir aside and copy its single part file in as {name}.parquet
        import glob
        import shutil

        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(
            [(i, t0 + dt.timedelta(minutes=m), u, k, 0.0, "{}")
             for i, m, u, k in rows],
            schema,
        ).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.copy(part, f"{events_dir}/{name}.parquet")

    # batch 0: u1 converts in-horizon; u2 never; u3 converts OUTSIDE 30m
    write([(1, 0, 1, "click"), (2, 10, 1, "purchase"),
           (3, 0, 2, "click"),
           (4, 0, 3, "click"), (5, 60, 3, "purchase")], "b0")
    src_schema = spark.read.parquet(f"{events_dir}/b0.parquet").schema
    q = attribution_stream_outer(
        spark, events_dir, out_dir, cp_dir, src_schema, horizon="30 minutes"
    )
    q.awaitTermination()
    got0 = {r["click_id"]: r["purchase_id"]
            for r in spark.read.parquet(out_dir).collect()}
    assert got0.get(1) == 2          # in-horizon match emits immediately
    assert 3 not in got0 and 4 not in got0  # horizons still open: pending

    # far-future events push BOTH sides' watermarks past 00:30 + 30m (the
    # combined watermark is the min of the sides, and each side's update
    # lands at the END of the batch that saw the event) — then one more
    # batch performs the eviction. Three pusher passes make the sequence
    # deterministic: b1 advances the click side, b2 the purchase side,
    # b3 runs a batch WITH the advanced combined watermark.
    for name, rows2 in (
        ("b1", [(9, 360, 9, "click")]),
        ("b2", [(10, 370, 9, "purchase")]),
        ("b3", [(11, 380, 11, "click"), (12, 381, 11, "purchase")]),
    ):
        write(rows2, name)
        attribution_stream_outer(
            spark, events_dir, out_dir, cp_dir, src_schema,
            horizon="30 minutes",
        ).awaitTermination()

    rows = {r["click_id"]: r for r in spark.read.parquet(out_dir).collect()}
    assert rows[1]["purchase_id"] == 2
    # unmatched + out-of-horizon clicks evicted with NULLs
    assert rows[3]["purchase_id"] is None and rows[3]["purchase_epoch"] is None
    assert rows[4]["purchase_id"] is None
    # the pusher click u9: its purchase (t+10m) matched — and no
    # duplicate null row exists for a matched click
    assert rows[9]["purchase_id"] == 10
    assert len([r for r in spark.read.parquet(out_dir).collect()
                if r["click_id"] == 1]) == 1


def test_neardedup_stream_matches_batch_pairs(spark, tmp_path):
    """VERDICT r2 #5: two-batch incremental MinHash-LSH emits exactly the
    pairs the batch minhash_lsh_pairs query finds on the union corpus —
    each pair exactly once, in the batch where its later member arrives."""
    import shutil

    import __spark_entry__ as em
    from engine.streaming import neardedup_stream

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    docs_dir = str(tmp_path / "docs")
    sig_dir = str(tmp_path / "sigs")
    pairs_dir = str(tmp_path / "pairs")
    cp_dir = str(tmp_path / "cp")

    # batch 1: even doc_ids land first
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(
        docs_dir, mode="overwrite"
    )
    neardedup_stream(spark, docs_dir, sig_dir, pairs_dir, cp_dir)
    first = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()
    }

    # batch 2: odd doc_ids arrive later (new parquet file in the same dir)
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(
        str(tmp_path / "b2"), mode="overwrite"
    )
    for f in __import__("os").listdir(str(tmp_path / "b2")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "b2" / f), f"{docs_dir}/batch2_{f}")
    neardedup_stream(spark, docs_dir, sig_dir, pairs_dir, cp_dir)

    got = [
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()
    ]
    assert len(got) == len(set(got)), "a pair was emitted twice"
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in em.queries()["minhash_lsh_pairs"](spark, sf).collect()
    }
    assert set(got) == expected
    # batch-1 pairs were even-even only; the union filled in the rest
    assert first <= expected and all(a % 2 == 0 and b % 2 == 0 for a, b in first)


def test_neardedup_stream_applies_bucket_cap(spark, tmp_path):
    """ADVICE r3 #1: the incremental path applies the SAME LSH bucket cap as
    the batch query. 60 clones (one degenerate bucket, > LSH_BUCKET_CAP)
    arrive in batch 1 and near-dup docs split across the two batches: the
    clone bucket must emit ZERO pairs in either batch (it is over the cap
    from first appearance, so stream == batch here), while the cross-batch
    near-dup pair is still found."""
    import os
    import shutil

    import __spark_entry__ as em
    from engine.streaming import neardedup_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = [(i, base) for i in range(60)] + [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    ]
    b2 = [
        (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
        (200, "completely different text with nothing shared at all here now"),
    ]
    docs_dir = str(tmp_path / "docs")
    sig_dir = str(tmp_path / "sigs")
    pairs_dir = str(tmp_path / "pairs")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(docs_dir)

    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    neardedup_stream(spark, docs_dir, sig_dir, pairs_dir, cp_dir)
    first = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert first == set(), f"clone bucket leaked pairs past the cap: {sorted(first)[:5]}"

    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "b2"), mode="overwrite"
    )
    for f in os.listdir(str(tmp_path / "b2")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "b2" / f), f"{docs_dir}/batch2_{f}")
    neardedup_stream(spark, docs_dir, sig_dir, pairs_dir, cp_dir)

    got = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()
    }
    # batch query on the union corpus: cap drops the clone bucket there too
    all_docs = str(tmp_path / "union")
    spark.createDataFrame(b1 + b2, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{all_docs}/documents.parquet", mode="overwrite")
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in em.queries()["minhash_lsh_pairs"](spark, all_docs).collect()
    }
    assert got == expected
    assert (100, 101) in got, "cross-batch near-dup pair lost"


def test_neardedup_stream_midstream_cap_crossing_is_superset(spark, tmp_path):
    """ADVICE r4: when a bucket crosses LSH_BUCKET_CAP MID-stream, pairs
    emitted while it was small persist (append-only sinks cannot retract),
    so streaming output is a strict SUPERSET of the batch query on the
    union corpus — and the extras are exactly the pre-crossing era's pairs.
    30 clones arrive in batch 1 (under the 50 cap → their pairs emit), 30
    more in batch 2 (cumulative 60 > cap → bucket dropped, no new pairs)."""
    import os
    import shutil

    import __spark_entry__ as em
    from engine.streaming import neardedup_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = [(i, base) for i in range(30)]
    b2 = [(i, base) for i in range(30, 60)]
    docs_dir = str(tmp_path / "docs")
    sig_dir = str(tmp_path / "sigs")
    pairs_dir = str(tmp_path / "pairs")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(docs_dir)

    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    neardedup_stream(spark, docs_dir, sig_dir, pairs_dir, cp_dir)
    first = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()
    }
    assert first == {(a, b) for a in range(30) for b in range(30) if a < b}

    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "b2"), mode="overwrite"
    )
    for f in os.listdir(str(tmp_path / "b2")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "b2" / f), f"{docs_dir}/batch2_{f}")
    neardedup_stream(spark, docs_dir, sig_dir, pairs_dir, cp_dir)
    got = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(pairs_dir).collect()
    }

    union_dir = str(tmp_path / "union")
    spark.createDataFrame(b1 + b2, "doc_id long, text string").coalesce(
        1
    ).write.parquet(f"{union_dir}/documents.parquet", mode="overwrite")
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in em.queries()["minhash_lsh_pairs"](spark, union_dir).collect()
    }
    assert batch_pairs == set()  # the batch query drops the oversized bucket
    # the documented monotonicity caveat, pinned: strict superset, and the
    # extras are exactly the pairs emitted before the bucket crossed the cap
    assert got > batch_pairs and got == first


def test_incremental_extract_warc_matches_batch(spark, pages_unit_path, tmp_path):
    """r4: streaming ingest straight off .warc.gz archives — two
    AvailableNow passes (second processes only the newly landed archive)
    produce exactly the batch WARC path's extraction rows."""
    from engine import sources
    from engine.pipeline import run_fused
    from engine.streaming import incremental_extract_warc

    rows = [
        (r["url"], r["warc_ts"], bytes(r["html"]), r["lang"])
        for r in spark.read.parquet(pages_unit_path).collect()
    ]
    wd = str(tmp_path / "warc")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    sources.write_pages_warc(rows[:40], wd, records_per_file=20)
    incremental_extract_warc(spark, wd, out, cp)
    n1 = spark.read.parquet(out).count()
    assert n1 == 40

    # second archive lands; only it is processed
    sources.write_pages_warc(rows[40:], str(tmp_path / "b2"))
    import os
    import shutil

    for f in os.listdir(str(tmp_path / "b2")):
        shutil.copy(str(tmp_path / "b2" / f), f"{wd}/late-{f}")
    query = incremental_extract_warc(spark, wd, out, cp)
    assert _extract_carriers(query) == ["MapInArrow"]

    got = _extracted_rows(spark.read.parquet(out).collect())
    want = _extracted_rows(run_fused(spark.read.parquet(pages_unit_path)).collect())
    assert got == want and len(got) == 64


def test_incremental_wet_ingest_matches_batch(spark, tmp_path):
    """r5: two-batch incremental WET ingest equals the batch reader on the
    union corpus — each archive parsed exactly once (checkpointed source),
    second pass picks up only the new archive."""
    import os

    from datetime import datetime

    from engine import sources
    from engine.streaming import incremental_ingest_wet

    wet_dir = str(tmp_path / "wet")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    rows1 = [
        (f"https://w{i}.example/p", datetime(2026, 4, 1, 0, 0, i),
         f"first batch text {i}", "en")
        for i in range(5)
    ]
    rows2 = [
        (f"https://w{i}.example/p", datetime(2026, 4, 2, 0, 0, i),
         f"second batch text {i}", "de")
        for i in range(5, 9)
    ]
    sources.write_pages_wet(rows1, wet_dir)
    incremental_ingest_wet(spark, wet_dir, out_dir, cp_dir)
    first = {r["url"] for r in spark.read.parquet(out_dir).collect()}
    assert first == {u for u, *_ in rows1}

    # second archive arrives (distinct name)
    blob = b"".join(
        __import__("gzip").compress(sources.encode_wet_record(u, ts, t, lg))
        for u, ts, t, lg in rows2
    )
    with open(os.path.join(wet_dir, "part-late.warc.wet.gz"), "wb") as f:
        f.write(blob)
    incremental_ingest_wet(spark, wet_dir, out_dir, cp_dir)

    got = {
        (r["url"], r["warc_ts"], r["text"], r["lang"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r["url"], r["warc_ts"], r["text"], r["lang"])
        for r in sources.read_pages_wet(spark, wet_dir).collect()
    }
    assert got == batch == set(rows1) | set(rows2)


def test_incremental_wat_ingest_matches_batch(spark, tmp_path):
    """r6: two-batch incremental WAT ingest equals the batch reader on the
    union corpus — each archive parsed exactly once (checkpointed source),
    second pass picks up only the new archive."""
    import gzip
    import os
    from datetime import datetime

    from engine import sources
    from engine.streaming import incremental_ingest_wat

    wat_dir = str(tmp_path / "wat")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    rows1 = [
        (f"https://m{i}.example/p", datetime(2026, 4, 1, 0, 0, i),
         b'<html><a href="/x%d">x</a></html>' % i)
        for i in range(5)
    ]
    rows2 = [
        (f"https://m{i}.example/p", datetime(2026, 4, 2, 0, 0, i),
         b"<html><title>late</title></html>")
        for i in range(5, 9)
    ]
    sources.write_pages_wat(rows1, wat_dir)
    incremental_ingest_wat(spark, wat_dir, out_dir, cp_dir)
    assert {r["url"] for r in spark.read.parquet(out_dir).collect()} == {
        u for u, *_ in rows1
    }

    blob = b"".join(
        gzip.compress(
            sources.encode_wat_record(
                u, ts, sources.build_wat_payload(u, ts, h)
            )
        )
        for u, ts, h in rows2
    )
    with open(os.path.join(wat_dir, "part-late.warc.wat.gz"), "wb") as f:
        f.write(blob)
    incremental_ingest_wat(spark, wat_dir, out_dir, cp_dir)

    got = {
        (r["url"], r["warc_ts"], r["payload"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r["url"], r["warc_ts"], r["payload"])
        for r in sources.read_pages_wat(spark, wat_dir).collect()
    }
    assert got == batch and len(got) == 9


def test_incremental_host_edges_folds_to_batch_graph(spark, tmp_path):
    """r7: the streaming link-graph twin — per-micro-batch edge DELTAS
    appended by incremental_host_edges, folded by watgraph.fold_edge_deltas,
    must equal the one-shot batch host_edges over all archives ever
    ingested (edge weights are additive counts), and domain_rank over the
    folded table equals the batch rank."""
    import gzip
    import os
    from datetime import datetime

    from engine import sources, watgraph
    from engine.session import release_local_checkpoint
    from engine.streaming import incremental_host_edges

    wat_dir = str(tmp_path / "wat")
    out_dir = str(tmp_path / "edges")
    cp_dir = str(tmp_path / "cp")
    ts = datetime(2026, 5, 1)
    rows1 = [
        ("https://a.example/1", ts,
         b'<html><a href="https://b.example/x">b</a>'
         b'<a href="https://b.example/y">b</a></html>'),
        ("https://b.example/2", ts,
         b'<html><a href="https://c.example/z">c</a></html>'),
    ]
    rows2 = [
        ("https://a.example/3", ts,
         b'<html><a href="https://b.example/w">b again</a></html>'),
        ("https://c.example/4", ts,
         b'<html><a href="https://a.example/back">a</a></html>'),
    ]
    sources.write_pages_wat(rows1, wat_dir)
    incremental_host_edges(spark, wat_dir, out_dir, cp_dir)
    blob = b"".join(
        gzip.compress(
            sources.encode_wat_record(
                u, t, sources.build_wat_payload(u, t, h)
            )
        )
        for u, t, h in rows2
    )
    with open(os.path.join(wat_dir, "part-late.warc.wat.gz"), "wb") as f:
        f.write(blob)
    incremental_host_edges(spark, wat_dir, out_dir, cp_dir)

    folded = watgraph.fold_edge_deltas(spark.read.parquet(out_dir))
    got = sorted(map(tuple, folded.collect()))
    batch = watgraph.host_edges(sources.read_pages_wat(spark, wat_dir))
    assert got == sorted(map(tuple, batch.collect()))
    # a.example -> b.example accumulated ACROSS batches: 2 + 1
    assert ("a.example", "b.example", 3.0) in got

    r_inc, ids1 = watgraph.domain_rank(folded, k=3)
    r_bat, ids2 = watgraph.domain_rank(batch, k=3)
    assert sorted(map(tuple, r_inc.collect())) == sorted(
        map(tuple, r_bat.collect())
    )
    release_local_checkpoint(spark, ids1 + ids2)
