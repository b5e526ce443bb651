"""Structured Streaming layer — incremental extraction.

The reference is strictly batch (SURVEY.md §2.9); the engine's incremental
behavior is resume-by-anti-join (J3/J4). This module provides the same
semantics as a Structured Streaming job: ``readStream`` over the pages
directory → the SAME fused extraction stage → parquet sink with checkpoint,
under ``Trigger.AvailableNow`` — each invocation processes exactly the files
that arrived since the last checkpoint and terminates. Byte-identity is
unchanged because both streaming extract paths call ``pipeline.run_extract``,
the batch path's own mapInArrow stage plus part_id/lineage columns.

Also included: a watermarked event-time tumbling-window aggregation over an
events stream (late data dropped past the watermark) — the streaming form of
the batch ``window_rollup`` query in ``__spark_entry__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from engine import pipeline

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "stream0",
):
    """Process all not-yet-seen page files, then stop (Trigger.AvailableNow).

    Returns the finished StreamingQuery. Re-invoking after new files land in
    ``pages_dir`` processes only the new files (checkpointed source log) —
    the streaming twin of ``tableio.remaining`` + ``merge_by_url``.
    """
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    extracted = pipeline.run_extract(pages, run_id=run_id)
    query = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling window counts with a watermark (late-data bound).

    Works on both a static events DataFrame and a streaming one; with a
    stream, rows later than ``watermark`` past the max seen event time are
    dropped and finalized windows are emitted in append mode.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("hour_epoch"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


def sessionize_stateful(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    events_schema: T.StructType,
    gap_seconds: int = 1800,
):
    """Custom stateful streaming operator: per-user gap sessionization via
    ``applyInPandasWithState`` (the engine's example of a stateful op Spark
    lacks as a built-in). State per user_id = (last_ts_epoch, n_events,
    n_sessions); a new session starts when the gap exceeds ``gap_seconds``.
    Under Trigger.AvailableNow each invocation emits the running totals per
    user seen in that pass; state persists in the checkpoint across
    invocations, so late-arriving files continue existing sessions."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_epoch", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        last_epoch, n_events, n_sessions = (
            state.get if state.exists else (None, 0, 0)
        )
        stamps: list[float] = []
        for pdf in pdfs:
            stamps.extend(ts.timestamp() for ts in pdf["ts"])
        stamps.sort()
        for ts in stamps:
            if last_epoch is None or ts - last_epoch > gap_seconds:
                n_sessions += 1
            n_events += 1
            last_epoch = ts
        state.update((last_epoch, n_events, n_sessions))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n_events], "n_sessions": [n_sessions]}
        )

    stream = spark.readStream.schema(events_schema).parquet(events_dir)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    query = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def dedup_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
):
    """Streaming ingest dedup: exact content dedup at arrival time.

    ``md5(html)`` keys the duplicates; ``dropDuplicatesWithinWatermark``
    keeps the FIRST arrival and drops re-arrivals within the watermark
    horizon — past it the key's state is evicted, so state stays bounded at
    continuous 100 TB ingest (a plain streaming ``dropDuplicates`` grows
    state forever). The batch ``dedup_exact`` query is the corpus-wide twin;
    this is the arrival-time form a crawl ingest actually runs. State
    persists in the checkpoint across AvailableNow invocations, so a
    duplicate landing in a later batch (within the horizon) is still
    dropped."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    deduped = (
        pages.withColumn("content_hash", F.md5(F.col("html")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    query = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def neardedup_stream(
    spark: SparkSession,
    docs_dir: str,
    sig_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
):
    """Incremental NEAR-dedup (VERDICT r2 #5): MinHash-LSH over arriving
    batches, not just exact-hash dedup.

    Each AvailableNow pass computes the new batch's MinHash signatures
    (``engine/minhash`` — the same shuffle-free construction the batch
    ``minhash_lsh_pairs`` query uses), joins the new banded keys against the
    PERSISTENT signature table ∪ the batch itself, emits the new candidate
    pairs, and appends the new signatures to the table. Every pair involves
    at least one new document, so each pair is emitted exactly once — in the
    batch where its LATER member arrives.

    Bucket cap (ADVICE r3 #1): oversized (band, key) buckets — more than
    ``minhash.LSH_BUCKET_CAP`` members over the CUMULATIVE corpus (signature
    table ∪ batch) — are dropped before the pair join, the same cap the
    batch ``minhash_lsh_pairs`` query applies, so one degenerate bucket
    cannot emit O(B²) pairs per batch. Equivalence with the batch query on
    the union corpus (pytest-pinned, incl. a 60-clone degenerate bucket)
    holds whenever each oversized bucket is already over the cap when its
    pairs would first be emitted; if a bucket crosses the cap MID-stream,
    pairs emitted while it was small stay emitted — an append-only sink
    cannot retract, so streaming may keep a few early pairs the batch query
    would drop. That monotonicity caveat is inherent to incremental dedup,
    not a bug: downstream keep-set logic treats extra candidate pairs as
    harmless (they only merge clusters earlier).

    Scale shape: the banded join co-locates on (band, key); only tiny
    (doc_id, band, key) rows move. The signature table grows one row per
    document — at 100 TB that table is itself mergeable via tableio.
    Idempotence caveat: foreachBatch + append parquet is at-least-once on
    task retry; a production deployment MERGEs into the signature table
    keyed on doc_id (tableio.merge_sql) instead of blind append."""
    import os

    from engine import minhash

    docs = spark.readStream.schema("doc_id long, text string").parquet(docs_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        new_sigs = minhash.signatures(batch_df).persist()
        new_bands = minhash.bands(new_sigs)
        if os.path.exists(sig_dir):
            all_bands = minhash.bands(sess.read.parquet(sig_dir)).unionByName(
                new_bands
            )
        else:
            all_bands = new_bands
        # drop oversized buckets over the cumulative corpus — same cap, same
        # constant as the batch query; the aggregate shares the (band, key)
        # partitioning of the join, so no extra corpus scan or shuffle key
        oversized = (
            all_bands.groupBy("band", "key")
            .count()
            .where(F.col("count") > minhash.LSH_BUCKET_CAP)
            .drop("count")
        )
        all_bands = all_bands.join(oversized, ["band", "key"], "left_anti")
        new_bands = new_bands.join(oversized, ["band", "key"], "left_anti")
        pairs = (
            all_bands.alias("a")
            .join(
                new_bands.alias("b"),
                [
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.key") == F.col("b.key"),
                ],
            )
            .where("a.doc_id != b.doc_id")
            .selectExpr(
                "least(a.doc_id, b.doc_id) AS doc_a",
                "greatest(a.doc_id, b.doc_id) AS doc_b",
            )
            .distinct()
        )
        pairs.write.mode("append").parquet(pairs_dir)
        new_sigs.write.mode("append").parquet(sig_dir)
        new_sigs.unpersist()

    query = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def attribution_stream(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    events_schema: T.StructType,
    horizon: str = "30 minutes",
):
    """Stream-stream time-range join: each click joined to purchases by the
    same user within `horizon` AFTER the click (conversion attribution).

    The watermarks bound BOTH join states: a click can stop waiting for
    purchases once event time passes click.ts + horizon, and vice versa —
    so state stays finite under continuous ingest (an un-watermarked
    stream-stream join buffers forever). Batch semantics are identical to
    the same join on static frames (test asserts equality)."""
    ev = spark.readStream.schema(events_schema).parquet(events_dir)
    return _attribution_join(ev, ev, horizon, streaming=True).writeStream.format(
        "parquet"
    ).option("path", out_dir).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append").trigger(availableNow=True).start()


def attribution_stream_outer(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    events_schema: T.StructType,
    horizon: str = "30 minutes",
):
    """LEFT OUTER stream-stream join (r6): every click emits — matched
    within ``horizon`` like :func:`attribution_stream`, or with NULL
    purchase columns once the watermark PROVES no match can still arrive
    (click state evicted at combined watermark > c_ts + horizon). That
    deferred null emission is the semantic difference from a static left
    join: a click near the head of the stream stays pending until later
    data advances the watermark past its horizon — pinned in
    test_streaming across AvailableNow passes. The unmatched-click feed
    is the abandonment signal real attribution pipelines consume."""
    ev = spark.readStream.schema(events_schema).parquet(events_dir)
    return _attribution_join(
        ev, ev, horizon, streaming=True, how="left_outer"
    ).writeStream.format("parquet").option("path", out_dir).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append").trigger(availableNow=True).start()


def _attribution_join(
    clicks_src: DataFrame,
    purchases_src: DataFrame,
    horizon: str,
    streaming: bool,
    how: str = "inner",
) -> DataFrame:
    # watermarks require TIMESTAMP (tz-aware); the source parquet carries
    # naive timestamps — session tz is pinned UTC so the cast is exact
    clicks = clicks_src.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    )
    purchases = purchases_src.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    if streaming:
        clicks = clicks.withWatermark("c_ts", horizon)
        purchases = purchases.withWatermark("p_ts", horizon)
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval {horizon}"
        ),
        how,
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("c_ts").cast("bigint").alias("click_epoch"),
        F.unix_timestamp("p_ts").cast("bigint").alias("purchase_epoch"),
    )


def incremental_extract_warc(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    run_id: str = "warcstream0",
):
    """Incremental extraction straight off arriving ``.warc.gz`` archives
    (r4): the streaming twin of ``sources.read_pages_warc`` — binaryFile is
    a checkpointed streaming file source, so each AvailableNow pass parses
    and extracts only archives not yet seen. The parse stage's corrupt-
    member error rows carry no html and are dropped before extraction;
    the extraction output is byte-identical to the batch WARC path on the
    same archives (pytest-pinned)."""
    from engine.sources import WARC_PAGES_SCHEMA, warc_parse_batches

    files = (
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; binaryFile's
        # is fixed by the format
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .load(f"{warc_dir}/*.warc.gz")
        .select("path", "content")
    )

    pages = files.mapInPandas(warc_parse_batches, schema=WARC_PAGES_SCHEMA).where(
        "status = 'ok'"
    )
    extracted = pipeline.run_extract(pages, run_id=run_id)
    query = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_ingest_wet(
    spark: SparkSession,
    wet_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental WET ingest (r5): the streaming twin of
    ``sources.read_pages_wet`` — arriving ``.warc.wet.gz`` archives parse
    once per AvailableNow pass into the text-documents sink (already-
    extracted text needs no extraction stage; WET corpora feed the text
    analytics family directly). Corrupt members surface as error rows and
    are dropped before the sink, same as the WARC stream."""
    from engine.sources import WET_PAGES_SCHEMA, wet_parse_batches

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .load(f"{wet_dir}/*.wet.gz")
        .select("path", "content")
    )
    docs = files.mapInPandas(wet_parse_batches, schema=WET_PAGES_SCHEMA).where(
        "status = 'ok'"
    ).select("url", "warc_ts", "text", "lang")
    query = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_ingest_wat(
    spark: SparkSession,
    wat_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental WAT ingest (r6): the streaming twin of
    ``sources.read_pages_wat`` — arriving ``.warc.wat.gz`` archives parse
    once per AvailableNow pass into a (url, warc_ts, payload) metadata
    sink for link-graph analytics. Corrupt members surface as error rows
    and are dropped before the sink, same as the WARC/WET streams."""
    from engine.sources import WAT_PAGES_SCHEMA, wat_parse_batches

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .load(f"{wat_dir}/*.wat.gz")
        .select("path", "content")
    )
    meta = files.mapInPandas(wat_parse_batches, schema=WAT_PAGES_SCHEMA).where(
        "status = 'ok'"
    ).select("url", "warc_ts", "payload")
    query = (
        meta.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_host_edges(
    spark: SparkSession,
    wat_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental WAT link-graph ingest (r7): the streaming twin of
    ``watgraph.host_edges``. Each AvailableNow pass reduces ONLY the newly
    arrived ``.warc.wat.gz`` archives to host-edge DELTA counts and appends
    them to the sink (foreachBatch: a per-micro-batch partial-agg — edge
    weights are additive, so ``watgraph.fold_edge_deltas`` over the sink
    equals the batch ``host_edges`` over every archive ever ingested,
    pinned in tests/test_streaming). Feeding ``watgraph.domain_rank`` the
    folded table gives an always-current crawl rank without ever
    re-parsing old archives.

    Idempotence (ADVICE r7): foreachBatch is at-least-once, so each
    micro-batch writes to its own ``batch_id=<n>`` partition directory
    with overwrite — a replayed batch overwrites its own delta instead of
    double-appending into the sink (the fold ignores the extra partition
    column: weights stay exact under retries)."""
    from engine import watgraph
    from engine.sources import WAT_PAGES_SCHEMA, wat_parse_batches

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
        .load(f"{wat_dir}/*.wat.gz")
        .select("path", "content")
    )
    meta = files.mapInPandas(wat_parse_batches, schema=WAT_PAGES_SCHEMA)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        watgraph.host_edges(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={int(batch_id)}"
        )

    query = (
        meta.writeStream.foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
