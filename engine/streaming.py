"""Structured Streaming layer — incremental extraction and link-graph deltas.

The reference is strictly batch (SURVEY.md §2.9); the engine's incremental
behavior is resume-by-anti-join (J3/J4). This module provides the same
semantics as a Structured Streaming job: ``readStream`` over the pages
directory → the SAME fused extraction stage → parquet sink with checkpoint,
under ``Trigger.AvailableNow`` — each invocation processes exactly the files
that arrived since the last checkpoint and terminates. Byte-identity is
unchanged because the streaming extract calls ``pipeline.run_extract``, the
batch path's own mapInArrow stage plus part_id/lineage columns.

Also included: the incremental WAT host-edge sink, whose per-micro-batch
deltas fold to the batch ``watgraph.host_edges`` graph. Every other batch
operator's streaming form (windowed counts, sessionization, dedup,
attribution, WARC/WET/WAT ingest) is served by its batch query or reader.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, types as T

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
    column: weights stay exact under retries).

    A sink holding root-level parquet files is the pre-r8 flat layout;
    mixing it with ``batch_id=<n>`` directories breaks partition inference,
    so it is refused with a ValueError before the query starts."""
    from engine import watgraph
    from engine.sources import WAT_PAGES_SCHEMA, wat_parse_batches

    if glob.glob(os.path.join(glob.escape(out_dir), "*.parquet")):
        raise ValueError(
            f"{out_dir} holds root-level parquet files: a flat host-edge "
            "sink from before the batch_id=<n> layout. Rebuild it: delete "
            "the sink and its checkpoint dir, then re-run "
            "incremental_host_edges over the WAT archives."
        )

    files = (
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; binaryFile's
        # is fixed by the format
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
