"""The extraction DataFrame DAG — fused and staged modes, one
implementation per stage.

Fused mode (the default, throughput path) runs detect+recognize+reassembly
in ONE mapInArrow pass (no shuffle at all — blocks of a document never leave
its row), the distributed form of ``_process_one_page``
(``bilingual_ocr.py:126-211``)::

    read pages → [salted repartition] → mapInArrow(make_extract_fused_arrow)

Staged mode is the SURVEY.md §3.1 plan shape, the distributed recast of the
reference's detect→recognize lifecycle, kept for block-level inspection and
metrics::

    read pages → [salted repartition] → mapInPandas(make_detect_blocks)
      → filter(KEEP_PREDICATE)                 # Catalyst-side conf mask (O3)
      → mapInPandas(recognize_blocks)          # normalize, empty-region drop
                                               # (O8), reading-order A4

Both modes call the same ``extraction.core`` functions — fused through
``extract_document``, staged through its two halves ``detect_document``
(stage 1) and ``recognize`` (stage 2) — and are pinned byte-identical to
the goldens (tests/test_golden_e2e.py); neither plan has an Exchange unless
a salted repartition is asked for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from engine.salt import salted_repartition
from engine.stages import (
    BLOCKS_SCHEMA,
    EXTRACTED_CORE_SCHEMA,
    EXTRACTED_COVERAGE_SCHEMA,
    KEEP_PREDICATE,
    KEEP_PREDICATE_FALLBACK,
    RECOGNIZE_INPUT_COLS,
    make_detect_blocks,
    make_extract_fused_arrow,
    recognize_blocks,
)


def _prepare(pages: DataFrame, num_parts: int | None, *extra: Column) -> DataFrame:
    """Column-prune (F7) and optionally salt-repartition the pages scan.

    ``num_parts=None`` (default) keeps the scan's own partitioning — ZERO
    shuffle, the correct plan at 100 TB scale (raw html never crosses the
    wire; skew is handled by input-split sizing + giant-block chunking inside
    the segmenter). Passing ``num_parts`` applies the explicit url-salted
    repartition (engine/salt.py) — useful when upstream partitioning is
    pathological (one huge file, hot key ranges) at the cost of shuffling
    the raw bytes once. Both produce byte-identical output (invariance tests).
    ``extra`` columns are selected after the four page columns.
    """
    df = pages.select("url", "warc_ts", "html", "lang", *extra)
    if num_parts is not None:
        df = salted_repartition(df, num_parts)
    return df


def detect(
    pages: DataFrame,
    num_parts: int | None = None,
    emit_filtered_text: bool = True,
    fallback: bool = False,
) -> DataFrame:
    """Stage 1 as a standalone DataFrame (the `blocks` intermediate table).

    ``emit_filtered_text=False`` applies the in-UDF threshold pushdown
    (SURVEY §4 O3): boilerplate block text never crosses the Arrow channel —
    the staged pipeline uses this since only surviving blocks reach stage 2.
    ``fallback=True`` marks the O5 relaxed-pass winner ``forced`` on docs
    where no block passes the keep rule.
    """
    fn = make_detect_blocks(emit_filtered_text, fallback)
    return _prepare(pages, num_parts).mapInPandas(fn, schema=BLOCKS_SCHEMA)


def run_staged(
    pages: DataFrame,
    num_parts: int | None = None,
    fallback: bool = False,
) -> DataFrame:
    """Staged detect→recognize, shuffle-free end to end.

    Documents are contiguous runs ending in their sentinel within each
    partition, so recognize and reassembly are a second partition-local
    mapInPandas stage over the surviving rows' :data:`RECOGNIZE_INPUT_COLS`
    (zero Exchange in the whole staged plan; the extracted corpus text never
    crosses the wire). This is the plan that survives 100× scale: the r1
    window variant shuffled every surviving block's text on url (70.5 s vs
    fused 1.8 s at sf0.1).
    """
    blocks = detect(pages, num_parts, emit_filtered_text=False, fallback=fallback)
    pred = KEEP_PREDICATE_FALLBACK if fallback else KEEP_PREDICATE
    surviving = blocks.filter(F.expr(pred)).select(*RECOGNIZE_INPUT_COLS)
    return surviving.mapInPandas(recognize_blocks, schema=EXTRACTED_CORE_SCHEMA)


def run_fused(
    pages: DataFrame,
    num_parts: int | None = None,
    fallback: bool = False,
) -> DataFrame:
    """Fused extraction: the mapInArrow stage — no pandas materialization of
    the big binary batches."""
    return _prepare(pages, num_parts).mapInArrow(
        make_extract_fused_arrow(fallback), schema=EXTRACTED_CORE_SCHEMA
    )


def run_fused_coverage(pages: DataFrame, num_parts: int | None = None) -> DataFrame:
    """Fused extraction with the IN-ROW coverage differential (VERDICT r2
    #4): ``n_crawl = length(text)`` is computed Catalyst-side at the scan and
    rides through the Arrow stage as one integer per document, so the
    crawl-text cross-check needs NO corpus-wide url join — the plan is
    scan → project → MapInArrow, zero Exchange, and the crawl text column
    itself never enters the Python worker. ``n_crawl`` is a passthrough
    column of the same fused stage :func:`run_fused` runs."""
    n_crawl = F.length("text").cast("int").alias("n_crawl")
    return _prepare(pages, num_parts, n_crawl).mapInArrow(
        make_extract_fused_arrow(), schema=EXTRACTED_COVERAGE_SCHEMA
    )


def run_extract(
    pages: DataFrame,
    mode: str = "fused",
    num_parts: int | None = None,
    run_id: str = "run0",
    fallback: bool = False,
) -> DataFrame:
    """Full pipeline -> extracted table incl. part_id + lineage columns.

    ``fallback=True`` turns on the O5 empty-result retry ladder in every
    mode: docs where no block passes the keep rule keep their best-scoring
    block and surface as ``status='fallback'`` instead of ``'empty'``.
    """
    if mode == "fused":
        core = run_fused(pages, num_parts, fallback)
    elif mode == "staged":
        core = run_staged(pages, num_parts, fallback=fallback)
    else:
        raise ValueError(f"unknown mode {mode!r}: expected 'fused' or 'staged'")
    return core.withColumn("part_id", F.spark_partition_id()).withColumn(
        "lineage", F.lit(run_id)
    )
