"""The engine's vectorized Python stages (SURVEY.md §2.10) — the only places
Python touches row data, always through Arrow batch iterators, never per-row
Python UDFs (north rule). One implementation per stage:

Every per-document decision lives in ``extraction.core``; the stages only
carry rows between Arrow batches and those functions:

- :func:`make_detect_blocks` — staged stage 1 (mapInPandas), 1 page row → N
  candidate-block rows via ``detect_document`` + routing (ref
  detect_and_crop_text_with_boxes, ``text_detection_yolov8.py:229-288``).
  Emits a sentinel row (``block_id = -1``) per document so documents whose
  blocks are all filtered out still reach the output with
  ``status='empty'`` (ref "no regions detected" path,
  ``bilingual_ocr.py:167-181``).
- :func:`recognize_norm_udf` — staged stage 2, a scalar Arrow UDF:
  ``normalize_block`` per surviving block (ref recognize_urdu/
  recognize_english + post_process, ``urdu_recognition_utrnet.py:132-166``,
  ``english_ocr_pipeline.py:52-84``).
- :func:`assemble_blocks` — staged stage 3 (mapInPandas), partition-local
  reading-order reassembly via ``assemble``.
- :func:`make_extract_fused_arrow` — the fused per-document stage
  (mapInArrow) behind batch, coverage and streaming extraction:
  ``extract_document`` (both halves in one call) per row, zero shuffles —
  the distributed form of the reference's per-page orchestrator
  ``_process_one_page`` (``bilingual_ocr.py:126-211``). Byte-identical to
  the staged path by construction (asserted by tests/test_golden_e2e.py).

Heavy init (routing tables, keep-sets) is module-level in ``extraction`` and
imported once per worker process — the engine analog of the reference's
load-once model state (SURVEY.md §4 O1).

Every stage body calls :func:`pin_zip_importers` first. A reused PySpark
worker calls ``importlib.invalidate_caches()`` at the start of every task,
and on CPython 3.11-3.12 each cached ``zipimporter`` then re-reads its
archive's central directory: Spark's ``pyspark.zip`` (once per imported
sub-package), its ``spark-core`` jar and py4j, 0.2-0.5 s per task before
the stage sees a row. The pin, once per process, makes the importers
already cached keep their directory; archives added to ``sys.path`` later
(``addPyFile``) keep the normal re-read. A local session's worker usually
imports from no Spark archive at all (:mod:`engine.pydaemon` runs it on the
installed pyspark), and then the pin finds nothing to do; it serves every
worker whose daemon keeps Spark's zips: a version mismatch, no installed
pyspark, or a cluster executor.

Arrow batch sizing (``spark.sql.execution.arrow.maxRecordsPerBatch``,
runtime-settable): the *pages* stages move few, huge rows — 128-row batches
pipeline the JVM serializer with the Python worker (measured 3-4× faster
than 512). The *blocks* stages move millions of tiny rows — 4096-row batches
amortize the per-batch overhead (measured ~2× on staged mode). bench.py sets
the conf per measurement.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator

import pandas as pd

from extraction.core import assemble, detect_document, extract_document
from extraction.normalize import normalize_block
from extraction.routing import doc_route, route_block
from extraction.segment import MAX_BLOCK_CHARS, MIN_BLOCK_CHARS


class _PinnedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` over an archive that does not change while the
    process lives: ``invalidate_caches`` keeps the directory it has."""

    def invalidate_caches(self):
        pass


_ZIP_PINNED = False


def pin_zip_importers() -> None:
    """Once per process, replace every plain ``zipimporter`` in
    ``sys.path_importer_cache`` with a :class:`_PinnedZipImporter` over the
    same path. Building one is a stat: ``zipimport._zip_directory_cache``
    already holds the archive's directory. Importers cached after this
    call are left as they are."""
    global _ZIP_PINNED
    if _ZIP_PINNED:
        return
    _ZIP_PINNED = True
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                cache[path] = _PinnedZipImporter(path)
            except zipimport.ZipImportError:
                pass  # the archive is gone; its importer stays as it is


# Stage-1 output schema (SURVEY.md §1.3 `blocks` + doc-level carry columns).
BLOCKS_SCHEMA = (
    "url string, warc_ts timestamp, block_id int, tag string, text string, "
    "n_chars int, n_link_chars int, n_tags int, "
    "link_density double, tag_density double, score double, lang string, "
    "doc_n_blocks int, doc_status string, forced boolean"
)

# Final extracted schema (SURVEY.md §1.3 `extracted`, sans part_id/lineage
# which the pipeline appends uniformly).
EXTRACTED_CORE_SCHEMA = (
    "url string, warc_ts timestamp, extracted_text string, "
    "spans array<struct<block_id:int,start:int,end:int,lang:string>>, "
    "n_blocks int, n_kept int, status string"
)

# Column names of the two schemas, in order (no field has ", " in its type).
_BLOCKS_COLS = [f.split()[0] for f in BLOCKS_SCHEMA.split(", ")]
_EXTRACTED_CORE_COLS = [f.split()[0] for f in EXTRACTED_CORE_SCHEMA.split(", ")]

# The Catalyst-side keep predicate — integer-only, byte-for-byte the same
# decision as extraction.segment._keep (SURVEY.md §7.3 H1). Sentinel rows
# always pass. Applied as a real DataFrame filter between the stages so the
# threshold is visible to the optimizer (ref conf mask re-check, SURVEY §4 O3).
KEEP_PREDICATE = (
    "(block_id = -1) OR "
    f"(n_chars >= {MIN_BLOCK_CHARS} AND n_chars <= {MAX_BLOCK_CHARS} "
    "AND 3 * n_link_chars < n_chars)"
)

# With the O5 fallback ladder enabled, stage 1 marks the relaxed-pass winner
# `forced`; it must survive the Catalyst filter despite failing the keep rule.
KEEP_PREDICATE_FALLBACK = f"({KEEP_PREDICATE}) OR forced"


def make_detect_blocks(emit_filtered_text: bool = True, fallback: bool = False):
    """Build the stage-1 fn: ``detect_document`` and ``doc_route`` per
    page, ``route_block`` per block, as in ``extract_document``; one row
    per block, then the sentinel. A page that raises emits only its
    sentinel, with ``doc_status='error:<ExcName>'``.

    With ``emit_filtered_text=False`` the raw text of blocks failing the keep
    rule is not emitted (features still are) — the in-UDF pushdown of the
    threshold (ref conf kwarg to model.predict, SURVEY §4 O3): boilerplate
    bytes never cross the Arrow channel. The pipeline's Catalyst filter
    re-checks the predicate either way.

    ``fallback=True`` enables the O5 relaxed second pass: the relaxed-pass
    winner is emitted with ``forced=true`` (and its text, regardless of the
    pushdown) so downstream stages rescue it."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pin_zip_importers()
        for pdf in batches:
            rows: list[tuple] = []
            for url, ts, html, lang in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
            ):
                try:
                    blocks, forced_id = detect_document(html, fallback)
                    droute = doc_route(lang)
                    doc = [
                        (url, ts, b.block_id, b.tag,
                         b.text if (b.kept or b.block_id == forced_id or emit_filtered_text) else "",
                         b.n_chars, b.n_link_chars, b.n_tags, b.link_density,
                         b.tag_density, b.score, route_block(b.text, droute),
                         len(blocks), None, b.block_id == forced_id)
                        for b in blocks
                    ]
                    n_blocks, status = len(blocks), None
                except Exception as exc:  # noqa: BLE001 — error rows, not exceptions
                    doc, n_blocks, status = [], 0, f"error:{type(exc).__name__}"
                rows += doc
                rows.append((url, ts, -1, "", "", 0, 0, 0, 0.0, 0.0, 0.0, "",
                             n_blocks, status, False))
            yield pd.DataFrame.from_records(rows, columns=_BLOCKS_COLS)

    return fn


def _recognize_series(text: pd.Series, lang: pd.Series) -> pd.Series:
    """Series->Series body of the Arrow-batched recognize stage (r8): the
    per-block normalize is a function of (text, lang) ALONE — sentinel rows
    carry text '' and normalize('') == '' — so the staged pipeline ships
    ONLY those two columns to Python and the six carry columns
    (url/warc_ts/ids/flags) stay in the JVM. The text is block text (or ''
    on sentinel and filtered rows), so the fused stage's ``normalize_block``
    applies per row; measured ~2x on the recognize stage of the 20k-doc
    bench corpus (1.1M surviving blocks), byte-identity pinned by the
    staged == fused golden tests."""
    pin_zip_importers()
    return pd.Series(
        [normalize_block(t, l) for t, l in zip(text, lang)], dtype="object"
    )


def recognize_norm_udf():
    """The scalar Arrow (pandas) UDF wrapping :func:`_recognize_series`.
    Built lazily so importing this module never requires a live session.
    asNondeterministic: the downstream non-empty filter references the UDF
    column, and the optimizer otherwise duplicates the evaluation below
    the pushed filter — every surviving block paid recognize TWICE
    (optimization-guide §4.4; plan-pinned to ONE ArrowEvalPython in
    test_golden_e2e). The function is pure, so results are unaffected."""
    from pyspark.sql import functions as F

    return F.pandas_udf(_recognize_series, returnType="string").asNondeterministic()


def assemble_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 3: partition-local reading-order reassembly.

    Stage 1 emits each document's blocks consecutively in block_id order and
    terminates the run with its sentinel row (``block_id = -1``); the
    Catalyst filters and the recognize stage are narrow, order-preserving
    transformations, so within a partition every document is still a
    contiguous, ordered run ending in its sentinel, and every block row
    left has non-empty ``norm_text``. Reassembly therefore needs NO shuffle
    and no sort: accumulate rows, and on the sentinel hand the run to
    :func:`extraction.core.assemble` (state carries across Arrow batch
    boundaries). A stage-1 ``error:`` status passes through unchanged.

    Duplicate (url, warc_ts) page rows each produce their own output row —
    identical to fused mode, unlike a groupBy-based reassembly which would
    merge them (ADVICE r1).
    """
    pin_zip_importers()
    parts: list[tuple[int, str, str]] = []  # (block_id, route, norm_text)
    forced = False  # this doc's surviving parts came from the O5 ladder
    for pdf in batches:
        rows: list[tuple] = []
        for url, ts, block_id, lang, norm, doc_nb, doc_status, is_forced in zip(
            pdf["url"], pdf["warc_ts"], pdf["block_id"], pdf["lang"],
            pdf["norm_text"], pdf["doc_n_blocks"], pdf["doc_status"],
            pdf["forced"],
        ):
            if block_id >= 0:
                parts.append((int(block_id), lang, norm))
                forced = forced or bool(is_forced)
                continue
            text, spans, status = assemble(parts, forced)
            rows.append((url, ts, text, spans, int(doc_nb), len(parts),
                         doc_status or status))
            parts, forced = [], False
        if rows:
            yield pd.DataFrame.from_records(rows, columns=_EXTRACTED_CORE_COLS)


# --- fused stage (mapInArrow) ----------------------------------------------
# The batch never round-trips through pandas: the url/warc_ts columns pass
# through as raw Arrow arrays and outputs are built as Arrow arrays directly.
# On the big-binary pages workload pandas materialization is a measurable
# share of wall time (a passthrough mapInPandas costs ~3-4 s of an ~8 s
# local[8] extraction; the mapInArrow passthrough ~1.5-3.5 s).

# The input columns the fused stage reads; any other input column (e.g. the
# coverage query's n_crawl) rides through unchanged after the core columns.
FUSED_INPUT_COLS = ("url", "warc_ts", "html", "lang")

EXTRACTED_COVERAGE_SCHEMA = EXTRACTED_CORE_SCHEMA + ", n_crawl int"


def make_extract_fused_arrow(fallback: bool = False):
    """Build the fused stage fn; ``fallback=True`` enables the O5 ladder.
    Output: the :data:`EXTRACTED_CORE_SCHEMA` columns, then every input
    column not in :data:`FUSED_INPUT_COLS`, unchanged and in input order."""
    import pyarrow as pa

    spans_type = pa.list_(
        pa.struct(
            [
                ("block_id", pa.int32()),
                ("start", pa.int32()),
                ("end", pa.int32()),
                ("lang", pa.string()),
            ]
        )
    )

    def fn(batches):
        pin_zip_importers()
        for b in batches:
            idx = {name: i for i, name in enumerate(b.schema.names)}
            rs = [
                extract_document(url, html, lang, fallback)
                for url, html, lang in zip(
                    b.column(idx["url"]).to_pylist(),
                    b.column(idx["html"]).to_pylist(),
                    b.column(idx["lang"]).to_pylist(),
                )
            ]
            extra = [n for n in b.schema.names if n not in FUSED_INPUT_COLS]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(idx["url"]),
                    b.column(idx["warc_ts"]),
                    pa.array([r.extracted_text for r in rs], pa.string()),
                    pa.array([r.spans for r in rs], spans_type),
                    pa.array([r.n_blocks for r in rs], pa.int32()),
                    pa.array([r.n_kept for r in rs], pa.int32()),
                    pa.array([r.status for r in rs], pa.string()),
                    *(b.column(idx[n]) for n in extra),
                ],
                names=[*_EXTRACTED_CORE_COLS, *extra],
            )

    return fn
