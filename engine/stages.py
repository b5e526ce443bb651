"""The engine's vectorized Python stages (SURVEY.md §2.10) — the only places
Python touches row data, always through Arrow batch iterators, never per-row
Python UDFs (north rule). One implementation per stage:

- :func:`make_detect_blocks` — staged stage 1 (mapInPandas), 1 page row → N
  candidate-block rows (ref detect_and_crop_text_with_boxes,
  ``text_detection_yolov8.py:229-288``). Emits a sentinel row
  (``block_id = -1``) per document so documents whose blocks are all
  filtered out still reach the output with ``status='empty'`` (ref "no
  regions detected" path, ``bilingual_ocr.py:167-181``).
- :func:`recognize_norm_udf` — staged stage 2, a scalar Arrow UDF: normalized
  text per surviving block (ref recognize_urdu/recognize_english +
  post_process, ``urdu_recognition_utrnet.py:132-166``,
  ``english_ocr_pipeline.py:52-84``).
- :func:`assemble_blocks` — staged stage 3 (mapInPandas), partition-local
  reading-order reassembly.
- :func:`make_extract_fused_arrow` — the fused per-document stage
  (mapInArrow) behind batch, coverage and streaming extraction:
  detect+recognize+reassemble in one Arrow pass, zero shuffles — the
  distributed form of the reference's per-page orchestrator
  ``_process_one_page`` (``bilingual_ocr.py:126-211``). Byte-identical to the
  staged path by construction (both call the same ``extraction`` functions;
  asserted by tests/test_golden_e2e.py).

Heavy init (routing tables, keep-sets) is module-level in ``extraction`` and
imported once per worker process — the engine analog of the reference's
load-once model state (SURVEY.md §4 O1).

Arrow batch sizing (``spark.sql.execution.arrow.maxRecordsPerBatch``,
runtime-settable): the *pages* stages move few, huge rows — 128-row batches
pipeline the JVM serializer with the Python worker (measured 3-4× faster
than 512). The *blocks* stages move millions of tiny rows — 4096-row batches
amortize the per-batch overhead (measured ~2× on staged mode). bench.py sets
the conf per measurement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from extraction.core import extract_document, recognize_block
from extraction.html_clean import decode_html
from extraction.routing import block_route, doc_route
from extraction.segment import MAX_BLOCK_CHARS, MIN_BLOCK_CHARS, segment_blocks

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
    """Build the stage-1 fn. With ``emit_filtered_text=False`` the raw text
    of blocks failing the keep rule is not emitted (features still are) —
    the in-UDF pushdown of the threshold (ref conf kwarg to model.predict,
    SURVEY §4 O3): boilerplate bytes never cross the Arrow channel. The
    pipeline's Catalyst filter re-checks the predicate either way.

    ``fallback=True`` enables the O5 relaxed second pass: on documents where
    NO block passes the keep rule, the best-scoring block
    (``extraction.core.best_block``) is emitted with ``forced=true`` (and its
    text, regardless of the pushdown) so downstream stages rescue it."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _detect_blocks_impl(batches, emit_filtered_text, fallback)

    return fn


def _detect_blocks_impl(
    batches: Iterator[pd.DataFrame], emit_filtered_text: bool, fallback: bool
) -> Iterator[pd.DataFrame]:
    from extraction.core import best_block

    for pdf in batches:
        out: dict[str, list] = {
            "url": [], "warc_ts": [], "block_id": [], "tag": [], "text": [],
            "n_chars": [], "n_link_chars": [], "n_tags": [],
            "link_density": [], "tag_density": [], "score": [], "lang": [],
            "doc_n_blocks": [], "doc_status": [], "forced": [],
        }

        def emit(url, ts, block_id, tag, text, n_chars, n_link, n_tags,
                 ld, td, score, lang, doc_n_blocks, doc_status,
                 forced=False) -> None:
            out["url"].append(url)
            out["warc_ts"].append(ts)
            out["block_id"].append(block_id)
            out["tag"].append(tag)
            out["text"].append(text)
            out["n_chars"].append(n_chars)
            out["n_link_chars"].append(n_link)
            out["n_tags"].append(n_tags)
            out["link_density"].append(ld)
            out["tag_density"].append(td)
            out["score"].append(score)
            out["lang"].append(lang)
            out["doc_n_blocks"].append(doc_n_blocks)
            out["doc_status"].append(doc_status)
            out["forced"].append(forced)

        for url, ts, html, lang in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
        ):
            try:
                raw = decode_html(html) if isinstance(html, (bytes, bytearray)) else (html or "")
                blocks = segment_blocks(raw)
                droute = doc_route(lang)
                forced_id = -1
                if fallback and blocks and not any(b.kept for b in blocks):
                    forced_id = best_block(blocks).block_id
                for b in blocks:
                    route = droute if droute is not None else block_route(b.text)
                    forced = b.block_id == forced_id
                    text = b.text if (b.kept or forced or emit_filtered_text) else ""
                    emit(url, ts, b.block_id, b.tag, text, b.n_chars,
                         b.n_link_chars, b.n_tags, b.link_density,
                         b.tag_density, b.score, route, len(blocks), None,
                         forced)
                emit(url, ts, -1, "", "", 0, 0, 0, 0.0, 0.0, 0.0, "",
                     len(blocks), None)
            except Exception as exc:  # noqa: BLE001 — error rows, not exceptions
                emit(url, ts, -1, "", "", 0, 0, 0, 0.0, 0.0, 0.0, "",
                     0, f"error:{type(exc).__name__}")
        yield pd.DataFrame(out)


def _recognize_series(text: pd.Series, lang: pd.Series) -> pd.Series:
    """Series->Series body of the Arrow-batched recognize stage (r8): the
    per-block normalize is a function of (text, lang) ALONE — sentinel rows
    carry text '' and normalize('') == '' — so the staged pipeline ships
    ONLY those two columns to Python and the six carry columns
    (url/warc_ts/ids/flags) stay in the JVM. Same recognize_block oracle
    per row; measured ~2x on the recognize stage of the 20k-doc bench
    corpus (1.1M surviving blocks), byte-identity pinned by the staged ==
    fused golden tests."""
    return pd.Series(
        [recognize_block(t, l) for t, l in zip(text, lang)], dtype="object"
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

    Stage 1 emits each document's blocks consecutively and terminates the run
    with its sentinel row (``block_id = -1``); the Catalyst keep-filter and the
    recognize stage are narrow, order-preserving transformations, so within a
    partition every document is still a contiguous run ending in its sentinel.
    Reassembly therefore needs NO shuffle at all: accumulate rows, flush on the
    sentinel (state carries across Arrow batch boundaries). This is the
    distributed form of the reference's in-process reading-order join
    (``bilingual_ocr.py:461`` "\\n".join) — same prefix-sum span math as
    ``extraction.core.extract_document``, asserted byte-identical to fused by
    tests/test_golden_e2e.py.

    Duplicate (url, warc_ts) page rows each produce their own output row —
    identical to fused mode, unlike a groupBy-based reassembly which would
    merge them (ADVICE r1).
    """
    parts: list[tuple[int, str, str]] = []  # (block_id, route, norm_text)
    any_forced = False  # this doc's surviving parts came from the O5 ladder

    def new_out() -> dict[str, list]:
        return {
            "url": [], "warc_ts": [], "extracted_text": [], "spans": [],
            "n_blocks": [], "n_kept": [], "status": [],
        }

    out = new_out()
    for pdf in batches:
        for url, ts, block_id, lang, norm, doc_nb, doc_status, forced in zip(
            pdf["url"], pdf["warc_ts"], pdf["block_id"], pdf["lang"],
            pdf["norm_text"], pdf["doc_n_blocks"], pdf["doc_status"],
            pdf["forced"],
        ):
            if block_id >= 0:
                if norm:
                    parts.append((int(block_id), lang, norm))
                    any_forced = any_forced or bool(forced)
                continue
            # sentinel row: the document run is complete — finalize it.
            # Blocks arrived in stage-1 emit order (== block_id order); the
            # sort is a no-op safety net, O(1) comparisons on sorted input.
            parts.sort(key=lambda p: p[0])
            spans: list[dict] = []
            texts: list[str] = []
            pos = 0
            for bid, route, norm_text in parts:
                end = pos + len(norm_text)
                spans.append(
                    {"block_id": bid, "start": pos, "end": end, "lang": route}
                )
                texts.append(norm_text)
                pos = end + 1  # +1 for the '\n' joiner
            if isinstance(doc_status, str) and doc_status:
                status = doc_status  # error:<ExcName> rows pass through
            elif any_forced:
                status = "fallback"  # parts exist only via the O5 ladder
            else:
                status = "ok" if parts else "empty"
            out["url"].append(url)
            out["warc_ts"].append(ts)
            out["extracted_text"].append("\n".join(texts))
            out["spans"].append(spans)
            out["n_blocks"].append(int(doc_nb))
            out["n_kept"].append(len(parts))
            out["status"].append(status)
            parts = []
            any_forced = False
        if out["url"]:
            yield pd.DataFrame(out)
            out = new_out()
    if out["url"]:  # pragma: no cover — every doc ends in a sentinel
        yield pd.DataFrame(out)


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
        for b in batches:
            idx = {name: i for i, name in enumerate(b.schema.names)}
            urls = b.column(idx["url"]).to_pylist()
            htmls = b.column(idx["html"]).to_pylist()
            langs = b.column(idx["lang"]).to_pylist()
            texts: list[str] = []
            spans: list[list[dict]] = []
            n_blocks: list[int] = []
            n_kept: list[int] = []
            status: list[str] = []
            for url, html, lang in zip(urls, htmls, langs):
                r = extract_document(url, html, lang, fallback)
                texts.append(r.extracted_text)
                spans.append(
                    [
                        {"block_id": s.block_id, "start": s.start,
                         "end": s.end, "lang": s.lang}
                        for s in r.spans
                    ]
                )
                n_blocks.append(r.n_blocks)
                n_kept.append(r.n_kept)
                status.append(r.status)
            extra = [n for n in b.schema.names if n not in FUSED_INPUT_COLS]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(idx["url"]),
                    b.column(idx["warc_ts"]),
                    pa.array(texts, pa.string()),
                    pa.array(spans, spans_type),
                    pa.array(n_blocks, pa.int32()),
                    pa.array(n_kept, pa.int32()),
                    pa.array(status, pa.string()),
                    *(b.column(idx[n]) for n in extra),
                ],
                names=["url", "warc_ts", "extracted_text", "spans",
                       "n_blocks", "n_kept", "status", *extra],
            )

    return fn
