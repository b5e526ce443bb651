"""Per-document orchestrator — the single-doc oracle the Spark stages must
match byte-for-byte.

Analog of the reference's per-page pipeline ``_process_one_page``
(``bilingual_ocr.py:126-211``) and its English composition
``recognize_english_page`` (``english_ocr_pipeline.py:127-191``):
detect candidate regions → threshold → per-region script routing →
recognize/normalize → reading-order reassembly with ``"\\n".join``
(``bilingual_ocr.py:461``). Errors never propagate as exceptions; they become
``status='error:<ExcName>'`` rows (ref skip-don't-crash,
``bilingual_ocr.py:240-243``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

from extraction.html_clean import decode_html
from extraction.normalize import normalize_block
from extraction.routing import doc_route, route_block
from extraction.segment import Block, segment_blocks


class Span(NamedTuple):
    block_id: int
    start: int
    end: int
    lang: str


@dataclass(frozen=True)
class ExtractResult:
    url: str
    extracted_text: str
    spans: list[Span] = field(default_factory=list)
    n_blocks: int = 0
    n_kept: int = 0
    status: str = "ok"


def best_block(blocks: list[Block]) -> Block | None:
    """The relaxed-pass winner: highest score, ties to the lowest block_id.

    The deterministic web recast of the reference's empty-result retry ladder
    (O5): YOLO→OpenCV fallback detector (``text_detection_yolov8.py:182-209``)
    and the detect→full-page-English fallback (``bilingual_ocr.py:108-123``).
    Score is informational-float but computed identically everywhere (pure
    Python, same function), so the argmax is stable."""
    if not blocks:
        return None
    return max(blocks, key=lambda b: (b.score, -b.block_id))


def detect_document(
    html: bytes | str | None, fallback: bool = False
) -> tuple[list[Block], int]:
    """Detect half: page payload → (candidate blocks, forced block_id).

    ``forced_id`` is the O5 relaxed-pass winner (:func:`best_block`), or -1
    when there is none. It is chosen only with ``fallback=True`` and only on
    the DETECT-level condition "no block passed the keep rule" (ref: "no
    regions detected"), never on the post-normalization outcome: a doc whose
    kept blocks all normalize to empty stays ``'empty'``."""
    raw = decode_html(html) if isinstance(html, (bytes, bytearray)) else (html or "")
    blocks = segment_blocks(raw)
    forced_id = -1
    if fallback and blocks and not any(b.kept for b in blocks):
        forced_id = best_block(blocks).block_id
    return blocks, forced_id


def assemble(
    parts: list[tuple[int, str, str]], forced: bool
) -> tuple[str, list[Span], str]:
    """Assemble half: reading-ordered ``(block_id, route, norm_text)`` parts
    with non-empty text → (extracted_text, spans, status).

    Parts are joined with ``"\\n"``; each span is the prefix-sum offset of
    its part. Status is ``'empty'`` without parts, else ``'fallback'`` when
    they came from the O5 ladder (``forced``), else ``'ok'``."""
    spans: list[Span] = []
    pos = 0
    for block_id, route, norm in parts:
        end = pos + len(norm)
        spans.append(Span(block_id, pos, end, route))
        pos = end + 1  # +1 for the '\n' joiner
    status = ("fallback" if forced else "ok") if parts else "empty"
    return "\n".join(p[2] for p in parts), spans, status


def extract_document(
    url: str, html: bytes | str, lang: str | None, fallback: bool = False
) -> ExtractResult:
    """Extract main content from one page. Never raises.

    ``fallback=True`` enables the O5 relaxed second pass: when every block
    fails the keep rule (short-paragraph pages are common on real crawls),
    the best-scoring block is kept unconditionally and the row is emitted
    with ``status='fallback'`` instead of giving up with ``'empty'``.

    Per kept (or forced) block this is ``route_lang`` + ``normalize_text``;
    the page's ``lang`` tag is resolved once (``doc_route``), each block is
    routed with ``route_block`` and normalized with ``normalize_block``,
    which skips the no-op LTR collapse. Equality with the per-block composition is property-tested."""
    try:
        blocks, forced_id = detect_document(html, fallback)
        droute = doc_route(lang)
        parts: list[tuple[int, str, str]] = []
        for b in blocks:
            if b.kept or b.block_id == forced_id:
                route = route_block(b.text, droute)
                norm = normalize_block(b.text, route)
                if norm:
                    parts.append((b.block_id, route, norm))
        text, spans, status = assemble(parts, forced_id >= 0)
        return ExtractResult(url, text, spans, len(blocks), len(parts), status)
    except Exception as exc:  # noqa: BLE001 — error rows, not exceptions
        return ExtractResult(url, "", [], 0, 0, f"error:{type(exc).__name__}")
