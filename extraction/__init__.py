"""extraction — the pure-Python single-document main-content extraction core.

This package is the deterministic "oracle" of the engine: every byte of
``extracted_text`` is decided here, with no Spark involvement. The Spark layer
(``engine/``) only *distributes* these functions over Arrow batches, so the
distributed result is byte-identical to the local one by construction.

Computational shape mirrors the reference two-stage detect→recognize OCR
pipeline (notm33na/OCR-NEW, see SURVEY.md):

- :func:`extraction.html_clean.decode_html`   — preprocess (ref preprocess.py:210-238)
- :func:`extraction.segment.segment_blocks`   — detect     (ref text_detection_yolov8.py:136-226,
                                                 text_region_detection.py:43-115)
- :func:`extraction.routing.route_lang`       — script det (ref script_detection.py:64-104)
- :func:`extraction.normalize.normalize_text` — recognize  (ref urdu_recognition_utrnet.py:132-166,
                                                 post_process.py:79-116)
- :func:`extraction.core.extract_document`    — per-page orchestrator
                                                 (ref bilingual_ocr.py:126-211)

``extract_document`` is two shared halves around route + normalize:
:func:`extraction.core.detect_document` (decode, segment, O5 relaxed-pass
winner) and :func:`extraction.core.assemble` (join, span offsets, status).
The staged Spark pipeline calls the halves from its stages 1 and 3, so each
per-document decision has one home.
"""

from extraction.core import ExtractResult, extract_document
from extraction.html_clean import decode_html
from extraction.normalize import normalize_text
from extraction.routing import route_lang
from extraction.segment import Block, segment_blocks

__all__ = [
    "Block",
    "ExtractResult",
    "decode_html",
    "extract_document",
    "normalize_text",
    "route_lang",
    "segment_blocks",
]
