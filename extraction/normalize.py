"""Stage-2 "recognize": block text → canonical normalized text.

Analog of the reference's recognition + post-processing chain:

- RTL route ~ ``recognize_urdu`` + ``_clean_urdu_text``
  (``urdu_recognition_utrnet.py:132-166``, ``post_process.py:79-116``):
  (1) keep-set character filter — Arabic blocks + whitespace + ZWNJ/ZWJ +
  the reference's punctuation set (``post_process.py:96-112``), extended
  here with ASCII digits and ':' (web text keeps numerals; deliberate
  deviation), (2) consecutive-duplicate collapse (``post_process.py:90-95``)
  — restricted here to Arabic-block letters, a deliberate deviation: the
  reference collapses ANY repeated character, which would corrupt Latin
  words ('bookkeeper'→'bokeper') that web blocks legitimately mix in,
  (3) whitespace collapse + strip (``post_process.py:115-116``).
  Chain order also deviates: keep-set runs FIRST so the chain is idempotent
  — dropped characters can join two identical Arabic letters into a run a
  pre-filter dedup would miss ('ا;ا' → 'اا'); idempotence means re-running
  stage 2 over normalized text is a no-op, which checkpoint resume relies
  on (property-tested).
- LTR route ~ ``recognize_english`` (``english_ocr_pipeline.py:52-84``):
  entities were already decoded during the parse; normalization is
  whitespace collapse + strip. Segmented block text is already collapsed
  (``extraction.segment``), so on ``Block.text`` the LTR route is the
  identity: :func:`normalize_block` passes it through as is, while
  :func:`normalize_text` collapses any string.

Implementation: compiled-regex fast paths (CPython ``sre`` is ~10× the
per-codepoint loop). ``\\s`` is verified char-for-char identical to
``str.isspace()`` over all of Unicode in this interpreter
(tests/test_properties.py keeps a differential check against the
per-codepoint reference implementations ``_ref_*`` below), so the fast and
reference paths are byte-identical (SURVEY.md §7.3 H2: string semantics
pinned to one implementation — this module).
"""

from __future__ import annotations

import re

# Arabic blocks per the reference: U+0600–U+06FF (script_detection.py:20-21),
# U+0750–U+077F and U+08A0–U+08FF (post_process.py:96-109). The one table
# for both routing and normalization.
_ARABIC_RANGES = ((0x0600, 0x06FF), (0x0750, 0x077F), (0x08A0, 0x08FF))
_ARABIC_CLASS = "؀-ۿݐ-ݿࢠ-ࣿ"

# Keep-set beyond Arabic letters (ref post_process.py:99-112): whitespace,
# ZWNJ/ZWJ, Urdu/Arabic + common punctuation, ASCII digits.
_RTL_KEEP_EXTRA = frozenset("‌‍،؛؟.۔!\"'()-–—:0123456789")

# Matches maximal runs of dropped characters: deleting a run is deleting each
# of its characters, in one substitution instead of one per character.
_RTL_DROP_RE = re.compile(
    "[^" + _ARABIC_CLASS + r"\s‌‍،؛؟.۔!\"'()\-–—:0-9]+"
)
_ARABIC_RUN_RE = re.compile("([" + _ARABIC_CLASS + r"])\1+")


def _is_arabic_cp(cp: int) -> bool:
    return any(lo <= cp <= hi for lo, hi in _ARABIC_RANGES)


def collapse_ws(text: str) -> str:
    """Whitespace collapse + strip (ref post_process.py:115-116)."""
    return " ".join(text.split())


def dedup_arabic_runs(text: str) -> str:
    """Collapse runs of the *same Arabic-block letter* to one occurrence
    (ref post_process.py:90-95, the ``ااا → ا`` fix). Non-Arabic characters
    are untouched so Latin words keep their double letters."""
    return _ARABIC_RUN_RE.sub(r"\1", text)


def normalize_rtl(text: str) -> str:
    # keep-set → duplicate-collapse → whitespace (idempotent; see module doc)
    kept = _RTL_DROP_RE.sub("", text)
    return collapse_ws(dedup_arabic_runs(kept))


def normalize_ltr(text: str) -> str:
    return collapse_ws(text)


def normalize_text(text: str, route: str) -> str:
    """Normalize any string for its route ('rtl' | 'ltr')."""
    if route == "rtl":
        return normalize_rtl(text)
    return normalize_ltr(text)


def normalize_block(text: str, route: str) -> str:
    """:func:`normalize_text` for segmented block text (``Block.text``),
    which is whitespace-collapsed already: the LTR route is the identity
    there and the text passes through as is. Equal to ``normalize_text`` on
    every block the segmenter emits (tests/test_properties.py)."""
    if route == "rtl":
        return normalize_rtl(text)
    return text


# --- per-codepoint reference implementations (differential-test oracles) ---

def _ref_rtl_keep(ch: str) -> bool:
    return _is_arabic_cp(ord(ch)) or ch.isspace() or ch in _RTL_KEEP_EXTRA


def _ref_dedup_arabic_runs(text: str) -> str:
    out: list[str] = []
    prev = ""
    for ch in text:
        if ch == prev and _is_arabic_cp(ord(ch)):
            continue
        out.append(ch)
        prev = ch
    return "".join(out)


def _ref_normalize_rtl(text: str) -> str:
    kept = "".join(ch for ch in text if _ref_rtl_keep(ch))
    return collapse_ws(_ref_dedup_arabic_runs(kept))
