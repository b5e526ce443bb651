"""Per-block language/script routing — analog of the reference's script
detection (``script_detection.py:64-104``).

Two-level routing, mirroring the reference's page-level short-circuit
(``detect_script_page``, ``script_detection.py:64-79``) followed by per-crop
detection (``detect_script``, ``script_detection.py:82-104``):

1. If the crawl-provided document ``lang`` tag is decisive, every block in the
   document is routed by it (SURVEY.md §4 O4 — trust coarse metadata, skip
   fine-grained work).
2. Otherwise (empty/unknown tag — the reference's ``auto`` mode) each block is
   classified by a codepoint-class histogram: Arabic-block letters vs Latin
   letters, majority wins, ties and letterless blocks default to ``ltr``.

Routes are ``'rtl'`` (Arabic-script normalization chain) and ``'ltr'``
(default chain). Histogram counts use compiled-regex subtraction
(``len(text) - len(class_removed)``) — C-speed, char-for-char identical to
the per-codepoint reference ``_ref_block_route`` (differential-tested).
"""

from __future__ import annotations

import re

from extraction.normalize import _ARABIC_CLASS, _is_arabic_cp

RTL_DOC_LANGS = frozenset({"ar", "ur", "ara", "urd", "arabic", "urdu", "fa", "ps"})
LTR_DOC_LANGS = frozenset(
    {"en", "english", "de", "es", "fr", "it", "pt", "nl", "pl", "sv",
     "zh", "ja", "ko", "ru", "tr", "id", "vi", "th", "hi"}
)

_ARABIC_RE = re.compile("[" + _ARABIC_CLASS + "]+")
_LATIN_RE = re.compile("[A-Za-z]+")


def doc_route(lang: str | None) -> str | None:
    """Document-level route from the crawl lang tag; None means 'auto'."""
    if not lang:
        return None
    tag = lang.strip().lower().split("-")[0]
    if tag in RTL_DOC_LANGS:
        return "rtl"
    if tag in LTR_DOC_LANGS:
        return "ltr"
    return None


def block_route(text: str) -> str:
    """Codepoint-histogram route for one block (the 'auto' path)."""
    n = len(text)
    n_arabic = n - len(_ARABIC_RE.sub("", text))
    n_latin = n - len(_LATIN_RE.sub("", text))
    return "rtl" if n_arabic > n_latin else "ltr"


def route_block(text: str, droute: str | None) -> str:
    """Route one block given its page's ``doc_route`` (resolved once per
    page): a decisive doc tag wins, else the per-block histogram."""
    if droute is not None:
        return droute
    return block_route(text)


def route_lang(text: str, doc_lang: str | None) -> str:
    """Route one block from the raw doc ``lang`` tag (per-block form of
    :func:`route_block`)."""
    return route_block(text, doc_route(doc_lang))


# --- per-codepoint reference implementation (differential-test oracle) -----

def _ref_block_route(text: str) -> str:
    n_arabic = 0
    n_latin = 0
    for ch in text:
        if _is_arabic_cp(ord(ch)):
            n_arabic += 1
        elif ("a" <= ch <= "z") or ("A" <= ch <= "Z"):
            n_latin += 1
    return "rtl" if n_arabic > n_latin else "ltr"
