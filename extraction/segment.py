"""Stage-1 "detect": DOM block segmentation with candidate-block features.

Analog of the reference's text-region detection
(``text_detection_yolov8.py:136-226`` primary detector and
``text_region_detection.py:43-115`` fallback): one page in, an *ordered* list
of candidate regions out, each with a confidence-like score and a size filter.
Here the page is an HTML string, regions are text blocks flushed at
block-level tag boundaries in DOM order, and the features are the web-text
recast of the detector's signals:

- block length  (``n_chars``)      ~ box area / size filter
  (ref ``text_region_detection.py:101-109``)
- text-to-link ratio (``link_density``) ~ detection confidence
  (ref ``text_detection_yolov8.py:199-202`` conf mask)
- tag density  (``tag_density``)   ~ noise rejection

Determinism notes (SURVEY.md §7.3 H1):
- ``block_id`` is assigned during the parse in DOM emission order — never by a
  post-hoc sort — so ids are independent of partitioning.
- The keep decision uses **integer arithmetic only**
  (``n_chars >= MIN_BLOCK_CHARS and 3*n_link_chars < n_chars``); the float
  ``score`` is informational and never crosses a threshold.
- stdlib ``html.parser`` is event-based and tolerant; unclosed suppressed tags
  suppress to EOF (deterministic), mirroring the reference's
  skip-don't-crash discipline (``bilingual_ocr.py:240-243``).

Giant pages (SURVEY.md §4 O6, ref ``english_ocr_pipeline.py:87-124`` strip
chunking): a single block longer than ``CHUNK_CHARS`` is split at whitespace
into consecutive blocks so no single row dominates an Arrow batch.

Per-block cost: a page can flush hundreds of thousands of blocks, so
:class:`Block` is a ``NamedTuple`` (immutable, compared field by field, about
a third of the construction cost of a frozen dataclass) and ``_flush`` does
only the work a block needs: link text is collapsed only when the block has
some, and only blocks longer than ``CHUNK_CHARS`` go through ``_chunk_text``.
``Block.text`` is always whitespace-collapsed (``_collapse`` output, or a
stripped whitespace-cut slice of it), so the LTR normalization is the
identity on it (``extraction.normalize.normalize_block``).
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import NamedTuple

# Block-level container tags: opening or closing one flushes the current block.
BLOCK_TAGS = frozenset(
    {
        "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
        "td", "th", "article", "section", "pre", "blockquote",
        "figcaption", "caption", "dd", "dt", "summary", "ul", "ol",
        "table", "tr", "nav", "footer", "header", "aside", "main",
        "body", "form", "fieldset", "address",
    }
)

# Content inside these is never text (ref: preprocessing strips non-text ink).
SUPPRESS_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "iframe", "svg", "math"}
)

# Void tags that act as soft whitespace separators inside a block.
_SEPARATOR_VOIDS = frozenset({"br", "hr", "img", "input", "wbr"})

# Keep rule constants — integer-only threshold (H1).
MIN_BLOCK_CHARS = 25       # analog of the detector min box size
MAX_BLOCK_CHARS = 1_000_000  # analog of the "full-page artifact" max box filter
CHUNK_CHARS = 65_536       # giant-block chunk size (O6 strip analog)


class Block(NamedTuple):
    """One candidate content block (the analog of one detected box + conf)."""

    block_id: int
    tag: str
    text: str          # whitespace-collapsed block text (pre-normalization)
    n_chars: int
    n_link_chars: int
    n_tags: int
    link_density: float
    tag_density: float
    score: float
    kept: bool


def _collapse(pieces: list[str]) -> str:
    return " ".join("".join(pieces).split())


def _keep(n_chars: int, n_link_chars: int) -> bool:
    return (
        MIN_BLOCK_CHARS <= n_chars <= MAX_BLOCK_CHARS
        and 3 * n_link_chars < n_chars
    )


def _score(n_chars: int, link_density: float, tag_density: float) -> float:
    # Informational confidence: long, link-free, markup-light blocks score high.
    return n_chars * (1.0 - link_density) / (1.0 + 10.0 * tag_density)


class _Segmenter(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._pieces: list[str] = []
        self._link_pieces: list[str] = []
        self._n_tags = 0
        self._anchor_depth = 0
        self._suppress_depth = 0
        self._current_tag = "body"

    # -- flush ------------------------------------------------------------
    def _flush(self) -> None:
        if not self._pieces:  # nothing buffered (link pieces ⊆ pieces)
            self._n_tags = 0
            return
        text = _collapse(self._pieces)
        if text:
            n_chars = len(text)
            n_link = (
                min(len(_collapse(self._link_pieces)), n_chars)
                if self._link_pieces else 0
            )
            n_tags = self._n_tags
            link_density = n_link / n_chars
            tag_density = n_tags / n_chars
            tag = self._current_tag
            blocks = self.blocks
            chunks = (text,) if n_chars <= CHUNK_CHARS else _chunk_text(text)
            for chunk in chunks:
                c_chars = len(chunk)
                # Chunks inherit the parent block's densities; the keep rule
                # re-evaluates per chunk on integer counts scaled by length.
                c_link = (n_link * c_chars) // n_chars
                blocks.append(Block(  # positional: the field order above
                    len(blocks), tag, chunk, c_chars, c_link, n_tags,
                    link_density, tag_density,
                    _score(c_chars, link_density, tag_density),
                    _keep(c_chars, c_link),
                ))
        self._pieces = []
        self._link_pieces = []
        self._n_tags = 0

    # -- parser events ----------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SUPPRESS_TAGS:
            self._suppress_depth += 1
            return
        if self._suppress_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._current_tag = tag
        else:
            self._n_tags += 1
            if tag == "a":
                self._anchor_depth += 1
            elif tag in _SEPARATOR_VOIDS:
                self._pieces.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in SUPPRESS_TAGS:
            if self._suppress_depth:
                self._suppress_depth -= 1
            return
        if self._suppress_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        elif tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._suppress_depth or tag in SUPPRESS_TAGS:
            return
        if tag in _SEPARATOR_VOIDS:
            self._pieces.append(" ")
        self._n_tags += 1

    def handle_data(self, data: str) -> None:
        if self._suppress_depth or not data:
            return
        self._pieces.append(data)
        if self._anchor_depth:
            self._link_pieces.append(data)


def _chunk_text(text: str) -> list[str]:
    """Split a giant block at whitespace into <= CHUNK_CHARS pieces (O6)."""
    if len(text) <= CHUNK_CHARS:
        return [text]
    chunks: list[str] = []
    start = 0
    n = len(text)
    while start < n:
        end = min(start + CHUNK_CHARS, n)
        if end < n:
            cut = text.rfind(" ", start + 1, end)
            if cut > start:
                end = cut
        chunks.append(text[start:end].strip())
        start = end
    return [c for c in chunks if c]


def segment_blocks(html: str, engine: str = "fast") -> list[Block]:
    """Parse an HTML string into DOM-ordered candidate blocks with features.

    Never raises on malformed markup; a hard parser failure surfaces to the
    caller (``extract_document`` converts it into a ``status='error:...'``
    row).

    ``engine='fast'`` (default) drives the segmenter with the lean scanner
    (``extraction.fastscan``); ``engine='stdlib'`` uses
    ``html.parser.HTMLParser`` — the reference implementation the fast path
    is differential-tested against (tests/test_fastscan.py).
    """
    seg = _Segmenter()
    if engine == "fast":
        from extraction.fastscan import scan

        scan(html, seg)
    else:
        seg.feed(html)
        seg.close()
    seg._flush()
    return seg.blocks
