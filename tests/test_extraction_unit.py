"""Unit tests for the pure-Python extraction core (no Spark).

Mirrors the reference's smoke STEP B ladder (run_smoke_tests.py:111-194):
preprocessing (decode), detection (segmentation), recognition
(normalization), each asserted on hand-written inputs with known outputs.
"""

from __future__ import annotations

import pytest

from extraction import (
    decode_html,
    extract_document,
    normalize_text,
    route_lang,
    segment_blocks,
)
from extraction.normalize import collapse_ws, dedup_arabic_runs
from extraction.routing import block_route, doc_route
from extraction.segment import CHUNK_CHARS, MIN_BLOCK_CHARS


# ---------------------------------------------------------------- decode
def test_decode_utf8():
    assert decode_html("héllo ۔".encode("utf-8")) == "héllo ۔"


def test_decode_declared_latin1():
    raw = '<meta charset="latin-1"><p>caf\xe9</p>'.encode("latin-1")
    assert "café" in decode_html(raw)


def test_decode_garbage_never_raises():
    assert isinstance(decode_html(b"\xff\xfe\xfa\x01"), str)
    assert decode_html(b"") == ""


# ---------------------------------------------------------------- segment
LONG = "This sentence is certainly long enough to pass the minimum filter."


def test_segment_dom_order_ids():
    html = f"<p>{LONG}</p><div>{LONG} again</div><p>{LONG} third</p>"
    blocks = segment_blocks(html)
    assert [b.block_id for b in blocks] == list(range(len(blocks)))
    assert [b.tag for b in blocks] == ["p", "div", "p"]
    assert all(b.kept for b in blocks)


def test_segment_min_length_filter():
    blocks = segment_blocks("<p>tiny</p>")
    assert len(blocks) == 1 and not blocks[0].kept
    assert blocks[0].n_chars == 4 < MIN_BLOCK_CHARS


def test_segment_link_density_filter():
    nav = '<div><a href="/">one two three four five six seven eight nine ten</a></div>'
    (b,) = segment_blocks(nav)
    assert b.n_link_chars == b.n_chars and not b.kept
    mixed = f'<p><a href="/">link</a> {LONG}</p>'
    (b2,) = segment_blocks(mixed)
    assert b2.kept and 0 < b2.n_link_chars < b2.n_chars


def test_segment_suppresses_script_style_head():
    html = f"<head><title>ttt</title></head><script>var x={LONG!r}</script><style>p{{}}</style><p>{LONG}</p>"
    blocks = [b for b in segment_blocks(html) if b.text]
    assert len(blocks) == 1 and blocks[0].text == LONG


def test_segment_entities_and_br():
    html = f"<p>fish &amp; chips &lt;3<br>{LONG}</p>"
    (b,) = segment_blocks(html)
    assert "fish & chips <3" in b.text and b.text.endswith(LONG)


def test_segment_malformed_never_raises():
    html = f"<div><p>{LONG}<p>{LONG}<!-- c --><![CDATA[x]]><span>{LONG}"
    blocks = segment_blocks(html)
    assert sum(b.kept for b in blocks) >= 2


def test_segment_giant_block_chunking():
    word = "tokenword "
    giant = word * ((CHUNK_CHARS * 2) // len(word) + 10)
    blocks = segment_blocks(f"<p>{giant.strip()}</p>")
    assert len(blocks) >= 2
    assert all(b.n_chars <= CHUNK_CHARS for b in blocks)
    assert " ".join(b.text for b in blocks) == giant.strip()


# ---------------------------------------------------------------- routing
def test_doc_route():
    assert doc_route("ur") == "rtl"
    assert doc_route("AR") == "rtl"
    assert doc_route("en") == "ltr"
    assert doc_route("de") == "ltr"
    assert doc_route("") is None
    assert doc_route(None) is None
    assert doc_route("xx") is None


def test_block_route_histogram():
    assert block_route("السلام علیکم") == "rtl"
    assert block_route("hello world") == "ltr"
    assert block_route("کتاب vs x") == "rtl"
    assert block_route("12345 ...") == "ltr"  # letterless → ltr default


def test_route_lang_doc_tag_wins():
    assert route_lang("hello world", "ur") == "rtl"
    assert route_lang("السلام", "en") == "ltr"
    assert route_lang("السلام", None) == "rtl"


# ------------------------------------------------------------- normalize
def test_dedup_arabic_runs_only_arabic():
    assert dedup_arabic_runs("ااا ب") == "ا ب"
    assert dedup_arabic_runs("bookkeeper") == "bookkeeper"  # Latin untouched


def test_normalize_rtl_keepset():
    raw = "السلام xyz! علیکم @@@ ۔"
    out = normalize_text(raw, "rtl")
    assert "xyz" not in out and "@" not in out
    assert out == "السلام ! علیکم ۔"


def test_normalize_rtl_preserves_zwnj():
    out = normalize_text("می‌خواهم", "rtl")
    assert "‌" in out


def test_normalize_ltr_collapse():
    assert normalize_text("  a \t b\n\nc  ", "ltr") == "a b c"
    assert collapse_ws("") == ""


# ------------------------------------------------------- extract_document
def test_extract_document_spans_consistent():
    html = f"<p>{LONG}</p><p>{LONG} two</p>".encode()
    r = extract_document("u", html, "en")
    assert r.status == "ok" and r.n_kept == 2
    for s in r.spans:
        assert r.extracted_text[s.start : s.end] == r.extracted_text[s.start : s.end]
        assert s.end <= len(r.extracted_text)
    joined = "\n".join(r.extracted_text[s.start : s.end] for s in r.spans)
    assert joined == r.extracted_text


def test_extract_document_empty_and_error_paths():
    r = extract_document("u", b"", "en")
    assert r.status == "empty" and r.extracted_text == ""
    r2 = extract_document("u", None, "en")  # type: ignore[arg-type]
    assert r2.status in ("empty", "ok")


class _Evil:
    """A payload that explodes inside the parse."""

    def __bool__(self):
        return True


def test_extract_document_error_row_on_bad_payload():
    """A payload that explodes inside the parse becomes an error row, never
    an exception (ref skip-don't-crash, bilingual_ocr.py:240-243)."""
    r = extract_document("u", _Evil(), "en")  # type: ignore[arg-type]
    assert r.status.startswith("error:")
    assert r.extracted_text == "" and r.n_kept == 0


@pytest.mark.parametrize("html, lang, fallback, split", [
    # stage 1 emits only the sentinel, carrying the error status
    (_Evil(), "en", False, None),
    # Latin-only under 'ur': the forced block normalizes to empty
    (b"<p>short latin words</p>", "ur", True, None),
    # the page's surviving rows reach stage 2 as two Arrow batches
    (f"<p>{LONG}</p><nav><a href='/'>home</a></nav><p>{LONG} two</p>"
     f"<p>{LONG} three</p>".encode(), "en", False, 2),
], ids=["error", "ur-latin-forced", "batch-split"])
def test_staged_error_row_matches_extract_document(html, lang, fallback, split):
    """The staged carriers, run without Spark (stage 1, the keep rule,
    stage 2), give exactly the row extract_document returns."""
    from tests.test_properties import staged_extract

    r = extract_document("u", html, lang, fallback)
    assert staged_extract("u", html, lang, fallback, split) == r
    if isinstance(html, _Evil):
        assert r.status.startswith("error:")
    elif fallback:
        assert r.status == "empty" and r.n_blocks == 1
    else:
        assert r.status == "ok" and r.n_kept == 3


def test_extract_document_deterministic():
    html = f"<p>{LONG}</p><p>ااا کتاب علم roman</p>".encode()
    a = extract_document("u", html, "")
    b = extract_document("u", html, "")
    assert a == b


def test_fallback_rescues_best_block():
    """O5 ladder: all blocks fail the keep rule -> the best-scoring block is
    kept unconditionally with status='fallback' (ref empty-result retry,
    text_detection_yolov8.py:182-209)."""
    html = (
        '<nav><a href="/">home</a> <a href="/b">blog</a></nav>'
        "<p>short paragraph</p>"
        '<footer><a href="/t">terms</a></footer>'
    ).encode()
    base = extract_document("u", html, "en")
    assert base.status == "empty" and base.n_kept == 0
    fb = extract_document("u", html, "en", fallback=True)
    assert fb.status == "fallback"
    assert fb.extracted_text == "short paragraph"  # highest score: 15 chars, no links
    assert fb.n_kept == 1 and fb.n_blocks == base.n_blocks
    assert fb.spans[0].start == 0 and fb.spans[0].end == len(fb.extracted_text)


def test_fallback_noop_when_keep_rule_passes():
    html = f"<p>{LONG}</p>".encode()
    assert extract_document("u", html, "en", fallback=True) == extract_document(
        "u", html, "en"
    )


def test_fallback_zero_blocks_stays_empty():
    assert extract_document("u", b"<body> \n\t </body>", "en", fallback=True).status == "empty"


def test_fallback_tie_breaks_to_lowest_block_id():
    from extraction.segment import segment_blocks
    from extraction.core import best_block

    html = "<p>same text here</p><p>same text here</p>"
    blocks = segment_blocks(html)
    assert blocks[0].score == blocks[1].score
    assert best_block(blocks).block_id == 0


def test_gzip_payload_decodes_transparently():
    """WARC-style per-record gzip bodies (r3): gzip(html) extracts byte-
    identically to the raw html; a corrupt gzip member falls through to
    raw-byte decoding (error-row discipline — never raises)."""
    import gzip

    from extraction.core import extract_document
    from extraction.html_clean import decode_html

    html = (
        "<html><body><main><p>"
        + "content paragraph with enough characters to pass the keep rule "
        * 3
        + "</p></main></body></html>"
    ).encode()
    plain = extract_document("u", html, None)
    gz = extract_document("u", gzip.compress(html), None)
    assert gz.extracted_text == plain.extracted_text
    assert gz.status == plain.status == "ok"
    # corrupt member, bad-header branch (BadGzipFile -> OSError): decodes
    # raw via the latin-1 total fallback, byte-for-byte
    corrupt_hdr = b"\x1f\x8b" + b"\x00garbage" * 10
    assert decode_html(corrupt_hdr) == corrupt_hdr.decode("latin-1")
    # corrupt member, VALID header over a corrupt deflate body (zlib.error
    # branch — the one a bad-header fixture never reaches): same fall-through
    good = gzip.compress(html)
    corrupt_body = bytearray(good)
    for i in range(12, min(40, len(corrupt_body))):
        corrupt_body[i] ^= 0xFF
    corrupt_body = bytes(corrupt_body)
    assert decode_html(corrupt_body) == corrupt_body.decode("latin-1")
    r = extract_document("u", corrupt_body, None)
    assert r.status in ("empty", "ok")  # raw-noise path, never error:raise
