"""Property-based tests (hypothesis) for the extraction core invariants —
the determinism discipline the whole engine rests on (SURVEY.md §7.3 H1/H2/H4)."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from extraction import extract_document, normalize_text, route_lang, segment_blocks
from extraction.core import ExtractResult, assemble, detect_document
from extraction.normalize import _RTL_KEEP_EXTRA
from extraction.segment import CHUNK_CHARS

# Every codepoint str.isspace() accepts (29 in this interpreter).
ISSPACE = "".join(c for c in map(chr, range(0x110000)) if c.isspace())

# Text mixing ASCII, Arabic block, whitespace variants, ZWNJ/ZWJ, controls.
_texty = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(min_codepoint=0x0600, max_codepoint=0x06FF),
        st.sampled_from(" \t\n\r‌‍<>&\"'"),
    ),
    max_size=400,
)

_html_bytes = st.one_of(
    st.binary(max_size=2048),
    _texty.map(lambda t: f"<div><p>{t}</p><a href='x'>{t[:30]}</a></div>".encode()),
)

_langs = st.sampled_from(["en", "ur", "ar", "de", "zh", "", None, "xx"])

# Every keep/drop boundary of the RTL chain: all three Arabic blocks and the
# codepoints around them, every whitespace codepoint, ZWNJ/ZWJ and the kept
# punctuation, next to ASCII (dropped except digits and the punctuation).
_rtl_texty = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(min_codepoint=0x05F0, max_codepoint=0x0700),
        st.characters(min_codepoint=0x074F, max_codepoint=0x0780),
        st.characters(min_codepoint=0x089F, max_codepoint=0x0900),
        st.sampled_from(ISSPACE),
        st.sampled_from(sorted(_RTL_KEEP_EXTRA)),
    ),
    max_size=400,
)

# ASCII mixed with every whitespace codepoint, for the block-text checks.
_spacey = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from(ISSPACE),
    ),
    max_size=400,
)


def reference_extract(url, html, lang, fallback=False) -> ExtractResult:
    """``extract_document`` as the plain per-block composition: route_lang
    and normalize_text on every kept or forced block. extract_document
    resolves the lang tag once per page and skips the LTR collapse on block
    text; it must equal this."""
    try:
        blocks, forced_id = detect_document(html, fallback)
        parts = []
        for b in blocks:
            if b.kept or b.block_id == forced_id:
                route = route_lang(b.text, lang)
                norm = normalize_text(b.text, route)
                if norm:
                    parts.append((b.block_id, route, norm))
        text, spans, status = assemble(parts, forced_id >= 0)
        return ExtractResult(url, text, spans, len(blocks), len(parts), status)
    except Exception as exc:  # noqa: BLE001 — mirrors extract_document
        return ExtractResult(url, "", [], 0, 0, f"error:{type(exc).__name__}")


def assert_ltr_identity(html: str, engines=("fast", "stdlib")) -> None:
    """The LTR normalization is the identity on every block either engine
    emits, so normalize_block may pass LTR block text through."""
    for engine in engines:
        for b in segment_blocks(html, engine=engine):
            assert normalize_text(b.text, "ltr") == b.text, (engine, b)


@given(_html_bytes, _langs)
@settings(max_examples=200, deadline=None)
def test_extract_never_raises_and_is_deterministic(html, lang):
    a = extract_document("u", html, lang)
    b = extract_document("u", html, lang)
    assert a == b
    assert a.status == "ok" or a.extracted_text == ""
    assert a.n_kept <= max(a.n_blocks, 0) or a.status.startswith("error")


@given(_html_bytes, _langs)
@settings(max_examples=200, deadline=None)
def test_span_invariants(html, lang):
    r = extract_document("u", html, lang)
    pos = 0
    for i, s in enumerate(r.spans):
        assert s.start == pos
        assert s.end > s.start  # empty-normalized blocks are dropped
        assert s.lang in ("rtl", "ltr")
        assert r.extracted_text[s.start : s.end] != ""
        pos = s.end + 1
    if r.spans:
        assert r.spans[-1].end == len(r.extracted_text)
        ids = [s.block_id for s in r.spans]
        assert ids == sorted(ids) and len(set(ids)) == len(ids)


@given(_html_bytes, _langs, st.booleans())
@settings(max_examples=300, deadline=None)
def test_extract_document_equals_per_block_composition(html, lang, fallback):
    assert extract_document("u", html, lang, fallback) == reference_extract(
        "u", html, lang, fallback
    )


@given(_spacey)
@settings(max_examples=200, deadline=None)
def test_ltr_normalize_is_identity_on_block_text(text):
    assert_ltr_identity(
        f"<div><p>{text}</p><a href='x'>{text[:30]}</a>{text}<br>{text}</div>"
    )


def test_ltr_normalize_is_identity_on_chunked_blocks():
    """Blocks longer than CHUNK_CHARS are cut at whitespace (or hard-cut
    when a chunk has none); every chunk is collapsed text too."""
    rng = random.Random(5)
    words = [
        "".join(rng.choice("abcdefgh") for _ in range(rng.randrange(1, 12)))
        for _ in range(3 * CHUNK_CHARS // 6)
    ]
    spaced = "".join(w + rng.choice(ISSPACE) * rng.randrange(1, 3) for w in words)
    unbroken = "x" * (CHUNK_CHARS + 100)
    for body in (spaced, unbroken + " " + spaced, spaced + unbroken):
        html = f"<p>{body}</p>"
        assert len(segment_blocks(html)) > 1  # the chunked path ran
        assert_ltr_identity(html)
        assert extract_document("u", html, None) == reference_extract("u", html, None)


@given(_texty, _langs)
@settings(max_examples=200, deadline=None)
def test_route_total_and_normalize_idempotent(text, lang):
    route = route_lang(text, lang)
    assert route in ("rtl", "ltr")
    once = normalize_text(text, route)
    twice = normalize_text(once, route)
    assert once == twice  # normalization is idempotent
    assert once == once.strip()
    assert "  " not in once


@given(_rtl_texty)
@settings(max_examples=300, deadline=None)
def test_fast_paths_match_reference_implementations(text):
    """The compiled-regex fast paths must be char-for-char identical to the
    per-codepoint reference implementations (H2 semantics pinning)."""
    from extraction.normalize import _ref_normalize_rtl, normalize_rtl
    from extraction.routing import _ref_block_route, block_route

    assert normalize_rtl(text) == _ref_normalize_rtl(text)
    assert block_route(text) == _ref_block_route(text)


@given(st.text(alphabet=st.sampled_from("ab "), min_size=0, max_size=1000))
@settings(max_examples=100, deadline=None)
def test_segment_blocks_order_and_bounds(body):
    blocks = segment_blocks(f"<p>{body}</p><div>{body}</div>")
    assert [b.block_id for b in blocks] == list(range(len(blocks)))
    for b in blocks:
        assert 0 < b.n_chars <= CHUNK_CHARS
        assert 0 <= b.n_link_chars <= b.n_chars
        assert b.text == " ".join(b.text.split())  # collapsed


# --- media codec properties (r3): lossless formats must round-trip any
# pixel content; decoders must never raise anything but their typed error
# on arbitrary bytes (the corrupt->error-row contract's foundation) ---

from engine.multimodal import (  # noqa: E402
    AudioDecodeError,
    ImageDecodeError,
    decode_bmp,
    decode_gif,
    decode_png,
    decode_pnm,
    decode_wav,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_wav,
)
from engine.jpeg import JpegError, decode_jpeg  # noqa: E402


@given(
    st.integers(1, 12),
    st.integers(1, 9),
    st.sampled_from([1, 2, 3, 4]),
    st.integers(0, 2**32 - 1),
    st.integers(0, 4),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(w, h, channels, seed, ft):
    pix = bytes((seed + i * 31) % 256 for i in range(w * h * channels))
    assert decode_png(
        encode_png(w, h, channels, pix, filter_of_row=lambda r: (ft + r) % 5)
    ) == (w, h, channels, pix)


@given(st.integers(1, 12), st.integers(1, 9), st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(w, h, seed):
    pix = bytes((seed + i * 7) % 256 for i in range(w * h * 3))
    assert decode_bmp(encode_bmp(w, h, pix)) == (w, h, 3, pix)


@given(st.integers(1, 12), st.integers(1, 9), st.integers(1, 3),
       st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_gif_roundtrip_property(w, h, kbits, seed):
    n_colors = 1 << kbits
    pal = bytes((seed + i * 13) % 128 for i in range(3 * n_colors))
    ids = [(seed + i * i) % n_colors for i in range(w * h)]
    exp = b"".join(pal[i * 3 : i * 3 + 3] for i in ids)
    assert decode_gif(encode_gif(w, h, pal, ids)) == (w, h, 3, exp)


@given(st.integers(1, 200), st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(n, seed):
    samples = [((seed + i * 997) % 65536) - 32768 for i in range(n)]
    r, ch, m, ss = decode_wav(encode_wav(8000, 1, samples))
    assert (r, ch, m, ss) == (8000, 1, n, sum(s * s for s in samples))


@given(st.binary(max_size=512))
@settings(max_examples=300, deadline=None)
def test_decoders_raise_only_typed_errors_on_garbage(payload):
    """Arbitrary bytes (optionally prefixed with each format's magic) must
    produce the format's typed error or a decode — never struct.error,
    IndexError, zlib.error or friends leaking to the Spark stage."""
    for prefix, fn, err in (
        (b"\x89PNG\r\n\x1a\n", decode_png, ImageDecodeError),
        (b"BM", decode_bmp, ImageDecodeError),
        (b"GIF89a", decode_gif, ImageDecodeError),
        (b"\xff\xd8", decode_jpeg, JpegError),
        (b"RIFF\x00\x00\x00\x00WAVE", decode_wav, AudioDecodeError),
        (b"P6\n", decode_pnm, ImageDecodeError),
    ):
        try:
            fn(prefix + payload)
        except err:
            pass
