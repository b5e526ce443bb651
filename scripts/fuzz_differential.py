"""Extended differential fuzz — deeper than the per-commit pytest budgets.

Drives tens of thousands of hypothesis-generated markup samples through the
fast scanner vs the stdlib reference parser (byte-identity invariant,
CLAUDE.md) and thousands of random byte payloads through extract_document
(never raises; corrupt input → status rows). Over both the markup and the
raw-bytes payloads it also checks the extractor's orchestration:
extract_document equals the per-block route_lang + normalize_text
composition (``tests.test_properties.reference_extract``), and the LTR
normalization is the identity on every block text either engine emits.
The per-commit suite runs 300-500 examples per property; this is the
long-soak version for pre-release confidence (the r1 fast-scanner bug lived
exactly in the under-fuzzed unquoted-attribute space).

    python scripts/fuzz_differential.py [--examples 10000] [--payloads 5000]
"""

from __future__ import annotations

import argparse
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=10000)
    ap.add_argument("--payloads", type=int, default=5000)
    args = ap.parse_args()

    from hypothesis import HealthCheck, given, settings, strategies as st

    import extraction
    import tests.test_fastscan as tf
    import tests.test_properties as tp
    from extraction.html_clean import decode_html
    from extraction.segment import segment_blocks

    checked = [0]
    opts = dict(deadline=None, suppress_health_check=list(HealthCheck))

    @given(tf._markup)
    @settings(max_examples=args.examples, **opts)
    def fuzz_markup(html: str) -> None:
        fast = segment_blocks(html, engine="fast")
        std = segment_blocks(html, engine="stdlib")
        assert [(b.tag, b.text, b.n_chars, b.n_link_chars, b.kept) for b in fast] == [
            (b.tag, b.text, b.n_chars, b.n_link_chars, b.kept) for b in std
        ], html
        checked[0] += 1

    @given(tf._uv, tf._uv, tf._markup)
    @settings(max_examples=args.examples, **opts)
    def fuzz_unquoted(v1: str, v2: str, html: str) -> None:
        doc = f"<a href={v1} title={v2}>{html}</a>"
        fast = segment_blocks(doc, engine="fast")
        std = segment_blocks(doc, engine="stdlib")
        assert [(b.text, b.n_link_chars, b.kept) for b in fast] == [
            (b.text, b.n_link_chars, b.kept) for b in std
        ]
        checked[0] += 1

    @given(tf._markup, tp._langs, st.booleans())
    @settings(max_examples=args.examples, **opts)
    def fuzz_orchestration(html: str, lang, fallback: bool) -> None:
        got = extraction.extract_document("u", html, lang, fallback)
        assert got == tp.reference_extract("u", html, lang, fallback), html
        tp.assert_ltr_identity(html)
        checked[0] += 1

    fuzz_markup()
    fuzz_unquoted()
    fuzz_orchestration()
    print(f"differential fuzz: {checked[0]} cases, fast == stdlib, "
          "extract_document == per-block composition")

    rng = random.Random(7)
    for i in range(args.payloads):
        payload = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 2000)))
        lang = rng.choice(["en", "ar", "", None, "xx"])
        fallback = bool(i % 2)
        r = extraction.extract_document(f"u{i}", payload, lang, fallback)
        assert r.status is not None
        assert r == tp.reference_extract(f"u{i}", payload, lang, fallback), i
        # the stdlib parser raises on some raw bytes; extraction uses "fast"
        tp.assert_ltr_identity(decode_html(payload), engines=("fast",))
    print(f"raw-bytes fuzz: {args.payloads} payloads, zero raises, "
          "extract_document == per-block composition")


if __name__ == "__main__":
    main()
