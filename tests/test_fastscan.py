"""Differential tests: the fast scanner path must produce EXACTLY the same
block list as the stdlib HTMLParser path on every document class we process
(fixtures, hypothesis-generated markup, hand-written edge cases)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from extraction.segment import segment_blocks
from fixtures.gen_pages import gen_rows


def _same(html: str) -> None:
    assert segment_blocks(html, "fast") == segment_blocks(html, "stdlib"), html


EDGE_CASES = [
    "",
    "plain text with no tags at all, long enough to matter here",
    "<p>fish &amp; chips &lt;3 &#65; &#x42; &unknown; &amp</p>",
    "<p>a < b and c > d</p>",
    '<p class="x>y">quoted gt inside attribute value stays inside</p>',
    "<p a='v1' b=\"v2\" c=unquoted>mixed attribute quoting here</p>",
    "<br/><img src=x/><p>self closing flavors</p><hr />",
    "<script>var x = '<div>not a tag</div>';</script><p>after script</p>",
    "<style>p::before{content:'<'}</style><p>after style</p>",
    "<SCRIPT>UPPER</SCRIPT><P>case insensitive</P>",
    "<!-- comment with <p>tag</p> inside --><p>after comment</p>",
    "<!DOCTYPE html><p>after doctype</p>",
    "<![CDATA[ raw <p>stuff</p> ]]><p>after cdata</p>",
    "<?php echo '<p>hi</p>'; ?><p>after pi</p>",
    "<div><p>unclosed everything",
    "<p>truncated tag at eof <a href=",
    "<p>bogus </ endtag></p>",
    "<p>entity at end &",
    "<p>ااا عربي &amp; more</p>",
    "< notatag><p>leading bare lt</p>",
    "<p>double<<p>lt</p>",
    "<script>never closed",
    "<p>a</p foo='bar'><div>endtag with attrs</div>",
    # unquoted attribute values whose trailing '/' is NOT self-closing
    # (ADVICE r1 high: fast path flipped the keep decision on these)
    "<a href=/x/>text inside a real anchor element here</a> tail",
    "<a href=/x/ >spaced unquoted value then close</a>",
    "<a href=/>bare slash value</a>",
    "<a href= />slash value after spaced equals</a>",
    "<a href = /wiki/Main_Page/>spaces around equals</a>",
    "<a href==/x/>double equals then unquoted slash value</a>",
    "<a href=x=y/>equals inside unquoted value</a>",
    '<a href=a"b/>quote inside unquoted value</a>',
    # '/' that IS self-closing (value ended by quote/space/name rules)
    '<a href="/x"/>after-quote slash self-closes',
    "<a href=x />value then space then slash self-closes",
    "<input checked/><a b/>boolean attr then slash self-closes</a>",
    "<a b/c>slash between boolean attrs is skipped</a>",
    "<br / >spaced lone slash is a plain start tag",
    # marked sections whose keyword is no name token: the stdlib parser
    # raised on these until the segmenter skipped them like fastscan
    "<p>" + "a" * 33 + " <![ x]> " + "b" * 36 + "</p>",
    "<![1]>",
]


@pytest.mark.parametrize("html", EDGE_CASES)
def test_fast_matches_stdlib_edge_cases(html):
    _same(html)


def test_fast_matches_stdlib_on_fixture_corpus():
    from extraction.html_clean import decode_html

    for r in gen_rows(300, seed=3):
        _same(decode_html(r["html"]))


def test_fast_matches_stdlib_on_bench_sample():
    try:
        rows = duckdb.sql(
            "select html from read_parquet("
            "'/tmp/spark_graft_bench_pages_20000_v4.parquet/*.parquet') limit 500"
        ).fetchall()
    except Exception:
        pytest.skip("bench corpus not generated")
    from extraction.html_clean import decode_html

    for (h,) in rows:
        _same(decode_html(h))


# Equivalence domain: markup whose tags are well-formed-ish (no stray quote
# directly inside a tag head — there stdlib invents pathological tag names
# like 'a"<' that the fast scanner deliberately does not reproduce; the fast
# path is still deterministic and never raises there, asserted separately).
_markup = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from("<>&;/!?\"'-— ااب‌"),
    ),
    max_size=300,
).map(lambda t: t.replace("<", "&lt;"))


@given(_markup)
@settings(max_examples=500, deadline=None)
def test_fast_matches_stdlib_hypothesis(text):
    _same(f"<div><p>{text}</p><a href='x'>{text[:40]}</a>{text}</div>")


# Unquoted attribute values (stdlib: (?!['"])[^>\s]* after '='); slashes and
# equals inside the value must not flip start/startend classification.
_uv = st.text(
    alphabet=st.characters(
        min_codepoint=0x21, max_codepoint=0x7E, exclude_characters=">\"'"
    ),
    min_size=1,
    max_size=20,
)


@given(_uv, _uv, _markup)
@settings(max_examples=300, deadline=None)
def test_fast_matches_stdlib_unquoted_attrs(v1, v2, text):
    _same(
        f"<div><a href={v1}>{text}</a><p data-x={v2} >{text[:60]}</p>"
        f"<img src={v1}/><a href={v2}/>{text}</div>"
    )


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_fast_never_raises_and_deterministic(text):
    html = f"<p>{text}<a {text}>x</a></p>"
    a = segment_blocks(html, "fast")
    b = segment_blocks(html, "fast")
    assert a == b
