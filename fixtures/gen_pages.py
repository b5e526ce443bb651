"""Deterministic synthetic Common-Crawl-style ``pages`` fixture generator.

Shape fixed by BASELINE.json ``input_hint``:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Template mix per FIXTURES.md §1.1, mirroring the reference's input diversity
(its two sample pages + 22 crops, ``/root/reference/sample_inputs``): article,
link-farm, multi-section, RTL/mixed-script, pathological (giant / malformed /
empty). Single ``random.Random(seed)`` consumed in doc_id order; timestamps
derived from doc_id (no wall clock) — FIXTURES.md §5.

Goldens are produced by the pure-Python oracle ``extraction.extract_document``
and written as JSONL by ``--write-goldens``; the Spark pipeline must match
them byte-for-byte per url.

Usage:
    python -m fixtures.gen_pages --n 64 --out /tmp/pages --write-goldens fixtures/goldens/sf_unit.jsonl
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import random

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

_WORDS = (
    "data spark table query batch column row scan filter join shuffle "
    "partition block text page content article crawl extract engine "
    "vector stream window order value hash index merge plan cost "
    "schema byte token corpus sample signal measure result output"
).split()

_AR_WORDS = (
    "السلام علیکم دنیا خوش آمدید کتاب علم روشنی دریا پہاڑ شہر "
    "زبان لفظ جملہ صفحہ متن تحریر خبر وقت سال دن"
).split()

_NAV_LINKS = ["home", "about", "blog", "contact", "archive", "topics", "login"]


def _sentence(rng: random.Random, lo: int = 8, hi: int = 18) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    s = " ".join(words).capitalize() + "."
    # occasional entities + typographic punctuation (decoded during parse)
    r = rng.random()
    if r < 0.08:
        s = s.replace(" ", " &amp; ", 1).replace(" ", " &lt;tag&gt; ", 1)
    elif r < 0.12:
        s = "&#8220;" + s + "&#8221; &mdash; &copy;"
    return s


def _ar_sentence(rng: random.Random, lo: int = 6, hi: int = 14) -> str:
    n = rng.randint(lo, hi)
    return " ".join(rng.choice(_AR_WORDS) for _ in range(n)) + "۔"


def _nav(rng: random.Random) -> str:
    links = rng.sample(_NAV_LINKS, k=rng.randint(3, 6))
    return "<nav>" + " ".join(f'<a href="/{w}">{w}</a>' for w in links) + "</nav>"


def _footer(rng: random.Random) -> str:
    return (
        '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a> '
        f"<span>© 20{rng.randint(20, 26)} example</span></footer>"
    )


def _ads(rng: random.Random) -> str:
    out = []
    for _ in range(rng.randint(1, 3)):
        links = " ".join(
            f'<a href="/ad{j}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a>'
            for j in range(rng.randint(2, 5))
        )
        out.append(f'<div class="ad">{links}</div>')
    return "".join(out)


def _article(rng: random.Random) -> str:
    n_p = rng.randint(3, 12)
    paras = "".join(f"<p>{_sentence(rng)} {_sentence(rng)}</p>" for _ in range(n_p))
    return f"{_nav(rng)}<article><h1>{_sentence(rng, 3, 6)}</h1>{paras}</article>{_ads(rng)}{_footer(rng)}"


def _link_farm(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/l{j}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a></li>'
        for j in range(rng.randint(10, 30))
    )
    body = f"{_nav(rng)}<ul>{items}</ul>"
    if rng.random() < 0.5:
        body += f"<p>{_sentence(rng)} {_sentence(rng)} {_sentence(rng)}</p>"
    return body + _footer(rng)


def _multi_section(rng: random.Random) -> str:
    rows = "".join(
        f"<tr><td>{_sentence(rng, 4, 8)}</td><td>{_sentence(rng, 4, 8)}</td></tr>"
        for _ in range(rng.randint(2, 5))
    )
    return (
        f"{_nav(rng)}<h1>{_sentence(rng, 3, 6)}</h1>"
        f"<section><h2>{_sentence(rng, 3, 5)}</h2><p>{_sentence(rng)} {_sentence(rng)}</p></section>"
        f"<table>{rows}</table>"
        f"<blockquote>{_sentence(rng)} {_sentence(rng)}</blockquote>"
        f"<div><div><p>{_sentence(rng)}</p></div></div>{_footer(rng)}"
    )


def _rtl_page(rng: random.Random) -> str:
    paras = []
    for _ in range(rng.randint(2, 6)):
        s = _ar_sentence(rng) + " " + _ar_sentence(rng)
        if rng.random() < 0.5:
            s += " ااا ببب"           # consecutive-duplicate exercise
        if rng.random() < 0.5:
            s += " noise123 @@@"      # stray ASCII noise for the keep-set
        if rng.random() < 0.3:
            s += " می‌خواهم"     # ZWNJ preservation
        paras.append(f"<p>{s}</p>")
    return f"{_nav(rng)}<article>{''.join(paras)}</article>{_footer(rng)}"


def _pathological(rng: random.Random, doc_id: int) -> str:
    kind = doc_id % 3
    if kind == 0:  # giant page: repeated content blocks, 0.5–2 MB
        para = f"<p>{_sentence(rng)} {_sentence(rng)} {_sentence(rng)}</p>"
        reps = rng.randint(600, 2400)
        return f"{_nav(rng)}<article>{para * reps}</article>{_footer(rng)}"
    if kind == 1:  # malformed: unclosed tags, bare &, comments, CDATA
        return (
            f"{_nav(rng)}<div><p>{_sentence(rng)} fish & chips {_sentence(rng)}"
            f"<!-- comment --><p>{_sentence(rng)}"
            f"<![CDATA[ raw ]]><div><span>{_sentence(rng)}"
        )
    return "<html><body>   \n\t  </body></html>"  # whitespace-only body


_TEMPLATES = {
    0: _article, 1: _article, 2: _article, 3: _article, 4: _article,
    5: _link_farm, 6: _link_farm,
    7: _multi_section,
    8: _rtl_page,
}

_LANG_WHEEL = (
    ["en"] * 70 + ["ar"] * 5 + ["ur"] * 5 + ["de"] * 5 + ["es"] * 5
    + ["zh"] * 5 + [""] * 3 + [None] * 2
)


def gen_rows(n: int, seed: int = 42) -> list[dict]:
    """Generate n deterministic page rows (plain dicts, parquet-ready)."""
    rng = random.Random(seed)
    rows = []
    for doc_id in range(n):
        t = doc_id % 10
        lang = _LANG_WHEEL[rng.randrange(len(_LANG_WHEEL))]
        if t == 8:
            lang = rng.choice(["ar", "ur", "", None])
        if t == 9:
            body = _pathological(rng, doc_id)
        else:
            body = _TEMPLATES[t](rng)
        charset = "utf-8"
        html_doc = f'<html><head><meta charset="{charset}"><title>doc {doc_id}</title></head><body>{body}</body></html>'
        data = html_doc.encode("utf-8")
        # ~3% non-UTF8 declared subset to exercise the decode ladder
        # (FIXTURES.md §1): latin-1 and windows-1252 (€/™ are cp1252-only)
        if t in (0, 1) and rng.random() < 0.06 and lang == "en":
            cs, py_codec, extra = (
                ("latin-1", "latin-1", " café naïve")
                if rng.random() < 0.5
                else ("windows-1252", "cp1252", " café €9.99 engine™")
            )
            html_cs = html_doc.replace('charset="utf-8"', f'charset="{cs}"')
            html_cs = html_cs.replace("</h1>", extra + "</h1>", 1)
            try:
                data = html_cs.encode(py_codec)
            except UnicodeEncodeError:
                data = html_doc.encode("utf-8")
        s = doc_id % 97
        rows.append(
            {
                "url": f"https://site{s:03d}.example/p/{doc_id:06d}",
                "warc_ts": EPOCH + dt.timedelta(seconds=doc_id * 137),
                "html": data,
                "text": " ".join(html_doc.split()),
                "lang": lang,
            }
        )
    return rows


def _to_table(rows: list[dict]):
    import pyarrow as pa

    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )


def write_parquet(rows: list[dict], out_path: str, files: int | None = None) -> None:
    """Write rows as parquet. Small corpora -> one file; larger corpora ->
    a multi-file dataset directory so the Spark scan parallelizes (one
    single-row-group file = one unsplittable task — the serial-scan trap)."""
    import os

    import pyarrow.parquet as pq

    if files is None:
        files = 1 if len(rows) <= 2000 else min(128, max(32, len(rows) // 625))
    if files <= 1:
        pq.write_table(_to_table(rows), out_path)
        return
    os.makedirs(out_path, exist_ok=True)
    chunk = (len(rows) + files - 1) // files
    for i in range(files):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            pq.write_table(_to_table(part), f"{out_path}/part-{i:04d}.parquet")


def compute_goldens(rows: list[dict], fallback: bool = False) -> list[dict]:
    from extraction import extract_document

    out = []
    for r in rows:
        res = extract_document(r["url"], r["html"], r["lang"], fallback)
        out.append(
            {
                "url": res.url,
                "extracted_text": res.extracted_text,
                "spans": [s._asdict() for s in res.spans],
                "n_blocks": res.n_blocks,
                "n_kept": res.n_kept,
                "status": res.status,
            }
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True, help="output parquet file path")
    ap.add_argument("--write-goldens", default=None, help="golden JSONL path")
    ap.add_argument(
        "--write-goldens-fallback",
        default=None,
        help="golden JSONL path with the O5 fallback ladder enabled",
    )
    args = ap.parse_args()

    rows = gen_rows(args.n, args.seed)
    write_parquet(rows, args.out)
    print(f"wrote {len(rows)} pages -> {args.out}")
    for path, fb in ((args.write_goldens, False), (args.write_goldens_fallback, True)):
        if not path:
            continue
        goldens = compute_goldens(rows, fallback=fb)
        with open(path, "w", encoding="utf-8") as f:
            for g in goldens:
                f.write(json.dumps(g, ensure_ascii=False) + "\n")
        print(f"wrote goldens{' (fallback)' if fb else ''} -> {path}")


if __name__ == "__main__":
    main()
