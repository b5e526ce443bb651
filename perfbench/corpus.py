"""Seeded benchmark inputs and their oracle digests, cached on disk.

Every corpus is built from ``fixtures.gen_pages.gen_rows`` and a seed, so the
same seed always gives the same pages. Next to the pages parquet :func:`load`
stores one digest per document, computed once with the pure-Python oracle
``extraction.extract_document`` (in background workers, while the caller
starts Spark); a timed run compares the Spark output with these digests
instead of recomputing the oracle.

A digest covers every output field the extraction contract fixes:
``extracted_text``, ``spans``, ``n_blocks``, ``n_kept`` and ``status``.
:func:`digest_column` computes the same digest inside Spark, so only
``(url, digest)`` pairs ever reach the Spark driver.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil

SEP = "\x1f"   # field separator inside a digest
NULL = "\x00"  # stands for a NULL text/status/spans in the Spark output


def _digest_fields(text: str, spans, n_blocks: int, n_kept: int, status: str) -> str:
    span_str = ";".join(f"{s.block_id},{s.start},{s.end},{s.lang}" for s in spans)
    payload = SEP.join([text, span_str, str(n_blocks), str(n_kept), status])
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def oracle_digest(row: dict) -> tuple[str, str]:
    """(url, digest) of the oracle extraction of one page row."""
    from extraction import extract_document

    r = extract_document(row["url"], row["html"], row["lang"])
    return r.url, _digest_fields(r.extracted_text, r.spans, r.n_blocks, r.n_kept, r.status)


def _oracle_chunk(rows: list[dict]) -> list[tuple[str, str]]:
    return [oracle_digest(r) for r in rows]


class Oracle:
    """url -> digest for a list of rows, computed by ``procs`` spawned
    workers in the background and saved to ``path`` once :meth:`get` has
    collected it. Small inputs are digested in this process; ``rows=None``
    reads the digests saved by an earlier run."""

    def __init__(self, rows: list[dict] | None, procs: int, path: str) -> None:
        self.path = path
        self._pool = self._result = self._done = None
        if rows is None:
            with open(path, encoding="utf-8") as f:
                self._done = json.load(f)
        elif procs <= 1 or len(rows) < 1000:
            self._save(dict(_oracle_chunk(rows)))
        else:
            chunks = [rows[i::procs * 4] for i in range(procs * 4)]
            self._pool = multiprocessing.get_context("spawn").Pool(procs)
            self._result = self._pool.map_async(_oracle_chunk, chunks)

    def _save(self, digests: dict[str, str]) -> None:
        tmp = f"{self.path}.tmp-{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(digests, f)
        os.replace(tmp, self.path)
        self._done = digests

    def get(self) -> dict[str, str]:
        if self._done is None:
            try:
                parts = self._result.get()
            finally:
                self._pool.close()
                self._pool.join()
            self._save({u: d for part in parts for u, d in part})
        return self._done


def digest_column(df):
    """Spark column: the same digest as :func:`_digest_fields`, per row."""
    from pyspark.sql import functions as F

    spans = F.when(F.col("spans").isNull(), F.lit(NULL)).otherwise(
        F.concat_ws(
            ";",
            F.expr(
                "transform(spans, s -> concat_ws(',', s.block_id, s.start, s.`end`, s.lang))"
            ),
        )
    )
    return F.sha2(
        F.concat_ws(
            SEP,
            F.coalesce(F.col("extracted_text"), F.lit(NULL)),
            spans,
            F.col("n_blocks").cast("string"),
            F.col("n_kept").cast("string"),
            F.coalesce(F.col("status"), F.lit(NULL)),
        ),
        256,
    )


def count_failed(got: list[tuple[str, str, str]], want: dict[str, str]) -> int:
    """Docs of ``want`` that are missing from ``got``, error rows, or differ
    from the oracle; plus every output row ``want`` does not expect.

    ``got`` holds ``(url, digest, status)`` triples read from the output."""
    seen: dict[str, int] = {}
    failed = 0
    for url, dig, status in got:
        seen[url] = seen.get(url, 0) + 1
        if url not in want:
            failed += 1  # a row nobody asked for
        elif seen[url] > 1 or dig != want[url] or (status or "").startswith("error:"):
            failed += 1
    failed += sum(1 for u in want if u not in seen)
    return failed


# --- corpora --------------------------------------------------------------

def _write_pages(rows: list[dict], path: str) -> None:
    from fixtures.gen_pages import write_parquet

    write_parquet(rows, path)


def _small_rows(n: int, seed: int) -> list[dict]:
    """The gen_pages templates without the pathological kind (doc_id % 10 == 9:
    giant, malformed and empty pages)."""
    from fixtures.gen_pages import gen_rows

    n_gen = n + n // 9 + 10
    return [r for i, r in enumerate(gen_rows(n_gen, seed)) if i % 10 != 9][:n]


def _build_skewed(d: str, seed: int, size: dict):
    """``gen_rows`` as-is, written as ``size["files"]`` parquet files of
    near-equal bytes. Spark makes one scan task per file, so no task is
    handed more bytes than another by the luck of the seed; with the
    default layout the byte imbalance between tasks, and so the job time,
    moved by about 10% from seed to seed."""
    import heapq

    from fixtures.gen_pages import gen_rows, write_parquet

    rows = gen_rows(size["docs"], seed)
    bins = [(0, i, []) for i in range(size["files"])]
    for idx in sorted(range(len(rows)), key=lambda i: -len(rows[i]["html"])):
        n_bytes, i, members = heapq.heappop(bins)
        members.append(idx)
        heapq.heappush(bins, (n_bytes + len(rows[idx]["html"]), i, members))
    os.makedirs(os.path.join(d, "pages"))
    for _, i, members in bins:
        part = [rows[j] for j in sorted(members)]
        write_parquet(part, os.path.join(d, "pages", f"part-{i:04d}.parquet"), files=1)
    return {
        "pages": "pages",
        "docs": len(rows),
        "html_bytes": sum(len(r["html"]) for r in rows),
    }, rows


def _build_resume(d: str, seed: int, size: dict):
    """Base table pages plus an increment whose first half is already in the
    base (the resume anti-join must skip it) and whose second half is new."""
    base_n, inc_n = size["base"], size["incoming"]
    rows = _small_rows(base_n + inc_n // 2, seed)
    base = rows[:base_n]
    incoming = rows[base_n - inc_n // 2:]
    _write_pages(base, os.path.join(d, "base"))
    _write_pages(incoming, os.path.join(d, "incoming"))
    new = rows[base_n:]
    return {
        "base": "base",
        "incoming": "incoming",
        "docs": len(incoming),
        "base_docs": len(base),
        "new_docs": len(new),
        "base_urls": [r["url"] for r in base],
        "incoming_urls": [r["url"] for r in incoming],
        "html_bytes": sum(len(r["html"]) for r in incoming),
    }, base + new


KINDS = {"skewed": _build_skewed, "resume": _build_resume}


def load(cache: str, kind: str, seed: int, size: dict, procs: int):
    """Build (or reuse) the corpus ``kind`` for ``seed`` at ``size``.

    Returns ``(manifest, oracle)``: the manifest with absolute paths, and an
    object whose ``get()`` returns the url -> digest map (from the cache, or
    once the background oracle workers finish). The cache key is
    (kind, seed, size); a half-written entry is never reused."""
    key = "-".join([kind, f"s{seed}"] + [f"{k}{v}" for k, v in sorted(size.items())])
    d = os.path.join(cache, "inputs", key)
    manifest_path = os.path.join(d, "manifest.json")
    oracle_path = os.path.join(d, "oracle.json")
    rows = None
    if not os.path.exists(oracle_path):
        tmp = f"{d}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest, rows = KINDS[kind](tmp, seed, size)
        with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(manifest_path, encoding="utf-8") as f:
        manifest = json.load(f)
    for k in ("pages", "base", "incoming"):
        if k in manifest:
            manifest[k] = os.path.join(d, manifest[k])
    return manifest, Oracle(rows, procs, oracle_path)


def sample_rows(kind: str, seed: int, n: int) -> list[dict]:
    """The first ``n`` rows of the corpus, regenerated (cheap, deterministic)
    for the single-thread layer pass. ``unhinted`` is the small-doc rows with
    no lang hint, so routing runs ``block_route`` on every block."""
    from fixtures.gen_pages import gen_rows

    if kind == "skewed":
        return gen_rows(n, seed)
    if kind == "unhinted":
        return [{**r, "lang": None} for r in _small_rows(n, seed)]
    return _small_rows(n, seed)
