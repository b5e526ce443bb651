"""Single-thread pass over a fixed sample of a workload's rows, timing the
public calls of the ``extraction`` package from outside.

Each layer is timed as one loop over the whole sample, the way
``extraction.core.extract_document`` would call it: decode every page,
segment every decoded page, route every kept block, normalize every kept
block. A last loop times ``extract_document`` whole; what it spends beyond
the four loops is the orchestration layer (span building, dataclasses,
error handling). One clock read per loop keeps timer cost out of the
numbers.
"""

from __future__ import annotations

import time


def layer_pass(rows: list[dict]) -> dict:
    from extraction import extract_document
    from extraction.html_clean import decode_html
    from extraction.normalize import normalize_text
    from extraction.routing import block_route, doc_route
    from extraction.segment import segment_blocks

    clock = time.perf_counter
    t0 = clock()
    raws = [decode_html(r["html"]) for r in rows]
    t1 = clock()
    blocks = [segment_blocks(raw) for raw in raws]
    t2 = clock()
    kept = []
    for r, bs in zip(rows, blocks):
        droute = doc_route(r["lang"])
        kept += [(b.text, droute if droute is not None else block_route(b.text))
                 for b in bs if b.kept]
    t3 = clock()
    for text, route in kept:
        normalize_text(text, route)
    t4 = clock()
    for r in rows:
        extract_document(r["url"], r["html"], r["lang"])
    t5 = clock()

    n_blocks = sum(len(bs) for bs in blocks)
    html_bytes = sum(len(r["html"]) for r in rows)
    decode_s, segment_s, route_s, normalize_s = t1 - t0, t2 - t1, t3 - t2, t4 - t3
    return {
        "docs": len(rows),
        "html_bytes": html_bytes,
        "extract_document_s": t5 - t4,
        "decode_s": decode_s,
        "segment_s": segment_s,
        "segment_mb_per_s": html_bytes / 1e6 / segment_s if segment_s else 0.0,
        "route_s": route_s,
        "normalize_s": normalize_s,
        "orchestration_s": (t5 - t4) - (decode_s + segment_s + route_s + normalize_s),
        "blocks_per_doc": n_blocks / len(rows) if rows else 0.0,
        "kept_ratio": len(kept) / n_blocks if n_blocks else 0.0,
    }
