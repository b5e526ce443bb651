"""Mirror of the driver's correctness gate: run every ``queries()`` entry on
Spark and its ``oracle_sql()`` twin on DuckDB over the same sf0.001 parquet
(the fast-pathed queries also at larger scale factors), compare row count,
column names, and order-insensitive values."""

from __future__ import annotations

import glob
import json
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata not present"
)


def _duck_conn(sf_dir):
    con = duckdb.connect()
    for name in entry_mod._TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    return str(v)


def _canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_value(r[i]) for i in idx) for r in rows)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"url", "extracted_text", "status"} <= set(df.columns)


def test_hll_sketch_within_tolerance(spark):
    """HLL coverage: approx_count_distinct sketches are engine-specific, so
    the CORRECTNESS row now uses the deterministic KMV estimator instead
    (exact cross-engine match); the HLL operator itself stays pinned here —
    the estimate must sit within its published ~2.3% rsd (10% margin)."""
    entry_mod._load(spark, SF_DIR, "events")
    rows = spark.sql(
        "SELECT event_type, approx_count_distinct(user_id) AS a, "
        "count(DISTINCT user_id) AS e FROM events GROUP BY event_type"
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.a - r.e) <= max(2, 0.1 * r.e), r


# Queries whose Spark execution is not their oracle's construction (Arrow/
# NumPy passes, single-pass dedup tallies) are also checked at sf0.01, and
# embedding_topk at sf0.1.
_FAST_PATHED = [
    "minhash_signatures", "simhash_fingerprint", "embedding_topk",
    "ann_ivf_topk", "ann_ivf_topk_trained", "ann_ivf_topk_trained_hr",
    "substring_dedup", "paragraph_dedup",
]
_ORACLE_CASES = (
    [pytest.param(n, SF_DIR, id=n) for n in sorted(entry_mod.queries())]
    + [pytest.param(n, "/root/testdata/sf0.01", id=f"{n}-sf0.01") for n in _FAST_PATHED]
    + [pytest.param("embedding_topk", "/root/testdata/sf0.1", id="embedding_topk-sf0.1")]
)


@pytest.mark.parametrize("name, sf_dir", _ORACLE_CASES)
def test_query_matches_oracle(spark, name, sf_dir):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        assert len(spark_rows) >= 0  # rows-only check
        return

    con = _duck_conn(sf_dir)
    res = con.execute(oracles[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _canon_rows(spark_cols, spark_rows)
    b = _canon_rows(duck_cols, duck_rows)
    mismatch = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mismatch, (
        f"{name}: {len(mismatch)} value mismatches, first: "
        f"{a[mismatch[0]]} vs {b[mismatch[0]]}"
    )


def test_sequence_pack_conservation_invariants(spark):
    """Packing algebra: per document the span rows partition its tokens
    exactly (doc_offsets contiguous from 0, spans sum to n_toks); per
    (lang, shard, seq_id) positions never exceed the pack length; and
    every non-final sequence in a shard is exactly full."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    rows = em.queries()["sequence_pack"](spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    n_toks = {r["doc_id"]: len(r["text"].split(" ")) for r in docs}

    by_doc = {}
    seq_fill = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
        key = (r["lang"], r["shard"], r["seq_id"])
        seq_fill[key] = seq_fill.get(key, 0) + r["n_span_toks"]
        assert 0 <= r["seq_pos"] < 128
        assert r["seq_pos"] + r["n_span_toks"] <= 128

    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r["doc_offset"])
        assert spans[0]["doc_offset"] == 0
        total = 0
        for s in spans:
            assert s["doc_offset"] == total  # contiguous, no gaps/overlaps
            total += s["n_span_toks"]
        assert total == n_toks[doc_id], doc_id

    # all but the last sequence of each (lang, shard) are exactly full
    last_seq = {}
    for lang, shard, seq in seq_fill:
        k = (lang, shard)
        last_seq[k] = max(last_seq.get(k, -1), seq)
    for (lang, shard, seq), fill in seq_fill.items():
        if seq < last_seq[(lang, shard)]:
            assert fill == 128, (lang, shard, seq, fill)


def test_gate_rotation_keeps_evidence_window_covered():
    """VERDICT r8 #5: the driver's CORRECTNESS artifact samples the FIRST
    50 registry entries, so every query must be either in a committed
    CORRECTNESS_r*.json or inside that window — a query in neither is never
    checked by the driver. The two registries stay order-aligned."""
    import __spark_entry__ as em

    q = list(em.queries())
    assert q == list(em.oracle_sql())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gated: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as f:
            gated |= set(json.load(f))
    window = set(q[:50])
    missing = [k for k in q if k not in gated and k not in window]
    assert not missing, f"never driver-gated: {missing}"
