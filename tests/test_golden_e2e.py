"""Golden end-to-end: the Spark pipeline (both modes) must reproduce the
pure-Python oracle byte-for-byte per url (BASELINE.json correctness metric;
mirrors the reference's smoke STEP C end-to-end assertion,
``run_smoke_tests.py:197-220``, strengthened from existence/size to full
byte-identity)."""

from __future__ import annotations

import datetime
import gzip

import pytest

from engine import pipeline
from extraction.segment import CHUNK_CHARS
from fixtures.gen_pages import write_parquet


def _collect_results(df) -> dict[str, dict]:
    rows = df.collect()
    out = {}
    for r in rows:
        out[r["url"]] = {
            "extracted_text": r["extracted_text"],
            "spans": [
                {"block_id": s["block_id"], "start": s["start"], "end": s["end"], "lang": s["lang"]}
                for s in (r["spans"] or [])
            ],
            "n_blocks": r["n_blocks"],
            "n_kept": r["n_kept"],
            "status": r["status"],
        }
    return out


@pytest.mark.parametrize("mode", ["fused", "staged"])
def test_pipeline_matches_goldens(spark, pages_unit_path, goldens_unit, mode):
    pages = spark.read.parquet(pages_unit_path)
    extracted = pipeline.run_extract(pages, mode=mode, num_parts=5, run_id="t")
    got = _collect_results(extracted)

    assert len(got) == len(goldens_unit)  # full outer join semantics: same urls
    mismatches = []
    for g in goldens_unit:
        url = g["url"]
        assert url in got, f"missing url {url}"
        a = got[url]
        if a["extracted_text"] != g["extracted_text"]:
            mismatches.append((url, "text"))
        if a["spans"] != g["spans"]:
            mismatches.append((url, "spans"))
        if (a["n_blocks"], a["n_kept"], a["status"]) != (
            g["n_blocks"], g["n_kept"], g["status"],
        ):
            mismatches.append((url, "counts"))
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:5]}"


def _crafted_rows() -> list[dict]:
    """Edge pages the generated corpus lacks, each with the status the
    oracle gives it whether or not the fallback is on."""
    long_p = b"<p>" + b"main content words here " * 4 + b"</p>"
    giant = b"<p>" + b"lorem ipsum " * (CHUNK_CHARS // 6) + b"</p>"
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    return [
        {"url": f"crafted://{name}", "warc_ts": ts, "html": html, "text": "",
         "lang": lang, "status": status}
        for name, html, lang, status in (
            ("empty", b"", "en", "empty"),
            ("gzip", gzip.compress(long_p), "en", "ok"),
            # its kept block normalizes to empty: no relaxed pass
            ("ur-latin", long_p, "ur", "empty"),
            ("giant-block", giant, "", "ok"),
        )
    ]


@pytest.mark.parametrize("fallback", [False, True])
def test_staged_equals_fused(spark, pages_small_path, tmp_path, fallback):
    crafted = _crafted_rows()
    crafted_path = str(tmp_path / "crafted.parquet")
    write_parquet(crafted, crafted_path)
    pages = spark.read.parquet(pages_small_path).unionByName(spark.read.parquet(crafted_path))
    staged = _collect_results(
        pipeline.run_extract(pages, mode="staged", num_parts=7, fallback=fallback)
    )
    fused = _collect_results(
        pipeline.run_extract(pages, mode="fused", num_parts=3, fallback=fallback)
    )
    assert staged == fused
    assert [fused[r["url"]]["status"] for r in crafted] == [r["status"] for r in crafted]
    assert fused["crafted://giant-block"]["n_blocks"] > 1
    assert any(r["status"] == "fallback" for r in fused.values()) == fallback


def test_staged_local_plan_has_no_exchange(spark, pages_small_path):
    """The default staged plan must be fully partition-local: detect and
    assemble as mapInPandas, recognize as a scalar Arrow UDF over
    (text, lang) only (r8 — the carry columns stay JVM-side), zero
    Exchange — extracted text never crosses the wire (VERDICT r1 #1)."""
    pages = spark.read.parquet(pages_small_path)
    plan = pipeline.run_staged(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("MapInPandas") == 2, plan
    # exactly ONE Arrow eval: the nondeterministic marking must keep the
    # optimizer from duplicating recognize below the non-empty filter
    # (guide §4.4 — the duplicated form measured 21 s vs 8 s on the bench
    # corpus)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize("mode", ["fused", "staged"])
def test_fallback_ladder_matches_goldens(
    spark, pages_unit_path, goldens_unit_fallback, mode
):
    """O5 empty-result retry ladder (VERDICT r1 #2): every mode reproduces
    the fallback-enabled oracle byte-for-byte, and the ladder actually fires
    on the short-block fixture pages."""
    pages = spark.read.parquet(pages_unit_path)
    extracted = pipeline.run_extract(
        pages, mode=mode, num_parts=5, run_id="t", fallback=True
    )
    got = _collect_results(extracted)
    assert len(got) == len(goldens_unit_fallback)
    for g in goldens_unit_fallback:
        a = got[g["url"]]
        assert a["extracted_text"] == g["extracted_text"], g["url"]
        assert a["spans"] == g["spans"], g["url"]
        assert (a["n_blocks"], a["n_kept"], a["status"]) == (
            g["n_blocks"], g["n_kept"], g["status"],
        ), g["url"]
    assert sum(1 for g in goldens_unit_fallback if g["status"] == "fallback") >= 5


def test_blocks_intermediate_counts(spark, pages_unit_path, goldens_unit):
    """Stage-1 block counts agree with the oracle's n_blocks per url."""
    pages = spark.read.parquet(pages_unit_path)
    blocks = pipeline.detect(pages, num_parts=4)
    per_url = {
        r["url"]: r["n"]
        for r in blocks.filter("block_id >= 0").groupBy("url").count()
        .withColumnRenamed("count", "n").collect()
    }
    for g in goldens_unit:
        assert per_url.get(g["url"], 0) == g["n_blocks"]
