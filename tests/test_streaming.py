"""Structured Streaming: incremental extraction must (a) process only new
files per invocation (checkpointed AvailableNow), (b) produce bytes identical
to the batch pipeline over the union of all files."""

from __future__ import annotations

import os
import re

from fixtures.gen_pages import compute_goldens, gen_rows, write_parquet

from engine.streaming import incremental_extract


def _extracted_rows(rows) -> dict[str, tuple]:
    """url -> the whole extracted row (text, spans, counts, status)."""
    return {
        r["url"]: (
            r["extracted_text"],
            [
                {"block_id": s["block_id"], "start": s["start"],
                 "end": s["end"], "lang": s["lang"]}
                for s in (r["spans"] or [])
            ],
            r["n_blocks"],
            r["n_kept"],
            r["status"],
        )
        for r in rows
    }


def _extract_carriers(query) -> list[str]:
    """Carrier node of every Python map stage in the finished query's last
    executed plan, apart from the WARC parse stage."""
    plan = query._jsq.explainInternal(False)
    stages = re.findall(r"(MapIn(?:Arrow|Pandas)) (\w+)\(", plan)
    return [carrier for carrier, fn in stages if fn != "warc_parse_batches"]


def test_incremental_extract_matches_batch_goldens(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")
    os.makedirs(pages_dir)

    rows = gen_rows(60, seed=11)
    first, second = rows[:40], rows[40:]
    write_parquet(first, f"{pages_dir}/batch0.parquet")

    incremental_extract(spark, pages_dir, out_dir, cp_dir, run_id="s1")
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == 40

    # new files land; second invocation processes ONLY them
    write_parquet(second, f"{pages_dir}/batch1.parquet")
    query = incremental_extract(spark, pages_dir, out_dir, cp_dir, run_id="s2")
    assert _extract_carriers(query) == ["MapInArrow"]
    final = spark.read.parquet(out_dir)
    assert final.count() == 60
    assert final.filter("lineage = 's2'").count() == 20  # only the new files
    assert final.groupBy("url").count().filter("count > 1").count() == 0

    goldens = _extracted_rows(compute_goldens(rows))
    assert _extracted_rows(final.collect()) == goldens  # whole-row identity


def test_incremental_host_edges_folds_to_batch_graph(spark, tmp_path):
    """r7: the streaming link-graph twin — per-micro-batch edge DELTAS
    appended by incremental_host_edges, folded by watgraph.fold_edge_deltas,
    must equal the one-shot batch host_edges over all archives ever
    ingested (edge weights are additive counts), and domain_rank over the
    folded table equals the batch rank."""
    import gzip
    import os
    from datetime import datetime

    from engine import sources, watgraph
    from engine.session import release_local_checkpoint
    from engine.streaming import incremental_host_edges

    wat_dir = str(tmp_path / "wat")
    out_dir = str(tmp_path / "edges")
    cp_dir = str(tmp_path / "cp")
    ts = datetime(2026, 5, 1)
    rows1 = [
        ("https://a.example/1", ts,
         b'<html><a href="https://b.example/x">b</a>'
         b'<a href="https://b.example/y">b</a></html>'),
        ("https://b.example/2", ts,
         b'<html><a href="https://c.example/z">c</a></html>'),
    ]
    rows2 = [
        ("https://a.example/3", ts,
         b'<html><a href="https://b.example/w">b again</a></html>'),
        ("https://c.example/4", ts,
         b'<html><a href="https://a.example/back">a</a></html>'),
    ]
    sources.write_pages_wat(rows1, wat_dir)
    incremental_host_edges(spark, wat_dir, out_dir, cp_dir)
    blob = b"".join(
        gzip.compress(
            sources.encode_wat_record(
                u, t, sources.build_wat_payload(u, t, h)
            )
        )
        for u, t, h in rows2
    )
    with open(os.path.join(wat_dir, "part-late.warc.wat.gz"), "wb") as f:
        f.write(blob)
    incremental_host_edges(spark, wat_dir, out_dir, cp_dir)

    folded = watgraph.fold_edge_deltas(spark.read.parquet(out_dir))
    got = sorted(map(tuple, folded.collect()))
    batch = watgraph.host_edges(sources.read_pages_wat(spark, wat_dir))
    assert got == sorted(map(tuple, batch.collect()))
    # a.example -> b.example accumulated ACROSS batches: 2 + 1
    assert ("a.example", "b.example", 3.0) in got

    r_inc, ids1 = watgraph.domain_rank(folded, k=3)
    r_bat, ids2 = watgraph.domain_rank(batch, k=3)
    assert sorted(map(tuple, r_inc.collect())) == sorted(
        map(tuple, r_bat.collect())
    )
    release_local_checkpoint(spark, ids1 + ids2)


def test_incremental_host_edges_refuses_flat_sink(spark, tmp_path):
    """A pre-r8 sink holds its deltas as root-level parquet files. Resuming
    into it under the batch_id=<n> layout would leave a mixed directory
    that spark.read.parquet cannot partition-infer, so the call is refused
    before any query starts."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from engine import sources
    from engine.streaming import incremental_host_edges

    wat_dir = str(tmp_path / "wat")
    out_dir = tmp_path / "edges"
    cp_dir = tmp_path / "cp"
    sources.write_pages_wat(
        [("https://a.example/1", datetime(2026, 5, 1),
          b'<html><a href="https://b.example/x">b</a></html>')],
        wat_dir,
    )
    out_dir.mkdir()
    pq.write_table(
        pa.table({"src": ["a.example"], "dst": ["b.example"], "w": [1.0]}),
        str(out_dir / "part-00000.snappy.parquet"),
    )
    with pytest.raises(ValueError, match="Rebuild"):
        incremental_host_edges(spark, wat_dir, str(out_dir), str(cp_dir))
    assert not cp_dir.exists()
    assert sorted(p.name for p in out_dir.iterdir()) == [
        "part-00000.snappy.parquet"
    ]
