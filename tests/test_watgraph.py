"""engine/watgraph — host link-graph over WAT outlinks (VERDICT r6 #3).

Pins: (1) domain_rank(k=3, d=0.85) over the registry's own edge
construction is ROW-EQUAL to the oracled ``domain_rank`` query's
(host, rank_r); (2) the iterative loop cuts lineage every round (the
returned frame's plan is a checkpoint scan, independent of K) and leaves
ZERO residual persisted RDDs after the caller releases; (3) host_edges
round-trips a written WAT archive into the expected weighted host graph.
"""

from __future__ import annotations

import pytest

from engine import sources, watgraph
from engine.session import release_local_checkpoint

SF = "/root/testdata/sf0.001"


def _registry_edges(spark):
    """The oracled query's e-CTE construction, as a DataFrame — feeding the
    twin the exact oracle edge table isolates the RANK recurrence pin from
    host-extraction differences (parse_url vs split_part)."""
    import __spark_entry__ as em

    links = em._wat_links_df(spark, SF).selectExpr(
        f"{em._DOMAIN_RANK_SRC} AS src", "target"
    )
    return (
        links.where("target LIKE 'https://%'")
        .selectExpr("src", "split_part(substring(target, 9), '/', 1) AS dst")
        .where("src <> dst")
        .groupBy("src", "dst")
        .count()
        .selectExpr("src", "dst", "CAST(count AS DOUBLE) AS w")
    )


def test_domain_rank_row_equal_to_oracled_query(spark):
    import __spark_entry__ as em

    want = sorted(
        (r["host"], r["rank_r"])
        for r in em.queries()["domain_rank"](spark, SF).collect()
    )
    ranks, ids = watgraph.domain_rank(_registry_edges(spark), k=3, d=0.85)
    got = sorted((r["host"], r["rank_r"]) for r in ranks.collect())
    release_local_checkpoint(spark, ids)
    assert got == want
    assert len(got) == len({h for h, _ in got})  # one row per host
    # probability mass sanity: the leaky variant only ever LOSES mass
    # (dangling hosts absorb), so total stays in (teleport-mass, 1]
    total = sum(v for _, v in got)
    assert 0.15 - 1e-6 < total <= 1.0 + 1e-6, total


def test_domain_rank_lineage_cut_and_zero_residual_persists(spark):
    sc = spark.sparkContext
    edges = _registry_edges(spark)

    def persisted():
        return {
            int(i)
            for i in sc._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = persisted()
    r2, ids2 = watgraph.domain_rank(edges, k=2)
    r5, ids5 = watgraph.domain_rank(edges, k=5)
    # lineage is cut every round: the returned frame reads its checkpoint,
    # so the plan does NOT grow with K — no Join anywhere above the scan
    p2 = r2._jdf.queryExecution().executedPlan().toString()
    p5 = r5._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p2 and "Join" not in p5, p5
    assert "Scan ExistingRDD" in p5, p5
    # ranks still readable (the final checkpoint is retained for the caller)
    assert r5.count() == r2.count() > 0
    # the contract releases everything: k rounds leave only the final
    # checkpoint per call, and releasing it returns to the baseline
    mid = persisted() - before
    assert len(mid) == len(ids2) + len(ids5)  # intermediates already freed
    release_local_checkpoint(spark, ids2 + ids5)
    assert persisted() - before == set()


def test_domain_rank_converges_toward_fixed_point(spark):
    """More rounds move the iterate monotonically closer to the K=12
    near-fixed-point — the recurrence is actually iterating, not echoing
    its input."""
    edges = _registry_edges(spark)
    ranks = {}
    ids_all = []
    for k in (1, 3, 12):
        df, ids = watgraph.domain_rank(edges, k=k)
        ranks[k] = {r["host"]: r["rank_r"] for r in df.collect()}
        ids_all += ids
    release_local_checkpoint(spark, ids_all)

    def dist(a, b):
        return sum(abs(a[h] - b[h]) for h in a)

    assert dist(ranks[3], ranks[12]) < dist(ranks[1], ranks[12])


def test_host_edges_from_wat_roundtrip(spark, tmp_path):
    """WAT archives written by the engine, read back, reduced to the host
    graph: absolute links only, hosts lowercased, self-edges dropped,
    weights = link counts."""
    from datetime import datetime

    ts = datetime(2026, 2, 1)
    rows = [
        (
            "https://A.example/p1",
            ts,
            b'<html><body><a href="https://b.example/x">b</a>'
            b'<a href="https://b.example/y">b2</a>'
            b'<a href="/rel">rel</a>'
            b'<a href="https://a.example/self">self</a></body></html>',
        ),
        (
            "https://b.example/p2",
            ts,
            b'<html><body><a href="http://c.example/z">c</a>'
            b'<a href="mailto:x@y">m</a></body></html>',
        ),
    ]
    wd = str(tmp_path / "wat")
    sources.write_pages_wat(rows, wd)
    edges = watgraph.host_edges(sources.read_pages_wat(spark, wd))
    got = sorted(
        (r["src"], r["dst"], r["w"]) for r in edges.collect()
    )
    assert got == [
        ("a.example", "b.example", 2.0),
        ("b.example", "c.example", 1.0),
    ]


def test_domain_rank_empty_edges(spark):
    empty = spark.createDataFrame([], "src string, dst string, w double")
    out, ids = watgraph.domain_rank(empty, k=3)
    assert out.count() == 0 and ids == []


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))


def test_domain_rank_properties_on_random_graphs(spark):
    """Property sweep over deterministic pseudo-random graphs: for any
    edge set, the rank is one row per node, every component positive, the
    total mass is bounded by (teleport, 1], and relabeling hosts is a pure
    renaming (structure determines rank, names don't)."""
    import hashlib

    def rnd(i, salt):
        return int(hashlib.md5(f"{salt}:{i}".encode()).hexdigest()[:8], 16)

    for salt in ("g1", "g2", "g3"):
        n_edges = 6 + rnd(0, salt) % 12
        edges = [
            (
                f"h{rnd(i, salt) % 7}.x",
                f"h{rnd(i + 100, salt) % 7}.x",
                float(1 + rnd(i + 200, salt) % 5),
            )
            for i in range(n_edges)
        ]
        edges = [(s, d, w) for s, d, w in edges if s != d]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src string, dst string, w double")
        ranks, ids = watgraph.domain_rank(df, k=4)
        rows = {r["host"]: r["rank_r"] for r in ranks.collect()}
        release_local_checkpoint(spark, ids)
        nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
        assert set(rows) == nodes
        assert all(v > 0 for v in rows.values()), rows
        total = sum(rows.values())
        assert 0.15 - 1e-6 < total <= 1.0 + 1e-6, total

        # pure renaming: prefix every host — ranks unchanged up to the map
        ren = [(f"z{s}", f"z{d}", w) for s, d, w in edges]
        df2 = spark.createDataFrame(ren, "src string, dst string, w double")
        ranks2, ids2 = watgraph.domain_rank(df2, k=4)
        rows2 = {r["host"]: r["rank_r"] for r in ranks2.collect()}
        release_local_checkpoint(spark, ids2)
        assert rows2 == {f"z{h}": v for h, v in rows.items()}
