"""Host-level link-graph iteration over WAT outlinks (VERDICT r6 #3) —
the production twin behind the oracled ``domain_rank`` registry query.

The registry query unrolls exactly K=3 damped-rank rounds in SQL so DuckDB
can oracle it; this module is the arbitrary-K engine path a crawl user
actually runs, fed by :func:`engine.sources.read_pages_wat`:

- :func:`host_edges` — WAT pages (url, Envelope payload) -> weighted host
  edges ``(src, dst, w)``: JVM ``from_json`` + ``explode`` over the
  payload, ``parse_url`` host extraction, ONE corpus-scale partial-agg.
  Everything downstream runs over this host-level aggregate (|hosts|
  rows — millions at crawl scale, never corpus rows).
- :func:`domain_rank` — K rounds of the leaky damped recurrence
  ``r' = (1-d)/N + d * sum_in(r(u) * w(u,v)/outweight(u))`` (dangling
  hosts contribute nothing — identical to the oracled query). Iterative
  DataFrame discipline: the transition table is checkpointed ONCE, each
  round's rank frame is ``local_checkpoint_tracked`` (the r6 leak fix)
  and the previous round is released as soon as the next materializes, so
  the plan never grows with K and executor memory holds at most two rank
  tables (keys-only: (host, double) rows). Returns ``(df, rdd_ids)`` —
  the final checkpoint backs the returned frame (a released local
  checkpoint cannot recompute), so the CALLER releases via
  :func:`engine.session.release_local_checkpoint` when done, the same
  contract as ``local_checkpoint_tracked`` itself.
- :func:`fold_edge_deltas` — re-aggregates the per-micro-batch edge deltas
  of ``engine.streaming.incremental_host_edges`` into the current graph
  (edge weights are additive, so the fold equals :func:`host_edges` over
  every archive ingested).

Row-equality with the oracled ``domain_rank`` (same edges, k=3, d=0.85)
and the zero-residual-persist release are pinned in tests/test_watgraph.

Reference analog: the corpus-level rollup role of evaluation.py:103-133,
iterated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from engine.session import local_checkpoint_tracked, release_local_checkpoint

WAT_LINKS_DDL = (
    "Envelope STRUCT<`Payload-Metadata` STRUCT<`HTTP-Response-Metadata` "
    "STRUCT<`HTML-Metadata` STRUCT<Links ARRAY<STRUCT<path STRING, "
    "url STRING>>>>>>"
)


def host_edges(pages_wat: DataFrame) -> DataFrame:
    """``read_pages_wat`` output -> ``(src, dst, w)`` weighted host edges.

    Absolute http(s) targets only (relative links stay on-host and carry no
    cross-domain signal); self-edges dropped (standard rank construction).
    The ONLY corpus-scale work in the whole graph pipeline: one in-row
    parse/explode pass and one partial-aggregated shuffle on (src, dst).
    """
    links = pages_wat.where("status = 'ok'").select(
        F.expr("lower(parse_url(url, 'HOST'))").alias("src"),
        F.explode(
            F.from_json("payload", WAT_LINKS_DDL)["Envelope"][
                "Payload-Metadata"
            ]["HTTP-Response-Metadata"]["HTML-Metadata"]["Links"]
        ).alias("l"),
    ).select("src", F.col("l.url").alias("target"))
    return (
        links.where("target LIKE 'https://%' OR target LIKE 'http://%'")
        .selectExpr("src", "lower(parse_url(target, 'HOST')) AS dst")
        .where("dst IS NOT NULL AND src IS NOT NULL AND src <> dst")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )


def fold_edge_deltas(deltas: DataFrame) -> DataFrame:
    """Re-aggregate appended per-micro-batch edge deltas into the current
    host graph. Edge weights are ADDITIVE counts, so ``sum(w)`` over the
    delta sink equals :func:`host_edges` over every archive ever ingested
    — the property the streaming twin (engine.streaming.
    incremental_host_edges) is pinned against."""
    return deltas.groupBy("src", "dst").agg(F.sum("w").alias("w"))


def domain_rank(
    edges: DataFrame, k: int = 3, d: float = 0.85
) -> tuple[DataFrame, list]:
    """K rounds of damped host rank over ``(src, dst, w)`` edges.

    Returns ``(ranks, rdd_ids)`` where ranks is ``(host, rank_r)`` with
    rank_r rounded to 4 decimals (the driver-contract convention, matching
    the oracled query) and rdd_ids releases the final checkpoint.

    ``d`` must round-trip through ``{:g}`` (e.g. 0.85) — the damping and
    teleport literals are emitted as SQL text so the arithmetic is the
    SAME double expression tree as the oracled query's, keeping the twin
    row-equal instead of drifting by one float ulp per round.
    """
    spark = edges.sparkSession
    e = edges.selectExpr("src", "dst", "CAST(w AS DOUBLE) AS w")
    # transition probabilities are static across rounds: checkpoint ONCE
    outw = e.groupBy("src").agg(F.sum("w").alias("tw"))
    # carry (w, tw) rather than a precomputed w/tw: the per-round term must
    # be the SAME double expression tree as the oracle's sum(r * w / tw) —
    # r * (w/tw) differs by an ulp and could drift across rounds
    trans = (
        e.alias("e")
        .join(outw.alias("o"), F.col("e.src") == F.col("o.src"))
        .selectExpr("e.src AS src", "e.dst AS dst", "e.w AS w", "o.tw AS tw")
    )
    trans, trans_ids = local_checkpoint_tracked(trans)
    nodes = e.selectExpr("src AS h").union(e.selectExpr("dst AS h")).distinct()
    nodes, node_ids = local_checkpoint_tracked(nodes)
    n = nodes.count()
    if n == 0:
        release_local_checkpoint(spark, trans_ids + node_ids)
        return (
            spark.createDataFrame([], "host string, rank_r double"),
            [],
        )
    tele = f"{1 - d:g}"  # '0.15', the oracle's literal — not repr(1-0.85)
    damp = f"{d:g}"
    r = nodes.selectExpr("h", f"CAST(1.0 / {n} AS DOUBLE) AS r")
    held: list = []
    for _ in range(int(k)):
        contrib = (
            trans.alias("t")
            .join(r.alias("rr"), F.col("t.src") == F.col("rr.h"))
            .groupBy(F.col("t.dst").alias("h"))
            .agg(F.sum(F.expr("rr.r * t.w / t.tw")).alias("s"))
        )
        r_new = (
            nodes.alias("nd")
            .join(contrib.alias("c"), F.col("nd.h") == F.col("c.h"), "left")
            .selectExpr(
                "nd.h AS h",
                f"{tele} / {n} + {damp} * coalesce(c.s, CAST(0 AS DOUBLE))"
                " AS r",
            )
        )
        # cut the lineage BEFORE the previous round is released: a released
        # local checkpoint cannot recompute (truncated lineage)
        r_new, ids = local_checkpoint_tracked(r_new)
        release_local_checkpoint(spark, held)
        held = ids
        r = r_new
    release_local_checkpoint(spark, trans_ids + node_ids)
    out = r.selectExpr(
        "h AS host", "CAST(round(r, 4) + 0 AS DOUBLE) AS rank_r"
    )
    return out, held
