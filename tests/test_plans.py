"""Physical-plan assertions: the engine must produce the plans a Spark
expert would want (SURVEY.md §4) — pushdown into the parquet scan, column
pruning before the Arrow transfer, Catalyst-side keep-filter, broadcast
joins for small sides, zero shuffle in the fused path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine import pipeline


def _plan(df, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(qe, mode)


def test_fused_plan_prunes_columns_and_has_no_shuffle(spark, pages_unit_path):
    pages = spark.read.parquet(pages_unit_path)
    df = pipeline.run_fused(pages)
    plan = _plan(df)
    # `text` column (crawl debug text) must not be read for extraction
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema.replace("extracted_text", "")
    assert "html" in read_schema and "lang" in read_schema
    # zero-shuffle default: no Exchange in the fused plan
    assert "Exchange" not in plan


def test_salted_plan_has_single_shuffle(spark, pages_unit_path):
    pages = spark.read.parquet(pages_unit_path)
    df = pipeline.run_fused(pages, num_parts=8)
    plan = _plan(df)
    assert plan.count("Exchange") >= 1  # the explicit salted repartition
    assert "hashpartitioning(salt" in plan or "salt" in plan


def test_scan_filter_pushdown(spark, pages_unit_path):
    pages = spark.read.parquet(pages_unit_path)
    df = pages.filter(F.col("warc_ts") >= "2026-01-01").select("url")
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "warc_ts" in pushed[0]


def test_staged_keep_filter_is_catalyst_side(spark, pages_unit_path):
    pages = spark.read.parquet(pages_unit_path)
    blocks = pipeline.detect(pages)
    surviving = blocks.filter(F.expr(pipeline.KEEP_PREDICATE))
    plan = _plan(surviving, "simple")
    # the integer keep rule must appear as a JVM Filter over the UDF output,
    # not hidden inside Python
    assert "Filter" in plan and "n_link_chars" in plan


def test_broadcast_join_for_small_dims(spark):
    import __spark_entry__ as em

    df = em.queries()["broadcast_rollup"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_minhash_signatures_plan_has_zero_exchange(spark):
    """VERDICT r1: shingle generation must not shuffle the corpus tokens.
    The production signature path is per-row array expressions — the plan
    is scan→project with no KEYED Exchange anywhere. r8: an adaptive
    ROUND-ROBIN repartition of the under-parallel local scan is allowed
    (a no-op on a real multi-split corpus); a hashpartitioning of tokens
    stays banned."""
    import __spark_entry__ as em

    df = em.queries()["minhash_signatures"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "posexplode" not in plan.lower() and "Window" not in plan


def test_simhash_plan_has_zero_exchange(spark):
    """SimHash fingerprints are in-row folds over the token-hash array —
    no explode, no groupBy, no keyed Exchange (same discipline as MinHash,
    incl. the r8 round-robin allowance)."""
    import __spark_entry__ as em

    df = em.queries()["simhash_fingerprint"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "Generate" not in plan


def test_minhash_pairs_only_shuffle_is_band_join(spark):
    """The pairs plan may shuffle only on the banded equi-join (and its
    DISTINCT) — never on tokens or doc_id windows."""
    import __spark_entry__ as em

    df = em.queries()["minhash_lsh_pairs"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Window" not in plan and "posexplode" not in plan.lower()


def _final_adaptive_plan(df) -> str:
    """Materialize df and return the FINAL adaptive physical plan (the plan
    that actually executed, post exchange-reuse)."""
    df.collect()
    plan = _plan(df, "simple")
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Initial Plan ==")[0]


def test_minhash_pairs_single_scan(spark):
    """VERDICT r2 #1: banding must NOT re-scan the corpus per band/arm.
    Signatures are computed in ONE projection and (band, key) rows come from
    an in-row explode; the banded self-join is a shuffle join whose two
    exchanges canonicalize identically, so the executed plan reads
    documents.parquet exactly ONCE (second side = ReusedExchange).
    Was 8 FileScans in r2 (PLANS.md r2:150-199)."""
    import __spark_entry__ as em

    df = em.queries()["minhash_lsh_pairs"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert final.count("FileScan") == 1, final
    assert "ReusedExchange" in final, final


def test_ann_lsh_pairs_single_scan(spark):
    """Same single-scan discipline for the embedding LSH candidates: ONE
    FileScan of embeddings.parquet in the executed plan (was up to 16 —
    8 band arms × 2 join sides — in r2)."""
    import __spark_entry__ as em

    df = em.queries()["ann_lsh_candidates"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert final.count("FileScan") == 1, final
    assert "ReusedExchange" in final, final


def test_jaccard_pairs_single_scan(spark):
    """VERDICT r4 #3: the set-intersection join must not re-scan documents
    for sizes or the second pair side. Distinct shingle sets are ONE
    array_distinct projection whose size rides along in the exploded rows,
    and the MERGE-hinted self-join's identical subtrees ReuseExchange —
    executed plan reads documents.parquet exactly ONCE (was 3 FileScans in
    r4, PLANS.md r4:285-340)."""
    import __spark_entry__ as em

    df = em.queries()["ngram_jaccard_pairs"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert final.count("FileScan") == 1, final
    assert "ReusedExchange" in final, final


def test_embedding_cluster_assign_zero_exchange(spark):
    """r5 domain bucketing: assignment to the frozen codebook is an
    in-row argmin over 16 broadcast literals — scan -> Project, ZERO
    Exchange, no Window (nothing moves to cluster a 100 TB corpus)."""
    import __spark_entry__ as em

    df = em.queries()["embedding_cluster_assign"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "Exchange" not in plan and "Window" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_url_canonical_dedup_single_shuffle(spark):
    """r5: canonical-URL dedup is zero-shuffle normalization (per-row
    regex/string Projects) + exactly ONE Exchange for the keep-first
    groupBy — and no Window (min-aggregate keeper, skew-safe)."""
    import __spark_entry__ as em

    df = em.queries()["url_canonical_dedup"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_urlgate_engine_path_semantics_and_plan(spark):
    """r6: engine.urlgate.gate_urls applies the oracled query's rule
    semantics to REAL url strings (parse_url host/path, suffix matches
    the apex, path prefix) via a broadcast LEFT ANTI join — corpus
    streams, rules broadcast; unknown rule kinds fail loudly."""
    import pytest as _pytest

    from engine import urlgate

    rows = [
        (1, "https://tracker.example/p/1"),          # exact host
        (2, "https://pixel.ads.example/p/2"),        # *.ads.example
        (3, "https://ads.example/p/3"),              # suffix apex
        (4, "https://ok.example/login/session/4"),   # path prefix
        (5, "https://ok.example/p/5"),               # survives
        (6, "HTTPS://Tracker.Example/p/6"),          # case-folded host
        (7, "https://ok.example/Admin/panel/7"),     # case-SENSITIVE path
        (8, "https://ok.example/admin/panel/8"),     # lowercase path survives
        (9, "https://ok.example/a_b/9"),             # literal '_' path blocked
        (10, "https://ok.example/axb/10"),           # NOT a LIKE wildcard match
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    rules = urlgate.rules_df(
        spark,
        [("host", "Tracker.Example"),  # host patterns fold (RFC 3986)
         ("host_suffix", "ads.example"),
         ("path_prefix", "/login/"),
         # ADVICE r6: path rules must be kept VERBATIM — URL paths are
         # case-sensitive, so '/Admin/' blocks only '/Admin/…' and a prior
         # bug folding it to '/admin/' would have never fired at all
         ("path_prefix", "/Admin/"),
         # r7 found bug: '_' is a LIKE single-char wildcard and common in
         # real paths — matching must be LITERAL, so '/a_b/' must not
         # block '/axb/…' (hosts with '_' never reach the rules at all:
         # parse_url returns NULL for non-URI hostnames)
         ("path_prefix", "/a_b/")],
    )
    kept = urlgate.gate_urls(df, rules)
    assert sorted(r["doc_id"] for r in kept.collect()) == [5, 8, 10]
    assert kept.columns == ["doc_id", "url"]

    plan = _plan(kept, "simple")
    assert "BroadcastNestedLoopJoin BuildRight, LeftAnti" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan

    with _pytest.raises(ValueError, match="unknown rule kinds"):
        urlgate.rules_df(spark, [("regex", "x")])


def test_url_blocklist_gate_broadcasts_rules_zero_corpus_shuffle(spark):
    """VERDICT r5 #3: the blocklist gate must broadcast the rule table
    against the streaming corpus — BroadcastNestedLoopJoin BuildRight
    LeftAnti (the non-equi suffix/prefix LIKE rules preclude a hash
    join), the corpus FileScan feeds the join directly with no Exchange
    below it, columns pruned to (doc_id, lang), and the only shuffle in
    the whole plan is the survivors' partial-agg rollup."""
    import __spark_entry__ as em

    df = em.queries()["url_blocklist_gate"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin BuildRight, LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly one data shuffle (the lang rollup) + the rules broadcast
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_domain_rank_single_corpus_pass(spark):
    """r7 self-review: Spark inlines CTEs, so leaving the edge aggregate
    in the recurrence chain re-executed the corpus scan + Arrow WAT build
    once PER REFERENCE (26 scans for K=3). The registry query now runs
    the shared edge statement eagerly (one pass) and feeds the chain a
    local relation — the returned plan must contain ZERO parquet scans
    and ZERO Python stages."""
    import __spark_entry__ as em

    df = em.queries()["domain_rank"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "Scan parquet" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


def test_q22_antijoin_and_q15_scalar_max_plan_shapes(spark):
    """r7 TPC-H additions: q22's NOT EXISTS over the date-windowed order
    subset must plan as a LeftAnti join with the date predicate PUSHED to
    the orders scan (never a per-row subquery), and q15's top-supplier
    selection must be a scalar subquery over the derived revenue
    aggregate joined back (no cartesian, no window)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    q22 = em.queries()["tpch_q22_no_orders"](spark, sf)
    p22 = _plan(q22, "simple")
    assert "LeftAnti" in p22, p22
    assert "GreaterThanOrEqual(o_orderdate" in p22, p22  # pushed to the scan
    assert "CartesianProduct" not in p22 and "Window" not in p22, p22

    q15 = em.queries()["tpch_q15_top_supplier"](spark, sf)
    p15 = _plan(q15, "simple")
    assert "Subquery" in p15 or "subquery" in p15, p15
    assert "CartesianProduct" not in p15 and "Window" not in p15, p15


def test_runtime_bloom_filter_prunes_corpus_side_of_probe_join(spark, tmp_path):
    """VERDICT r6 #5: Spark's runtime bloom filter must inject a
    might_contain predicate from the selective probe side (the
    decontaminate/blocklist-survivor shape: a small filtered dim) into the
    corpus side of a shuffle join — at 100 TB this is the difference
    between shuffling every corpus row and shuffling only rows whose key
    might match. The production thresholds (10 GB application-side scan)
    are lowered here because the gate corpus is tiny; the PLAN SHAPE is
    what carries over. Results must equal the bloom-disabled run (the
    filter is a may-contain prune, never a semantic change)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # a selective filter over a parquet scan on the creation side is what
    # InjectRuntimeFilter requires (plain createDataFrame won't trigger it)
    docs.selectExpr(
        "doc_id", "CAST(doc_id % 97 = 0 AS INT) AS contaminated"
    ).write.parquet(str(tmp_path / "dim"))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # gate-scale corpus is far below the 10 GB production threshold
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # force the shuffle join the bloom filter exists for (a broadcast
        # join would get DPP-style pruning instead)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def run():
        dim = (
            spark.read.parquet(str(tmp_path / "dim"))
            .where("contaminated = 1")
            .select("doc_id")
        )
        j = docs.select("doc_id", "lang").join(dim, "doc_id").groupBy(
            "lang"
        ).count()
        return j, sorted(map(tuple, j.collect()))

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df, rows_bloom = run()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        # the runtime filter sits on the CORPUS branch, under the join,
        # fed by a subquery over the dim side
        assert "Subquery" in plan, plan
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        df_off, rows_plain = run()
        plan_off = df_off._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in plan_off, plan_off
        assert rows_bloom == rows_plain and len(rows_bloom) > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q17_correlated_scalar_subquery_decorrelates(spark):
    """r6: the per-part 20%-of-average threshold (TPC-H Q17's correlated
    scalar aggregate) must be DE-CORRELATED — a per-part aggregate joined
    back onto the fact, never a per-row subquery execution."""
    import __spark_entry__ as em

    df = em.queries()["tpch_q17_small_qty"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "avg(l_quantity" in plan, plan          # the rewritten aggregate
    assert plan.count("FileScan") == 3, plan        # lineitem x2 + part
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


def test_q19_disjunction_pushes_to_part_scan_keeps_equi_join(spark):
    """r6: the OR-of-ANDs predicate — the part-only disjunction reaches
    the part scan's PushedFilters (CNF extraction), and the join stays
    the equi hash join on l_partkey (the common conjunct), not a
    non-equi fallback."""
    import __spark_entry__ as em

    df = em.queries()["tpch_q19_disjunctive"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "formatted")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "Or(" in ln and "p_brand" in ln]
    assert pushed, plan


def test_q6_predicates_reach_the_scan(spark):
    """The scan-aggregate query's filters must appear in PushedFilters —
    the pushdown probe at fact-table scale."""
    import __spark_entry__ as em

    df = em.queries()["tpch_q6"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], plan
    assert "l_discount" in pushed[0] and "l_quantity" in pushed[0], pushed[0]


def test_q4_exists_becomes_semi_join(spark):
    """Correlated EXISTS must compile to a semi join, not a subquery loop."""
    import __spark_entry__ as em

    df = em.queries()["tpch_q4_exists"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "LeftSemi" in plan, plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Spark-native bucketing (the co-located-join strategy for repeated
    big-big joins at 100 TB): both fact tables written bucketBy(orderkey),
    the join compiles to SortMergeJoin with ZERO Exchange — neither side
    shuffles. Broadcast is disabled to force the merge join the big-big
    case would take."""
    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
           .option("path", str(tmp_path / "li_b")).mode("overwrite")
           .saveAsTable("li_bucketed"))
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
           .option("path", str(tmp_path / "ord_b")).mode("overwrite")
           .saveAsTable("ord_bucketed"))
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderpriority").count()
        plan = _plan(joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan.split("HashAggregate")[-1], plan
        # neither join input shuffles: the only Exchange allowed is the
        # final single-stage aggregate on the tiny grouped result
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_part, plan
        # and it actually runs
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


# Documented brute-force baselines (the oracle twins of the banded/bucketed
# scale paths) — the ONLY places an all-pairs product is allowed. The IVF
# codebook cross join is also listed: its right side is the ~16-row codebook
# (broadcast nested loop), not a fact-fact product.
_CROSS_OK = {
    "embedding_topk",
    "embedding_near_dup",
    "ann_ivf_topk",
    # same codebook cross join, against the frozen 16-row trained literal
    "ann_ivf_topk_trained",
    "ann_ivf_topk_trained_hr",
    # hour-spine × event-type grid: both sides tiny by construction
    "time_spine_fill",
}
# Deliberate broadcast nested-loop joins: a tiny literal table broadcast
# against the streaming corpus with a non-equi condition (suffix/prefix
# LIKE rules). Still banned: CartesianProduct.
_BNLJ_OK = {"url_blocklist_gate"}
# Construction triggers eager iterative jobs; linted implicitly by its own
# gate/contract runs instead.
_PLAN_LINT_SKIP = {"dedup_clusters", "neardedup_keep"}


def _lint_names():
    import __spark_entry__ as em

    return sorted(set(em.queries()) - _PLAN_LINT_SKIP)


@pytest.mark.parametrize("name", _lint_names())
def test_plan_lint_no_cartesian_no_per_row_python(spark, name):
    """Scale-discipline audit over the ENTIRE query registry: no cartesian
    product outside the documented brute-force baselines, and no
    row-at-a-time Python (BatchEvalPython) anywhere — every Python touch
    must be an Arrow-batched MapInPandas/MapInArrow stage."""
    import __spark_entry__ as em

    df = em.queries()[name](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "BatchEvalPython" not in plan, f"{name}: per-row Python UDF\n{plan}"
    if name not in _CROSS_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
        if name not in _BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name}: non-equi join fallback\n{plan}"
            )


def test_resume_anti_join_broadcasts_done_set(spark, pages_unit_path, tmp_path):
    from engine import tableio

    out = str(tmp_path / "extracted")
    pages = spark.read.parquet(pages_unit_path)
    tableio.merge_by_url(spark, out, pipeline.run_extract(pages.limit(20)))
    todo = tableio.remaining(pages, out)
    plan = _plan(todo)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_coverage_plan_has_no_join_and_no_exchange(spark):
    """VERDICT r2 #4: the crawl-text coverage differential must be in-row —
    n_crawl rides through the fused Arrow stage, so the plan contains no
    Join and no Exchange (the r2 version shuffled the crawl text corpus-wide
    on url). The carrier is the same mapInArrow stage as batch extraction,
    never a pandas twin."""
    import __spark_entry__ as em

    df = em.queries()["extract_coverage"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_doc_chunks_plan_has_zero_exchange(spark):
    """Training-window chunking is embarrassingly per-document: chunk starts
    are an in-row integer sequence — scan → explode → project, no shuffle."""
    import __spark_entry__ as em

    df = em.queries()["doc_chunks"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "Exchange" not in plan, plan


def test_decontaminate_probes_via_broadcast(spark):
    """The benchmark gram set is tiny by construction — the contamination
    probe must be a broadcast (semi) join, never a corpus-side shuffle of
    the gram stream against itself."""
    import __spark_entry__ as em

    df = em.queries()["decontaminate"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_vocab_df_single_data_shuffle(spark):
    """Per-doc token dedup is in-row (array_distinct): the corpus-wide df
    aggregate pays exactly ONE data shuffle (the token groupBy). The scalar
    total-docs subquery contributes an Exchange SinglePartition over its
    one-row partial counts — metadata-sized, not a data movement — so the
    assertion counts hashpartitioning exchanges."""
    import __spark_entry__ as em

    df = em.queries()["vocab_df"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_partitioned_table_prunes_partitions(spark, tmp_path, pages_unit_path):
    """Hive-style partition pruning (F3 at directory level): a date
    predicate over a date-partitioned extracted table must land in
    PartitionFilters and the scan must list only the matching partition
    directories — at 100 TB this is the difference between reading one day
    and reading the archive."""
    pages = spark.read.parquet(pages_unit_path)
    part = pages.select("url", "warc_ts", "lang")
    out = str(tmp_path / "by_lang")
    part.write.partitionBy("lang").parquet(out)
    # empty/null lang lands in __HIVE_DEFAULT_PARTITION__ — pick a real value
    langs = sorted(
        r["lang"]
        for r in part.select("lang").distinct().collect()
        if r["lang"]
    )
    assert len(langs) >= 2, "fixture needs >= 2 langs for a pruning test"
    df = spark.read.parquet(out).filter(F.col("lang") == langs[0]).select("url")
    plan = _plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "lang" in pf[0], plan
    assert df.count() == part.filter(F.col("lang") == langs[0]).count()


def test_ngram_jaccard_inrow_shingles(spark):
    """VERDICT r3 #7: the Jaccard query builds shingles with the SAME
    in-row array construction as minhash (engine/minhash.SHINGLES_EXPR) —
    no posexplode, no Window (and hence no per-token window Exchange)
    anywhere in the plan; the doc_id candidate bound is pushed to the
    parquet scan."""
    import __spark_entry__ as em

    df = em.queries()["ngram_jaccard_pairs"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert "Window" not in final, final
    assert "posexplode" not in final.lower(), final
    assert "LessThan(doc_id,150" in final.replace(" ", ""), final


def test_paragraph_dedup_uses_aggregate_not_window(spark):
    """r4 scale rework: keeper resolution is a partial-aggregated
    min(struct) per chunk hash + an AQE-splittable join — NO Window
    operator anywhere (a window would pin a degenerate hot chunk's every
    row to one un-splittable sort partition)."""
    import __spark_entry__ as em

    df = em.queries()["paragraph_dedup"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert "Window" not in final, final
    assert "partial_min" in final or "HashAggregate" in final, final


def test_substring_dedup_shuffles_digests_only_no_window(spark):
    """r6 VERDICT #1: sliding-gram substring dedup — gram hashing is
    in-row (transform over the token array), keeper resolution is a
    partial-aggregated min(struct) per digest (no Window: a boilerplate
    gram shared by millions of docs must stay AQE-splittable), and NO
    Exchange carries document text or token arrays — only digests and
    fixed-width ids cross the wire."""
    import __spark_entry__ as em

    df = em.queries()["substring_dedup"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert "Window" not in final, final
    assert "partial_min" in final or "HashAggregate" in final, final
    for line in final.splitlines():
        if "hashpartitioning" in line:
            assert "text#" not in line and "toks#" not in line, line


def test_winnowed_dedup_plan_no_window_no_pushed_anchor_filter(spark):
    """r6: the winnowed variant keeps the same discipline — no Window,
    digests-only shuffles — and, specifically, the anchors expression
    must NOT be inlined into the parquet scan's DataFilters
    (InferFiltersFromGenerate + pushdown did exactly that before the
    OUTER explode: the O(n) md5 transform nested inside the window
    transform ran per scan row, 25.7s vs 1.1s at sf0.001)."""
    import __spark_entry__ as em

    df = em.queries()["substring_dedup_winnow"](spark, "/root/testdata/sf0.001")
    final = _final_adaptive_plan(df)
    assert "Window" not in final, final
    for line in final.splitlines():
        if "hashpartitioning" in line:
            assert "text#" not in line and "toks#" not in line, line
        if "FileScan" in line:
            assert "array_distinct" not in line, line


def test_par_sql_query_restores_plain_view_when_sql_raises(spark, tmp_path):
    """A ``_par_sql_query`` whose SQL fails to analyze still puts the plain
    ``documents`` view back: a later query over it must not inherit the
    round-robin repartition, which would block its scan pushdown."""
    from pyspark.errors import AnalysisException

    import __spark_entry__ as em

    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id bigint, text string") \
        .coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    q = em._par_sql_query("SELECT no_such_column FROM documents", "documents")
    with pytest.raises(AnalysisException):
        q(spark, str(tmp_path))
    plan = _plan(spark.table("documents"))
    assert "RoundRobinPartitioning" not in plan, plan
