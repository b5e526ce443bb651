"""Persisted IVF index (engine/ann, r4): build-once/probe-many equals the
registry's NumPy-batched IVF queries exactly, and probing reads ONLY the
probed lists' partition files (dynamic partition pruning — the inverted-
list scaling story, plan-pinned)."""

from __future__ import annotations

import os

import pytest

from engine import ann

pytestmark = pytest.mark.usefixtures("spark")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ivf") / "index")
    ann.build_ivf_index(spark, SF, p)
    return p


def test_index_layout_is_partitioned_lists(index_path):
    lists = [
        d for d in os.listdir(f"{index_path}/lists") if d.startswith("list_id=")
    ]
    assert len(lists) >= 2, lists  # one directory per inverted list


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_persisted_index_equals_registry_query(spark, tmp_path, sf):
    """Same construction, same tie-breaks: probing the persisted index
    reproduces the NumPy-batched ann_ivf_topk output row-for-row —
    ivf_topk is the Spark SQL statement of the construction that query
    computes."""
    import __spark_entry__ as em

    sf_dir = f"/root/testdata/sf{sf}"
    p = str(tmp_path / "ivf")
    ann.build_ivf_index(spark, sf_dir, p)
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 10")
    )
    got = sorted(
        tuple(r)
        for r in ann.ivf_topk(
            spark, p, queries, nprobe=ann.IVF_NPROBE, k=3
        ).collect()
    )
    want = sorted(
        tuple(r) for r in em.queries()["ann_ivf_topk"](spark, sf_dir).collect()
    )
    assert got == want and len(got) == 30


def test_probe_scan_is_partition_pruned(spark, index_path):
    """The scale property: the candidate join keys on the lists table's
    PARTITION column with a broadcast probe side, so Spark plans dynamic
    partition pruning — only probed lists' files are read."""
    queries = (
        spark.read.parquet(f"{SF}/embeddings.parquet").where("vec_id < 10")
    )
    df = ann.ivf_topk(spark, index_path, queries, nprobe=4, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_trained_index_equals_registry_query(spark, tmp_path, sf):
    """r5 (VERDICT r4 #1): the persisted index built from the FROZEN trained
    codebook reproduces the NumPy-batched ann_ivf_topk_trained output
    (nprobe = IVF_NPROBE) and ann_ivf_topk_trained_hr output (nprobe =
    IVF_NPROBE_HIGH_RECALL) row-for-row — same quantization (floor(x*1000)
    in Spark SQL == math.floor in the generator, both IEEE double), same L2
    ranking, same tie-breaks."""
    import __spark_entry__ as em

    from engine import ann_codebook

    sf_dir = f"/root/testdata/sf{sf}"
    cb = spark.createDataFrame(
        [(i, c) for i, c in enumerate(ann_codebook.TRAINED_CENTROIDS)],
        "cid int, centroid array<double>",
    )
    p = str(tmp_path / "ivf_trained")
    ann.build_ivf_index(spark, sf_dir, p, codebook=cb)
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 10")
    )
    for name, nprobe in [
        ("ann_ivf_topk_trained", ann.IVF_NPROBE),
        ("ann_ivf_topk_trained_hr", ann.IVF_NPROBE_HIGH_RECALL),
    ]:
        got = sorted(
            tuple(r)
            for r in ann.ivf_topk(spark, p, queries, nprobe=nprobe, k=3).collect()
        )
        want = sorted(
            tuple(r) for r in em.queries()[name](spark, sf_dir).collect()
        )
        assert got == want and len(got) == 30, name


def test_trained_index_probe_is_partition_pruned(spark, tmp_path):
    """The trained index keeps the scale property of the sampled one:
    probes join the lists table on its partition column -> dynamic
    partition pruning reads only probed lists' files."""
    from engine import ann_codebook

    cb = spark.createDataFrame(
        [(i, c) for i, c in enumerate(ann_codebook.TRAINED_CENTROIDS)],
        "cid int, centroid array<double>",
    )
    p = str(tmp_path / "ivf_trained")
    ann.build_ivf_index(spark, SF, p, codebook=cb)
    queries = (
        spark.read.parquet(f"{SF}/embeddings.parquet").where("vec_id < 10")
    )
    df = ann.ivf_topk(spark, p, queries, nprobe=4, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_trained_recall_not_below_sampled(spark):
    """The trained codebook must earn its keep: recall@3 vs the exact
    brute-force top-k on the sf0.01 corpus is >= the sampled codebook's
    (VERDICT r4 #1 done-criterion; measured 0.60 vs 0.567 at freeze)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.01"
    qs = em.queries()

    def pairs(name):
        return {
            (r["query_id"], r["neighbor_id"]) for r in qs[name](spark, sf).collect()
        }

    exact = pairs("embedding_topk")
    recall_sampled = len(pairs("ann_ivf_topk") & exact) / len(exact)
    recall_trained = len(pairs("ann_ivf_topk_trained") & exact) / len(exact)
    assert recall_trained >= recall_sampled, (recall_trained, recall_sampled)


def test_high_recall_operating_point(spark):
    """VERDICT r5 #4: the documented high-recall operating point must hold
    through the REAL Spark query — recall@3 of ann_ivf_topk_trained_hr
    (nprobe = engine.ann.IVF_NPROBE_HIGH_RECALL = 8, chosen as the
    smallest probe width with recall >= 0.8 on the sweep in
    BENCH/ivf_recall.json) vs the exact brute-force top-3, and widening
    the probe width must not lose recall vs the nprobe=4 default."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.01"
    qs = em.queries()

    def pairs(name):
        return {
            (r["query_id"], r["neighbor_id"]) for r in qs[name](spark, sf).collect()
        }

    exact = pairs("embedding_topk")
    recall_hr = len(pairs("ann_ivf_topk_trained_hr") & exact) / len(exact)
    recall_default = len(pairs("ann_ivf_topk_trained") & exact) / len(exact)
    assert recall_hr >= 0.8, recall_hr
    assert recall_hr >= recall_default, (recall_hr, recall_default)


def test_sweep_matches_frozen_operating_point():
    """The committed BENCH/ivf_recall.json operating point and the
    engine constant must agree (regenerating the sweep keeps them honest)."""
    import json

    from engine.ann import IVF_NPROBE_HIGH_RECALL

    with open("BENCH/ivf_recall.json") as f:
        sweep = json.load(f)
    assert sweep["operating_point"]["nprobe"] == IVF_NPROBE_HIGH_RECALL
    assert sweep["operating_point"]["heldout_recall"] >= 0.8
    curve = sweep["heldout"]["recall_at_3"]
    vals = [curve[str(n)] for n in range(1, 17)]
    assert all(b >= a for a, b in zip(vals, vals[1:])), vals
    assert vals[-1] == 1.0  # probing every list IS the exact scan


def test_committed_codebook_reproducible(spark):
    """Retraining with the committed hyperparameters on the committed
    corpus reproduces engine/ann_codebook.py (allclose — cross-partitioning
    runs agree up to float-summation order in the per-cluster means)."""
    import math

    from engine import ann_codebook

    cb = ann.train_ivf_codebook(
        spark,
        f"/root/testdata/{ann_codebook.TRAINED_SF}",
        k=ann_codebook.TRAINED_K,
        iters=ann_codebook.TRAINED_ITERS,
    )
    got = {int(r["cid"]): list(r["centroid"]) for r in cb.collect()}
    assert len(got) == ann_codebook.TRAINED_K
    for cid, want in enumerate(ann_codebook.TRAINED_CENTROIDS):
        assert all(
            math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
            for a, b in zip(got[cid], want)
        ), cid


def test_kmeans_codebook_training(spark):
    """Deterministic Lloyd's training (r4): the objective is monotone
    non-increasing across iterations, strictly improves on the sampled
    init, and repeated runs in one session are bit-identical. (Cross-
    partitioning runs agree up to float-summation order in the per-cluster
    means — the inherent limit of distributed float reduction; assignment
    ids, the integer outputs, are robust to it.)"""
    objs = []
    for iters in (0, 1, 3, 5):
        cb = ann.train_ivf_codebook(spark, SF, k=8, iters=iters)
        objs.append(ann.kmeans_objective(spark, SF, cb))
    assert all(b <= a + 1e-9 for a, b in zip(objs, objs[1:])), objs
    assert objs[-1] < objs[0] * 0.999, objs  # training actually moved

    a = ann.train_ivf_codebook(spark, SF, k=8, iters=3).collect()
    b = ann.train_ivf_codebook(spark, SF, k=8, iters=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivf_topk_rejects_mixed_metric_index(spark, index_path, tmp_path):
    """ADVICE r5: a corrupt centroids table carrying mixed metric values
    must raise, not silently probe with an arbitrarily chosen metric."""
    from pyspark.sql import functions as F

    bad = str(tmp_path / "bad_index")
    os.makedirs(bad)
    cent = spark.read.parquet(f"{index_path}/centroids")
    corrupt = cent.withColumn(
        "metric", F.expr("CASE WHEN cid % 2 = 0 THEN 'dot_q' ELSE 'l2' END")
    )
    corrupt.write.parquet(f"{bad}/centroids")
    import shutil

    shutil.copytree(f"{index_path}/lists", f"{bad}/lists")
    queries = spark.read.parquet(f"{SF}/embeddings.parquet").limit(2)
    with pytest.raises(ValueError, match="mixed metrics"):
        ann.ivf_topk(spark, bad, queries, nprobe=2, k=3).collect()


def test_upsert_ivf_index_equals_full_rebuild(spark, tmp_path):
    """r7: building on HALF the corpus then upserting the other half must
    probe identically to a one-shot build over everything (same frozen
    centroids -> same assignment rule -> same posting lists), and
    re-upserting the same batch is a no-op (dedup anti-join)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    full = str(tmp_path / "full")
    ann.build_ivf_index(spark, SF, full)

    part = str(tmp_path / "part")
    ann.build_ivf_index(spark, SF, part)
    # rewrite the partial index's lists to the first half only (the
    # centroids — sampled from low vec_ids — are identical by construction)
    half = spark.read.parquet(f"{full}/lists").where("vec_id % 2 = 0")
    half.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{part}/lists"
    )
    spark.catalog.refreshByPath(f"{part}/lists")

    late = emb.where("vec_id >= 10 AND vec_id % 2 = 1")
    ann.upsert_ivf_index(spark, part, late)

    queries = emb.where("vec_id < 10")
    got = sorted(
        tuple(r) for r in ann.ivf_topk(spark, part, queries).collect()
    )
    want = sorted(
        tuple(r) for r in ann.ivf_topk(spark, full, queries).collect()
    )
    assert got == want and len(got) == 30

    # idempotence: the same batch again adds nothing
    n = spark.read.parquet(f"{part}/lists").count()
    ann.upsert_ivf_index(spark, part, late)
    assert spark.read.parquet(f"{part}/lists").count() == n
    # dedup=False trusts the caller: the duplicate WOULD land
    ann.upsert_ivf_index(spark, part, late.limit(1), dedup=False)
    assert spark.read.parquet(f"{part}/lists").count() == n + 1


def test_compact_ivf_lists_preserves_probes_and_shrinks_files(spark, tmp_path):
    """r7: repeated upserts fragment the posting lists; compaction must
    shrink the file count and leave every probe row-identical."""
    import glob as _glob

    p = str(tmp_path / "idx")
    ann.build_ivf_index(spark, SF, p)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # fragment: several tiny upserts of synthetic new ids
    for k in range(3):
        batch = emb.where("vec_id >= 10").limit(5).selectExpr(
            f"vec_id + 10000 + {k * 100} AS vec_id", "embedding"
        )
        ann.upsert_ivf_index(spark, p, batch)
    queries = emb.where("vec_id < 10")
    before = sorted(tuple(r) for r in ann.ivf_topk(spark, p, queries).collect())
    n_files_before = len(_glob.glob(f"{p}/lists/list_id=*/*.parquet"))

    ann.compact_ivf_lists(spark, p)
    after = sorted(tuple(r) for r in ann.ivf_topk(spark, p, queries).collect())
    n_files_after = len(_glob.glob(f"{p}/lists/list_id=*/*.parquet"))
    assert after == before and len(after) == 30
    assert n_files_after < n_files_before
    # row content fully preserved, not just the probe set
    assert spark.read.parquet(f"{p}/lists").count() == 490 + 15


def test_upsert_respects_trained_index_metric(spark, tmp_path):
    """r7: upserting into a TRAINED (l2_q-metric) index must assign with
    THAT metric (read from the centroids table), not the sampled-codebook
    dot ranking — half-build + upsert probes row-equal to a full trained
    rebuild."""
    from engine import ann_codebook

    cb = spark.createDataFrame(
        [(i, c) for i, c in enumerate(ann_codebook.TRAINED_CENTROIDS)],
        "cid int, centroid array<double>",
    )
    full = str(tmp_path / "full")
    ann.build_ivf_index(spark, SF, full, codebook=cb)
    part = str(tmp_path / "part")
    ann.build_ivf_index(spark, SF, part, codebook=cb)
    half = spark.read.parquet(f"{full}/lists").where("vec_id % 2 = 0")
    half.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{part}/lists"
    )
    spark.catalog.refreshByPath(f"{part}/lists")

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ann.upsert_ivf_index(
        spark, part, emb.where("vec_id >= 10 AND vec_id % 2 = 1")
    )
    queries = emb.where("vec_id < 10")
    got = sorted(
        tuple(r) for r in ann.ivf_topk(spark, part, queries).collect()
    )
    want = sorted(
        tuple(r) for r in ann.ivf_topk(spark, full, queries).collect()
    )
    assert got == want and len(got) == 30


def test_compact_heals_interrupted_swap(spark, tmp_path):
    """ADVICE r7: a crash between the two renames of compact_ivf_lists
    leaves NO lists table at the live path; heal-on-entry must restore the
    swapped-aside table (and clear stale .tmp-* siblings) so the next
    maintenance op — or upsert — finds a working index."""
    import os
    import shutil

    idx = str(tmp_path / "idx")
    ann.build_ivf_index(spark, SF, idx)
    queries = spark.read.parquet(f"{SF}/embeddings.parquet").where("vec_id < 10")
    want = sorted(tuple(r) for r in ann.ivf_topk(spark, idx, queries).collect())

    # simulate the crash window: lists moved aside, a stale tmp left behind
    os.rename(f"{idx}/lists", f"{idx}/lists.gc-deadbeef")
    os.makedirs(f"{idx}/lists.tmp-cafe", exist_ok=True)

    with pytest.warns(RuntimeWarning, match="restored .*lists.gc-deadbeef"):
        ann.compact_ivf_lists(spark, idx)
    assert os.path.exists(f"{idx}/lists")
    assert not os.path.exists(f"{idx}/lists.tmp-cafe")
    assert not any(
        p.startswith("lists.gc-") for p in os.listdir(idx)
    )
    got = sorted(tuple(r) for r in ann.ivf_topk(spark, idx, queries).collect())
    assert got == want


def test_ivf_topk_restores_interrupted_swap(spark, tmp_path):
    """ADVICE r8: a crash between the two renames of compact_ivf_lists
    leaves the lists table only under a .gc-* sibling; a probe must put it
    back, announce the restore once, and answer as before, without waiting
    for a maintenance op."""
    import os

    idx = str(tmp_path / "idx")
    ann.build_ivf_index(spark, SF, idx)
    queries = spark.read.parquet(f"{SF}/embeddings.parquet").where("vec_id < 10")
    want = sorted(tuple(r) for r in ann.ivf_topk(spark, idx, queries).collect())

    os.rename(f"{idx}/lists", f"{idx}/lists.gc-x")
    with pytest.warns(RuntimeWarning, match="restored .*lists.gc-x") as rec:
        got = sorted(
            tuple(r) for r in ann.ivf_topk(spark, idx, queries).collect()
        )
    restores = [str(w.message) for w in rec if "IVF index" in str(w.message)]
    assert len(restores) == 1 and idx in restores[0]
    assert got == want and len(got) == 30
    assert os.path.exists(f"{idx}/lists")
    assert not os.path.exists(f"{idx}/lists.gc-x")
