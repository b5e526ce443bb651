"""Pins on the NumPy-batched embedding queries.

Their outputs are compared with the DuckDB oracle in
tests/test_entry_contract.py and, for IVF, with the persisted-index
``engine.ann.ivf_topk`` in tests/test_ann_index.py. This file pins what
those rounded comparisons cannot see: the raw cosine doubles are the
``engine.ann.COSINE`` Spark fold bit for bit, and the IVF plan has no
N x K cross join."""

from __future__ import annotations

import pytest

import __spark_entry__ as em
from engine.ann import COSINE


@pytest.mark.parametrize("sf", ["0.001", "0.1"])
def test_embedding_topk_sims_equal_cosine_fold(spark, sf):
    """np.add.accumulate over the element products is the same sequence of
    IEEE additions as Spark's ``aggregate`` left fold, so the unrounded
    ``sim`` of every (query, candidate) pair the fast query emits must
    EQUAL engine.ann.COSINE evaluated in Spark — exact float equality,
    checked before the rounding that the oracle comparisons see."""
    sf_dir = f"/root/testdata/sf{sf}"
    em.queries()["embedding_topk"](spark, sf_dir)  # registers _topk_sims
    fast = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in spark.table("_topk_sims").collect()
    }
    em._load(spark, sf_dir, "embeddings")
    vecs = "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"
    ref = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in spark.sql(
            f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
            f"{COSINE.format(a='q.v', b='c.v')} AS sim "
            f"FROM ({vecs} WHERE vec_id < 10) q CROSS JOIN ({vecs} WHERE vec_id >= 10) c"
        ).collect()
    }
    assert fast.keys() == ref.keys() and len(ref) > 0
    # float.hex compares bit patterns (NaN == NaN, 0.0 != -0.0)
    diff = [(k, fast[k], ref[k]) for k in ref if fast[k].hex() != ref[k].hex()]
    assert not diff, f"{len(diff)} of {len(ref)} sims differ, first: {diff[0]}"


def test_fast_ivf_plan_has_no_cross_join_or_window(spark):
    """The whole point: no N x K CROSS JOIN, no row_number window over it —
    one MapInPandas over the embeddings scan feeds the cosine re-rank."""
    df = em.queries()["ann_ivf_topk"](spark, "/root/testdata/sf0.001")
    jvm = df.sparkSession._jvm
    plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "MapInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
