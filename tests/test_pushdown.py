"""Stage-1 threshold pushdown (SURVEY §4 O3): with emit_filtered_text=False,
non-kept block text never crosses the Arrow channel, while features and the
final extracted bytes are unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine import pipeline
from extraction import segment


def test_pushdown_drops_filtered_text_keeps_features(spark, pages_unit_path):
    pages = spark.read.parquet(pages_unit_path)
    full = pipeline.detect(pages, num_parts=4, emit_filtered_text=True)
    pushed = pipeline.detect(pages, num_parts=4, emit_filtered_text=False)

    keep = f"block_id >= 0 AND NOT ({pipeline.KEEP_PREDICATE})"
    # filtered blocks: text emptied under pushdown, but features identical
    assert pushed.filter(keep).filter("text != ''").count() == 0
    assert full.filter(keep).filter("text != ''").count() > 0

    cols = ["url", "block_id", "tag", "n_chars", "n_link_chars", "lang"]
    a = sorted(map(tuple, full.select(*cols).collect()))
    b = sorted(map(tuple, pushed.select(*cols).collect()))
    assert a == b

    # surviving blocks keep their text verbatim
    surv = F.expr(pipeline.KEEP_PREDICATE)
    sa = sorted(map(tuple, full.filter(surv).select("url", "block_id", "text").collect()))
    sb = sorted(map(tuple, pushed.filter(surv).select("url", "block_id", "text").collect()))
    assert sa == sb


@pytest.mark.parametrize(
    "n_chars,n_link_chars",
    [
        (segment.MIN_BLOCK_CHARS - 1, 0),
        (segment.MIN_BLOCK_CHARS, 0),
        (segment.MAX_BLOCK_CHARS, 0),
        (segment.MAX_BLOCK_CHARS + 1, 0),
        (30, 10),  # 3 * n_link_chars == n_chars
        (31, 10),  # 3 * n_link_chars == n_chars - 1
    ],
)
def test_keep_predicate_matches_segment_keep_at_boundaries(spark, n_chars, n_link_chars):
    """The Catalyst keep filter and the Python keep rule decide every
    threshold boundary the same way."""
    df = spark.createDataFrame(
        [(0, n_chars, n_link_chars)], "block_id int, n_chars int, n_link_chars int"
    )
    (row,) = df.select(F.expr(pipeline.KEEP_PREDICATE).alias("kept")).collect()
    assert row["kept"] == segment._keep(n_chars, n_link_chars)
