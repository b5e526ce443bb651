"""100k-document end-to-end soak: extract → bucketed merge → resume →
append of fresh urls → idempotent re-merge. The long-haul twin of tests/test_resume.py at 1000×
the fixture size, exercising memory behavior, the dirty-bucket merge path,
and the anti-join resume at the scaling corpus' skewed size distribution
(0.5–2 MB giant pages included).

    python scripts/soak.py [--docs 100000] [--out /tmp/soak_extracted]

Exit 0 = all invariants held (counts, zero resume work, zero dupes, the
fresh-url resume appends at most one file per bucket, update-wins lineage,
and the re-merge folds every bucket back to one data file).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def max_files_per_bucket(path: str) -> int:
    return max(
        sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("bucket=")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--out", default="/tmp/soak_extracted")
    ap.add_argument("--master", default="local[32]")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from engine import pipeline, tableio
    from engine.session import get_spark

    pages_path = f"/tmp/spark_graft_bench_pages_{args.docs}_v5.parquet"
    if not os.path.exists(pages_path):
        from fixtures.gen_pages import gen_rows, write_parquet

        write_parquet(gen_rows(args.docs, seed=42), pages_path)

    spark = get_spark(app_name="soak", master=args.master)
    pages = spark.read.parquet(pages_path)
    shutil.rmtree(args.out, ignore_errors=True)

    t0 = time.monotonic()
    tableio.merge_by_url(
        spark, args.out, pipeline.run_extract(pages, mode="fused", run_id="soak1")
    )
    wall = time.monotonic() - t0
    n = spark.read.parquet(args.out).count()
    assert n == args.docs, (n, args.docs)
    print(f"phase1: {n} rows merged in {wall:.1f}s ({n / wall:.0f} docs/s incl. write)")

    todo = tableio.remaining(pages, args.out).count()
    assert todo == 0, todo
    print("phase2: resume finds zero remaining work")

    # fresh urls nothing has extracted yet: the resume merges them through
    # the insert-only append path, one new file per dirty bucket
    fresh = pages.limit(1000).withColumn("url", F.concat("url", F.lit("#fresh")))
    todo = tableio.remaining(fresh, args.out)
    # materialized: the merge reads its updates three times, and the lazy
    # anti-join would re-run the extraction each time
    upd = pipeline.run_extract(todo, mode="fused", run_id="soak_fresh").localCheckpoint()
    got = tableio.merge_by_url(spark, args.out, upd)
    n_fresh = fresh.count()
    grown = spark.read.parquet(args.out)
    dupes = grown.groupBy("url").count().filter("count > 1").count()
    assert got["path"] == "append", got
    assert grown.count() == args.docs + n_fresh and dupes == 0, (grown.count(), dupes)
    most = max_files_per_bucket(args.out)
    assert most <= 2, most
    print(f"phase2b: resume appended {n_fresh} fresh rows "
          f"({got['dirty_buckets']} buckets, at most {most} files each, dupes=0)")

    upd = pipeline.run_extract(pages.limit(5000), mode="fused", run_id="soak2")
    tableio.merge_by_url(spark, args.out, upd)
    final = spark.read.parquet(args.out)
    dupes = final.groupBy("url").count().filter("count > 1").count()
    updated = final.filter("lineage = 'soak2'").count()
    n_rows = args.docs + n_fresh
    assert final.count() == n_rows and dupes == 0 and updated == 5000
    print(f"phase3: idempotent re-merge ok (rows={n_rows}, dupes=0, updated=5000)")

    # the re-merge dirties every bucket and rewrites each into one file (at
    # this table size every bucket is far below the rebalance split size),
    # folding the appended files back
    most = max_files_per_bucket(args.out)
    print(f"files: at most {most} data file(s) per bucket")
    assert most == 1, most
    spark.stop()


if __name__ == "__main__":
    main()
