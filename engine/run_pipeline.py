"""CLI entry: run the extraction pipeline over a pages parquet.

Mirrors the reference's flagship CLI (``bilingual_ocr.py --input X --lang
auto --save-json``, SURVEY.md §3.1) as a spark-submit-able job::

    spark-submit --py-files dist/engine.zip engine/run_pipeline.py \
        --pages /data/pages.parquet --out /data/extracted \
        [--mode fused|staged] [--parts 32] [--resume] [--run-id r1]

``--resume`` performs the checkpointed-resume anti-join (J3) against the
existing output before processing, and the write is a MERGE-by-url (J4), so
a killed run re-launched with ``--resume`` converges to the same table as a
single clean run (tested in tests/test_resume.py).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import uuid

# spark-submit runs this file directly; make the repo root importable.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError  # noqa: E402
from pyspark.sql import DataFrame, Observation, functions as F  # noqa: E402

from engine import metrics as M  # noqa: E402
from engine import pipeline, tableio  # noqa: E402
from engine.session import get_spark  # noqa: E402


@contextlib.contextmanager
def _phase(sc, name: str, phases_ms: dict):
    """Label the Spark jobs of one pipeline phase with ``name`` (the job
    description; the caller's job group is left as it is) and add the
    phase's wall time to ``phases_ms``."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    t0 = time.monotonic()
    try:
        yield
    finally:
        phases_ms[name] = phases_ms.get(name, 0) + int((time.monotonic() - t0) * 1000)
        sc.setJobDescription(prev)


def _counted(df: DataFrame, name: str, counts: dict) -> DataFrame:
    """``df`` with an observed row count, read back by :func:`_count` once
    an action has run the plan — the count rides on that job."""
    obs = Observation()
    counts[name] = (obs, df)
    return df.observe(obs, F.count(F.lit(1)).alias("n"))


def _count(obs: Observation, df: DataFrame) -> int:
    """The count :func:`_counted` observed. When AQE proves a subtree empty
    at runtime it drops it from the final plan, and the observations inside
    it with it (their query stage still ran, maybe on rows a later gate
    removed): only then is ``df`` counted with a job of its own."""
    try:
        return obs.get["n"]
    except Py4JJavaError:
        return df.count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=False, default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument(
        "--lookup",
        default=None,
        metavar="URL",
        help="point lookup: print the extracted row for URL from <out> via "
        "bucket-pruned read (tableio.read_url) and exit — no extraction run",
    )
    ap.add_argument("--mode", default="fused", choices=["fused", "staged"])
    ap.add_argument("--parts", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--fallback",
        action="store_true",
        help="O5 empty-result retry ladder: keep the best-scoring block on "
        "docs where nothing passes the keep rule (status='fallback')",
    )
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--format",
        default="parquet",
        choices=["parquet", "jsonl", "warc", "warc-indexed"],
        help="pages input format (r4): parquet (default), JSONL crawl dump, "
        ".warc.gz archives (per-file parallelism), or offset-indexed WARC "
        "(per-record parallelism via the index.cdxj sidecar)",
    )
    ap.add_argument(
        "--emit-blocks",
        action="store_true",
        help="also write the stage-1 candidate-blocks table to <out>_blocks "
        "(SURVEY.md §1.3 intermediate data model)",
    )
    ap.add_argument(
        "--wet-out",
        default=None,
        metavar="DIR",
        help="r5: also export the merged extraction output as Common Crawl "
        "WET (.warc.wet.gz conversion records, one gzip member per doc) — "
        "the engine as a drop-in WET producer",
    )
    ap.add_argument(
        "--wat-out",
        default=None,
        metavar="DIR",
        help="r6: also export the INPUT pages' link/head metadata as Common "
        "Crawl WAT (.warc.wat.gz metadata records, JSON envelope per page) "
        "— completes the WARC/WET/WAT triple",
    )
    ap.add_argument(
        "--quality-min",
        type=float,
        default=None,
        metavar="P",
        help="r7: drop successfully-extracted docs whose trained "
        "quality-classifier probability (engine/logreg_model frozen "
        "weights, in-row broadcast-literal scoring) falls below P; "
        "error/empty rows pass through — they are the failure record "
        "coverage metrics count. Composition caveat (ADVICE r7): dropped "
        "urls are never recorded as done, so --resume re-extracts and "
        "re-drops them every invocation — deliberate (a raised threshold "
        "must be able to re-admit them), but it means 'remaining' does "
        "not converge to empty while the gate is active",
    )
    ap.add_argument(
        "--blocklist",
        default=None,
        metavar="TSV",
        help="r7: URL blocklist rules file (one 'kind<TAB>pattern' per "
        "line; kinds: host, host_suffix, path_prefix; '#' comments) — "
        "pages whose url a rule blocks are gated out BEFORE extraction "
        "(engine.urlgate: rules broadcast, corpus streams, zero shuffle)",
    )
    args = ap.parse_args()

    spark = get_spark(master=args.master)
    if args.lookup is not None:
        row = tableio.read_url(spark, args.out, args.lookup)
        hits = [r.asDict() for r in row.collect()] if row is not None else []
        print(json.dumps({"url": args.lookup, "rows": len(hits),
                          "status": [h.get("status") for h in hits]}))
        spark.stop()
        return
    if args.pages is None:
        ap.error("--pages is required unless --lookup is given")
    if args.format == "parquet":
        pages = spark.read.parquet(args.pages)
    elif args.format == "jsonl":
        from engine import sources

        pages = sources.read_pages_jsonl(spark, args.pages)
    else:
        from engine import sources

        reader = (
            sources.read_pages_warc_indexed
            if args.format == "warc-indexed"
            else sources.read_pages_warc
        )
        pages = (
            reader(spark, args.pages)
            .where("status = 'ok'")
            .select("url", "warc_ts", "html", "lang")
        )
    if args.blocklist:
        from engine import urlgate

        # gate FIRST: blocked urls never reach the WAT export, resume
        # anti-join, or extraction — the first filter of a crawl pipeline
        rules = []
        with open(args.blocklist, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                kind, _, pattern = line.partition("\t")
                if not pattern:
                    raise SystemExit(
                        f"--blocklist: malformed line (want kind<TAB>pattern): {line!r}"
                    )
                rules.append((kind, pattern))
        pages = urlgate.gate_urls(pages, urlgate.rules_df(spark, rules))
    sc = spark.sparkContext
    phases_ms: dict[str, int] = {}
    counts: dict[str, tuple[Observation, DataFrame]] = {}
    if args.wat_out:
        from engine import sources

        # WAT derives from the RAW pages (the DOM walk needs html), so it
        # exports before resume filtering — metadata covers every input
        # page of this invocation; distributed, one archive per partition.
        # Persist around the export (ADVICE r6): the export is a separate
        # job before the main pipeline, and without the persist the raw
        # source parse (jsonl/warc/wet resync) would run twice end-to-end.
        pages = raw_pages_persisted = pages.persist()
        with _phase(sc, "wat_export", phases_ms):
            sources.write_pages_wat_distributed(
                pages.select("url", "warc_ts", "html"), args.wat_out
            ).collect()  # tiny manifest (one row per file): forces the write
    else:
        raw_pages_persisted = None
    pages = _counted(pages, "pages_in", counts)
    if args.resume:
        pages = _counted(tableio.remaining(pages, args.out), "to_extract", counts)

    t0 = time.monotonic()
    with _phase(sc, "extract_stage", phases_ms):
        if args.emit_blocks:
            # MUST run before merge_by_url: with --resume, `pages` lazily
            # embeds a scan of the pre-merge output dir (tableio.remaining
            # anti-join); the merge changes that dir, so a detect() evaluated
            # afterwards would read deleted files or anti-join against the
            # merged table (ADVICE r1). Writing blocks first materializes
            # against the pre-merge snapshot.
            blocks = pipeline.detect(pages, num_parts=args.parts, fallback=args.fallback)
            tableio.write_table(blocks, f"{args.out}_blocks")
        extracted = _counted(
            pipeline.run_extract(
                pages, mode=args.mode, num_parts=args.parts, run_id=args.run_id,
                fallback=args.fallback,
            ),
            "extracted",
            counts,
        )
        if args.quality_min is not None:
            from engine.logreg import quality_p_expr
            from engine.logreg_model import TRAINED_WEIGHTS

            p = quality_p_expr(
                TRAINED_WEIGHTS,
                text="coalesce(extracted_text, '')",
                n_chars="length(coalesce(extracted_text, ''))",
            )
            extracted = _counted(
                extracted.where(
                    "status NOT IN ('ok', 'fallback') "
                    f"OR ({p}) >= {float(args.quality_min)!r}"
                ),
                "quality_kept",
                counts,
            )
        # Stage the run output once: merge_by_url reads its updates three
        # times (census, overlap check, write) and the run's metrics come
        # from the same rows — reading the live extraction lineage would
        # run the whole extraction each time. The gate counters ride on
        # this write.
        staging = f"{args.out}.staging-{uuid.uuid4().hex[:8]}"
        tableio.write_table(extracted, staging)
    seen = {k: _count(*v) for k, v in counts.items()}
    gates = {
        "pages_in": seen["pages_in"],
        "resume_skipped": seen["pages_in"] - seen.get("to_extract", seen["pages_in"]),
        "extracted": seen["extracted"],
        "quality_dropped": seen["extracted"] - seen.get("quality_kept", seen["extracted"]),
    }
    if raw_pages_persisted is not None:
        # last consumer of the raw pages lineage has materialized
        raw_pages_persisted.unpersist()
    try:
        staged = tableio.read_table(spark, staging, extracted.schema)
        with _phase(sc, "merge", phases_ms):
            merge = tableio.merge_by_url(spark, args.out, staged)
        wall_ms = int((time.monotonic() - t0) * 1000)
        # run-scoped accounting from the run's own staged rows: one small
        # aggregation, no scan of the merged table
        with _phase(sc, "metrics", phases_ms):
            metrics_df = M.partition_metrics(staged, args.run_id, wall_ms)
            per_part = metrics_df.collect()
            tableio.append_run(
                spark, f"{args.out}_metrics", args.run_id, per_part, metrics_df.schema
            )
            tableio.write_lineage(
                spark, args.out, args.run_id,
                [(r["part_id"], r["docs_in"]) for r in per_part], gates,
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    if args.wet_out:
        from engine import sources

        with _phase(sc, "wet_export", phases_ms):
            # the extracted table carries no lang column (language is an
            # input attribute); WET's language header is optional — emit
            # without it
            wet_src = tableio.read_table(spark, args.out).where(
                "status IN ('ok', 'fallback')"
            ).selectExpr(
                "url", "warc_ts", "coalesce(extracted_text, '') AS text",
                "CAST(NULL AS STRING) AS lang",
            )
            # distributed: each partition writes its own archive, no collect
            manifest = sources.write_pages_wet_distributed(wet_src, args.wet_out)
            manifest.collect()  # tiny (one row per written file): forces the write
    print(json.dumps({
        "rows": tableio.table_rows(spark, args.out), "wall_ms": wall_ms,
        "mode": args.mode, "phases_ms": phases_ms, "merge": merge, "gates": gates,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
