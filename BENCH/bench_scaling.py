"""Scaling evidence at parallelism levels that follow the host (BASELINE.md
protocol).

No real cluster exists in this sandbox, so the north rule's N -> 4N executor
criterion is evidenced by running the identical fused-extraction job on the
identical input at three parallelism levels on one machine (fresh JVM per
measurement, warmed, same corpus, best of --runs). The levels are a
quarter, a half and all of ``$SPARK_GRAFT_CPUS`` (the host's cores when
unset; 1, 2 and 4 on a 4-core host), so no level oversubscribes the host:

- primary: quarter vs all (N vs 4N);
- secondary: half vs all, the top of the range, where concurrent
  HTML-parsing workers share one memory bus (a pure-Python
  multiprocessing control at the same levels shows the machine's own
  ceiling with no Spark involved), which a real 4N-executor cluster does
  not share (4N machines bring 4N memory buses). Both are reported, with
  the control, in BENCH/BASELINE.md.

    python BENCH/bench_scaling.py [--docs 100000] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _measure(master: str, pages: str, runs: int) -> dict:
    best = None
    for _ in range(runs):
        out = subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "BENCH", "run_throughput.py"),
                "--master", master, "--pages", pages,
            ],
            capture_output=True, text=True, check=True, cwd=REPO,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        if best is None or r["docs_per_sec"] > best["docs_per_sec"]:
            best = r
    return best


def scaling_levels(cpus: int) -> list[int]:
    """A quarter, a half and all of ``cpus`` cores, each at least one, with
    no level repeated."""
    return sorted({max(1, cpus // 4), max(1, cpus // 2), cpus})


def _pool_control(pages: str, levels, sample: int = 30000) -> dict:
    """Pure-Python multiprocessing control: same extraction work, no Spark.

    Shows the machine's own parse-scaling ceiling (memory bandwidth), so the
    Spark numbers can be judged against what the hardware allows.
    """
    import duckdb
    from multiprocessing import Pool

    rows = duckdb.sql(
        f"select url, html, lang from read_parquet('{pages}/*.parquet') limit {sample}"
    ).fetchall()
    out = {}
    for nproc in levels:
        chunks = [rows[i :: nproc * 4] for i in range(nproc * 4)]
        t0 = time.monotonic()
        with Pool(nproc) as pool:
            pool.map(_pool_work, chunks)
        out[nproc] = round(len(rows) / (time.monotonic() - t0), 1)
    return out


def _pool_work(chunk) -> int:
    from extraction import extract_document

    n = 0
    for u, h, l in chunk:
        n += extract_document(u, h, l).n_kept
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--skip-control", action="store_true")
    args = ap.parse_args()

    from bench import bench_pages_path

    pages = bench_pages_path(args.docs)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    levels = scaling_levels(cpus)
    lo, mid, hi = levels[0], levels[len(levels) // 2], levels[-1]
    runs = {n: _measure(f"local[{n}]", pages, args.runs) for n in levels}

    def eff(a: int, b: int) -> float | None:
        if a == b:
            return None
        return round((runs[b]["docs_per_sec"] / runs[a]["docs_per_sec"]) / (b / a), 3)

    eff_primary, eff_top = eff(lo, hi), eff(mid, hi)

    control = {} if args.skip_control else _pool_control(pages, levels)
    ctrl_eff = (
        round((control[hi] / control[mid]) / (hi / mid), 3)
        if control and mid != hi else None
    )
    if control:
        control_text = (
            "- pure-Python multiprocessing control (same "
            "`extraction.extract_document` work, no Spark, 30000 docs): "
            f"{json.dumps(control)} docs/sec at "
            f"{'/'.join(map(str, levels))} processes -> control "
            f"eff({mid}->{hi}) = {ctrl_eff}: the bare hardware's own "
            "efficiency at the top of the range.\n"
        )
    else:
        control_text = (
            "- (control skipped this run — see a prior full run for the "
            "no-Spark multiprocessing control isolating the machine "
            "ceiling.)\n"
        )
    peak_level, peak = max(runs.items(), key=lambda kv: kv[1]["docs_per_sec"])
    rows = "\n".join(
        f"| local[{n}] | {n} | {runs[n]['wall_sec']} | {runs[n]['docs_per_sec']} |"
        for n in levels
    )
    verdict = (
        "n/a" if eff_primary is None else "PASS" if eff_primary >= 0.8 else "FAIL"
    )

    md = f"""# BENCH/BASELINE.md — scaling evidence (generated by bench_scaling.py)

Protocol (BASELINE.md): identical fused-extraction job, identical seeded
corpus ({runs[hi]['docs']} docs, skewed size distribution incl. 0.5–2 MB giant
pages, {len(os.listdir(pages))} parquet files), fresh JVM per measurement,
one discarded warm-up pass, best of {args.runs} runs per level, at a
quarter, a half and all of the host's {cpus} cores. Zero-shuffle plan
(mapInArrow on scan partitions), Arrow batch = 128 rows.

| level | cores | wall (s) | docs/sec |
|---|---|---|---|
{rows}

**Primary N→4N evidence: eff({lo}→{hi}) = {eff_primary}** (target ≥ 0.8 →
{verdict})

Secondary: eff({mid}→{hi}) = {eff_top}. On a single box, concurrent
HTML-parse workers share one memory bus; this is a machine ceiling, not
an engine property:

{control_text}- a real 4N-executor cluster adds 4N independent memory buses, so the
  quarter→all measurement ({eff_primary}) is the faithful analog of N→4N
  executors.

Absolute peak throughput: {peak['docs_per_sec']} docs/sec at local[{peak_level}]
(at the top of the range, JVM task threads and Python workers contend for
the shared memory bus — where the peak lands varies run-to-run with host
interference; see CLAUDE.md measurement discipline).
"""
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve manually maintained sections below the generated block
    # (e.g. the r4 media-decode A/B table): everything from the sentinel
    # marker survives regeneration (review r4: a heading-based split would
    # break the day the generated template grows a "## " heading)
    extra = ""
    if os.path.exists(out_path):
        old = open(out_path, encoding="utf-8").read()
        cut = old.find("<!-- manual -->")
        if cut != -1:
            extra = "\n" + old[cut:]
    with open(out_path, "w", encoding="utf-8") as f:
        f.write(md + extra)
    print(json.dumps({"levels": levels, f"eff_{lo}_{hi}": eff_primary,
                      f"eff_{mid}_{hi}": eff_top, "control": control}))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
