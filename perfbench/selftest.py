"""Tiny-size self-test of the benchmark.

Runs every workload of ``BENCHMARK.json`` end to end at a small input size,
untraced and traced, and checks the result line against the benchmark's
contract. Then it runs the extract and resume workloads once more with one
output row deliberately altered and checks that the correctness check
counts exactly that doc as failed. Run from the root of a checkout::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.02"


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(res: dict, names: set[str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    assert isinstance(res["failed"], int), res
    assert set(res["metrics"]) == names, set(res["metrics"]) ^ names
    for m in res["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float)), m


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    end_to_end = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, names in ((0, end_to_end), (1, per_layer)):
            res = run(w["name"], trace)
            check_result(res, names)
            assert res["correct"] and res["failed"] == 0, (w["name"], trace, res)
            if trace == 0:
                assert all(m["value"] > 0 for m in res["metrics"].values()), res
            print(f"ok  {w['name']} trace={trace} attempted={res['attempted']}")
    for workload in ("skewed_fused", "resume_merge"):
        res = run(workload, 0, "--corrupt")
        assert not res["correct"] and res["failed"] == 1, (workload, res)
        print(f"ok  {workload} with one corrupted row: failed={res['failed']}")
    # in a directory holding only BENCHMARK.json and the benchmark, the
    # benchmark must fail without printing a result
    bare = os.path.join(ROOT, ".perfbench_cache", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "skewed_fused",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0 and not proc.stdout.strip(), proc
    print("ok  refuses to run without the engine sources")
    return 0


if __name__ == "__main__":
    sys.exit(main())
