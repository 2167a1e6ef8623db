"""Smoke mode: run every workload once at the smallest scale (the
sf0.001-sized person corpus, a 400-doc text corpus), traced and untraced,
and assert that every metric BENCHMARK.json names prints with its unit and
that every output check passes.  Also asserts that the benchmark fails,
without printing a result, in a directory that holds only the benchmark.

    python3 perfbench/smoke.py

Takes about six minutes on a 4-core machine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            p = run(ROOT, wl, trace)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-4000:])
                raise SystemExit(f"{wl} trace={trace}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                raise SystemExit(f"{wl}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"{wl} trace={trace}: checks failed: {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                raise SystemExit(
                    f"{wl} trace={trace}: metrics differ from BENCHMARK.json:"
                    f" missing {sorted(set(want[trace]) - set(got))}, extra "
                    f"{sorted(set(got) - set(want[trace]))}, units "
                    f"{[k for k in got if want[trace].get(k) != got[k]]}")
            print(f"ok {wl} trace={trace}", flush=True)

    # a directory with only BENCHMARK.json and the benchmark, no engine
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, spec["workloads"][0]["name"], 0)
        if p.returncode == 0 or p.stdout.strip():
            raise SystemExit("benchmark without the engine did not fail")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok no-engine run fails", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
