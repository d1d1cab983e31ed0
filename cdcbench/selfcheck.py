#!/usr/bin/env python3
"""The benchmark's check of itself.

    python3 cdcbench/selfcheck.py

1. A smoke-size run of every workload, untraced and traced: each must print
   every metric BENCHMARK.json declares, with its unit (run.py fails
   otherwise), report `correct: true` and no failed operation. Smoke runs
   also check that the oracle comparison reports a mismatch when one row is
   dropped from each checked table, so the check is not vacuous.
2. A directory holding only BENCHMARK.json and the benchmark's files must
   make the benchmark exit with an error and print no result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))
from run import WORKLOADS  # noqa: E402


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "cdcbench/run.py"] + args, cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS), "workloads differ"
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            p = run(["--workload", w, "--seed", "7", "--seconds", "3", "--trace", str(trace),
                     "--smoke", "1"])
            if p.returncode != 0:
                problems.append(f"{w} trace={trace}: exit {p.returncode}: {p.stderr[-400:]}")
                continue
            res = json.loads(p.stdout.splitlines()[-1])
            names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            if sorted(res["metrics"]) != sorted(names):
                problems.append(f"{w} trace={trace}: metric names differ")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: correct={res['correct']} "
                                f"failed={res['failed']} attempted={res['attempted']}")
            caught = [ln for ln in p.stdout.splitlines() if ln.startswith("# check failed")]
            if caught:
                problems.append(f"{w} trace={trace}: " + "; ".join(caught))
            print(f"ok {w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations")

    bare = ROOT / ".bench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    shutil.copytree(BENCH_DIR, bare / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        problems.append("a checkout without the engine did not fail cleanly")
    else:
        print("ok a checkout without the engine fails: " + p.stderr.strip().splitlines()[-1])

    if problems:
        print("\n".join("FAIL " + x for x in problems))
        sys.exit(1)
    print("selfcheck passed")


if __name__ == "__main__":
    main()
