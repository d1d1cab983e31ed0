#!/usr/bin/env python3
"""Paired A/B of the benchmark: a parent revision against the working tree.

    python3 tools/ab_pairs.py --workdir DIR [--parent-rev HEAD~1] [--pairs 10]
                              [--seed 9001] [--workloads replay_bulk,live_tail]

The parent revision is exported with `git archive` into DIR/parent (a plain
copy of its tracked files, rebuilt only when the revision changes); the change
side is this checkout as it stands. Each pair runs

    python3 cdcbench/run.py --workload W --seed S --seconds 10 --trace 0

once on each side, alternating which side goes first, one run at a time.
For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, how many pairs the change won (ties count for
neither side), the parent's interquartile range, and whether a gain would be
claimable: at least nine tenths of the pairs won AND the medians apart by more
than the parent's IQR. Every run's JSON result is appended to DIR/runs.jsonl.
The script never modifies cdcbench/ or BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export_parent(rev: str, workdir: Path) -> Path:
    """Tracked files of `rev` under workdir/parent; re-exported only when the
    revision it holds differs."""
    sha = subprocess.check_output(["git", "rev-parse", rev], cwd=ROOT, text=True).strip()
    dest = workdir / "parent"
    stamp = workdir / "parent.rev"
    if dest.is_dir() and stamp.is_file() and stamp.read_text().strip() == sha:
        return dest
    subprocess.run(["rm", "-rf", str(dest)], check=True)
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {rev} failed")
    stamp.write_text(sha + "\n")
    return dest


def run_once(side: Path, workload: str, seed: int, seconds: float) -> dict:
    env = dict(os.environ)
    env.pop("CARGO_TARGET_DIR", None)  # each checkout builds into its own .bench_build
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=side, env=env, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(last)
    except json.JSONDecodeError:
        res = {"correct": False, "attempted": 0, "failed": -1, "metrics": {},
               "error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload: str, pairs: list, metrics: list) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs")
    bad = [(i, s) for i, pr in enumerate(pairs) for s in ("parent", "change")
           if not pr[s].get("correct") or pr[s].get("failed", 0) != 0]
    print("   every run correct with 0 failed" if not bad else f"   INCORRECT/FAILED runs: {bad}")
    print(f"   {'metric':<16}{'parent median [q1, q3]':>32}{'change median [q1, q3]':>32}"
          f"{'wins':>7}{'parent IQR':>12}  claimable")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(pr["parent"]["metrics"][name]["value"], pr["change"]["metrics"][name]["value"])
                for pr in pairs
                if name in pr["parent"].get("metrics", {}) and name in pr["change"].get("metrics", {})]
        if not both:
            print(f"   {name:<16} (no paired samples)")
            continue
        par, chg = [a for a, _ in both], [b for _, b in both]
        wins = sum(1 for a, b in both if (b < a if lower else b > a))
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        iqr = p3 - p1
        gain = (pm - cm) if lower else (cm - pm)
        claim = wins * 10 >= 9 * len(both) and gain > iqr
        print(f"   {name:<16}{f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>32}"
              f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>32}{f'{wins}/{len(both)}':>7}"
              f"{iqr:>12.4g}  {'yes' if claim else 'no'} ({(cm / pm - 1) * 100:+.1f} %)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workdir", required=True, help="directory for the parent copy and runs.jsonl")
    ap.add_argument("--parent-rev", default="HEAD~1")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=9001)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="replay_bulk,live_tail")
    args = ap.parse_args()

    workdir = Path(args.workdir).resolve()
    workdir.mkdir(parents=True, exist_ok=True)
    parent = export_parent(args.parent_rev, workdir)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    log = workdir / "runs.jsonl"
    results = {}
    for w in args.workloads.split(","):
        pairs = []
        for i in range(args.pairs):
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            pair = {}
            for side, d in order:
                pair[side] = run_once(d, w, args.seed, args.seconds)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": w, "pair": i, "side": side,
                                        "seed": args.seed, **pair[side]}) + "\n")
            pairs.append(pair)
            vals = {s: pair[s].get("metrics", {}) for s in pair}
            brief = ", ".join(f"{s}={v.get('read_p50_ms', {}).get('value', float('nan')):.0f}"
                              for s, v in vals.items())
            print(f"[{w} pair {i + 1}/{args.pairs}] read_p50_ms {brief}", flush=True)
        results[w] = pairs
    for w, pairs in results.items():
        report(w, pairs, spec["end_to_end"])


if __name__ == "__main__":
    main()
