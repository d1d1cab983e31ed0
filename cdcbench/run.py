#!/usr/bin/env python3
"""The CDC engine's benchmark: one workload, one seed, one measured window.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (see build.py). The JVM runs one workload in
`local[<cores>]`; every path it touches is under `.bench_work/` in the
checkout. The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. The lines above it list everything the run measured.

`--smoke 1` runs the workload at a tiny size and also checks that the oracle
comparison reports a table with one row dropped (see selfcheck.py).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))
import build  # noqa: E402

WORKLOADS = ("replay_bulk", "live_tail")
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    sys.stderr.write(f"cdcbench: {msg}\n")
    sys.exit(code)


def declared(trace: bool) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(args, classes: Path, work: Path) -> dict:
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "cdcbench.RunMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work / "run"), "--smoke", str(args.smoke)]
    log_path = ROOT / ".bench_work" / f"{args.workload}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{args.workload} did not finish within {TIMEOUT_S} s (log: {log_path})", 3)
    if proc.returncode != 0:
        fail(f"{args.workload} exited with code {proc.returncode} (log: {log_path})", 3)
    lines = [ln for ln in out.splitlines() if ln.startswith("CDCBENCH_RESULT ")]
    if not lines:
        fail(f"{args.workload} printed no result (log: {log_path})", 3)
    return json.loads(lines[-1][len("CDCBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (src/main/scala) are missing: nothing to benchmark")
    want = declared(bool(args.trace))
    classes = build.build()
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(args, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    for note in res.get("notes", []):
        print(f"# {note}")
    for name in sorted(got):
        v = got[name]
        print(f"{name} = {v['value']} {v['unit']}")
    metrics = {}
    for name, unit in want.items():
        v = got.get(name)
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            fail(f"metric {name} was not measured")
        if v["unit"] != unit:
            fail(f"metric {name} has unit {v['unit']}, BENCHMARK.json says {unit}")
        metrics[name] = {"value": v["value"], "unit": unit}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
