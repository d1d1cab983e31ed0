#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own sources (cdcbench/src) into one class directory.

It calls the Scala compiler that ships with the Spark distribution directly
(no sbt, no dependency resolution), so it needs only a JDK and the Spark jars:

    python3 cdcbench/build.py            # build if the sources changed
    python3 cdcbench/build.py --print    # print the class directory

The output goes to $CARGO_TARGET_DIR (or .bench_build) under the checkout
root. A stamp holding the hash of every source file skips the compile when
nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH_DIR / "src"


def spark_jars() -> Path:
    """The jars of a Spark distribution that ships a Scala compiler:
    $SPARK_HOME, else the first `spark-submit` on PATH that belongs to one."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [(Path(d) / "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("build: no Spark distribution with a Scala compiler (set SPARK_HOME)")


def build_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not base.is_absolute():
        base = ROOT / base
    return base / "cdcbench"


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"build: engine sources not found at {ENGINE_SRC}")
    found = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    return [p for p in found if p.is_file()]


def build() -> Path:
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    path = build()
    if "--print" in sys.argv:
        print(path)
