#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's JVM side
(perfbench/scala) with the Scala compiler that ships in Spark's jars,
with no sbt and no network.

    python3 perfbench/build.py        # prints the runtime classpath

Classes go to .bench_build/perfbench/classes under the checkout root.
A build is skipped when a stamp over every source file (and the jar
list) matches the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars() -> Path:
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not os.environ.get("SPARK_HOME") or not jars.is_dir():
        raise SystemExit("build: SPARK_HOME must name a Spark install with a jars/ directory")
    return jars


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def sources() -> list:
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"build: source directory missing: {', '.join(missing)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(spark_jars().glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()


def build() -> str:
    """Compiles if the sources changed; returns the runtime classpath."""
    files = sources()
    want = stamp(files)
    if STAMP.is_file() and STAMP.read_text() == want and CLASSES.is_dir():
        return classpath()
    tmp = BUILD / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", jars,
           *map(str, files)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {proc.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return classpath()


if __name__ == "__main__":
    print(build())
