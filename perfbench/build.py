#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine (`src/main`, resources copied) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, so no build tool or dependency resolution is needed.

Usage: python3 perfbench/build.py        (from the repository root)

Classes go to `.bench_build/perfbench/classes/{engine,bench}`. A build
is skipped when a stamp of every source file and of the Spark jar list
matches the previous one. Prints the class path on success; exits
non-zero when the engine sources are missing or do not compile.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own build
    declares (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    return Path(m.group(1)) if m else Path("spark-jars-not-found")


SPARK_JARS = spark_jars()


def sources(top):
    return sorted(p for p in top.rglob("*") if p.suffix in (".scala", ".java") and p.is_file())


def resources(top):
    return sorted(p for p in top.rglob("*") if p.is_file())


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(os.listdir(SPARK_JARS)):
        h.update(j.encode())
    return h.hexdigest()


def scalac(srcs, dest, classpath):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-cp", classpath] + [str(s) for s in srcs]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {dest.name}")


def build():
    """Builds if needed; returns the class path for the harness JVM."""
    engine_src = sources(ROOT / "src" / "main")
    engine_res = resources(ROOT / "src" / "main" / "resources")
    bench_src = sources(ROOT / "perfbench" / "src")
    if not engine_src:
        raise SystemExit("build: no engine sources under src/main")
    if not SPARK_JARS.is_dir():
        raise SystemExit(f"build: no Spark jars at {SPARK_JARS}")
    engine, bench = OUT / "classes" / "engine", OUT / "classes" / "bench"
    spark_cp = str(SPARK_JARS / "*")
    stamp_file = OUT / "classes" / "STAMP"
    want = stamp(engine_src + engine_res + bench_src)
    if not (stamp_file.is_file() and stamp_file.read_text() == want):
        stamp_file.unlink(missing_ok=True)
        scalac(engine_src, engine, spark_cp)
        if (ROOT / "src" / "main" / "resources").is_dir():
            shutil.copytree(ROOT / "src" / "main" / "resources", engine, dirs_exist_ok=True)
        scalac(bench_src, bench, os.pathsep.join([str(engine), spark_cp]))
        stamp_file.write_text(want)
    return os.pathsep.join([str(bench), str(engine), spark_cp])


if __name__ == "__main__":
    print(build())
