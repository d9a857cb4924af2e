#!/usr/bin/env python3
"""Builds the KG-construction program and the benchmark harness.

Compiles the program's sources (`src/main/scala`) together with the
harness (`kgbench/src`) with the Scala compiler that ships in
`$SPARK_HOME/jars`, and packs the classes into `.bench_build/kgbench/
kgbench.jar`. A stamp over the source contents skips the compile when
nothing changed.

    python3 kgbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = ROOT / "kgbench" / "src"
OUT = ROOT / ".bench_build" / "kgbench"
CLASSES = OUT / "classes"
JAR = OUT / "kgbench.jar"
STAMP = OUT / "kgbench.stamp"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = sorted(Path(home, "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar under {home}/jars")
    return jars


def sources():
    if not (PROGRAM_SRC / "graft" / "Pipeline.scala").is_file():
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(j.name.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compiles if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    cp = os.pathsep.join([str(JAR), str(jars[0].parent / "*")])
    if STAMP.is_file() and STAMP.read_text() == stamp and JAR.is_file():
        return cp
    for stale in (STAMP, JAR):
        stale.unlink(missing_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    jar_cp = os.pathsep.join(str(j) for j in jars)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", jar_cp, f"@{args_file}"]
    print(f"[kgbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(CLASSES).as_posix())
    STAMP.write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
