#!/usr/bin/env python3
"""KG-construction benchmark: one closed-loop workload per run.

    python3 kgbench/run.py --workload kg_bulk --seed 1 --seconds 15 --trace 0

Builds the program and the harness if needed (kgbench/build.py), then runs
the harness (graft.kgbench.Main) in one local[N] Spark JVM. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Every other stdout line is detail
(per-operation times, loadavg, steal%). All scratch data lives under
.bench_build/kgbench/ and is removed when the run ends; trace spans are
kept in .bench_build/kgbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
HERE = Path(__file__).resolve().parent
WORKLOADS = ("kg_bulk", "kg_headskew", "kg_stream")
ARCHIVE = build.OUT / "kgbench.jsa"
ARCHIVE_STAMP = build.OUT / "kgbench.jsa.stamp"
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
# the harness must end well inside the 180 s a run is allowed
HARNESS_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# repository's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=os.cpu_count() or 1,
                   help="local[N] cores (default: all)")
    p.add_argument("--timeout", type=float, default=HARNESS_TIMEOUT_S,
                   help="seconds the harness may take")
    return p.parse_args()


def java_cmd(a, cp, work, traces, jvm_extra=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation: the resident set then follows
    # what the program keeps live, not the collector's resizing decisions
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData",
             f"-XX:ActiveProcessorCount={a.cores}",
             # more JIT threads than the default for the core count: a run
             # reaches its steady state in fewer operations
             f"-XX:CICompilerCount={a.cores + 2}",
             *jvm_extra,
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens
            + ["-cp", cp, "graft.kgbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cores", str(a.cores), "--work", str(work),
               "--traces", str(traces),
               "--fingerprints", str(HERE / "fingerprints.json")])


def run_harness(cmd, timeout):
    """Runs the harness; returns its stdout lines, or None on failure."""
    # Spark's local dirs stay under the run's work dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[kgbench] harness timed out after {timeout} s", file=sys.stderr)
        return None
    if proc.returncode != 0:
        print(f"[kgbench] harness exited with {proc.returncode}", file=sys.stderr)
        return None
    return out.splitlines()


def harness(a, cp, jvm_extra=()):
    """Runs the harness in a fresh work dir, removed afterwards."""
    work = build.OUT / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = build.OUT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    try:
        return run_harness(java_cmd(a, cp, work, traces, jvm_extra), a.timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def class_archive(a, cp):
    """The JVM class-data archive of the harness, made once per build by a
    short kg_stream run (it loads the classes of every workload's path):
    it takes class loading out of every later run's JVM start."""
    stamp = build.STAMP.read_text()
    use = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    if ARCHIVE.is_file() and ARCHIVE_STAMP.is_file() and \
            ARCHIVE_STAMP.read_text() == stamp:
        return use
    ARCHIVE_STAMP.unlink(missing_ok=True)
    tmp = ARCHIVE.with_suffix(".tmp")
    tmp.unlink(missing_ok=True)
    dump = argparse.Namespace(**{**vars(a), "workload": "kg_stream",
                                 "seconds": 1.0, "trace": 0})
    print("[kgbench] making the class-data archive", file=sys.stderr, flush=True)
    harness(dump, cp, [f"-XX:ArchiveClassesAtExit={tmp}"])
    if not tmp.is_file():
        return []
    os.replace(tmp, ARCHIVE)
    ARCHIVE_STAMP.write_text(stamp)
    return use


def main():
    a = parse_args()
    try:
        cp = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[kgbench] build failed: {e}", file=sys.stderr)
        return 2
    lines = harness(a, cp, class_archive(a, cp))
    if not lines:
        return 3
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        print("[kgbench] harness printed no result line", file=sys.stderr)
        return 4
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"[kgbench] exit {code} after {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
