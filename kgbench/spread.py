#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 kgbench/spread.py --workload kg_bulk --seeds 1-10 [--out f.jsonl]

Runs kgbench/run.py once per seed, one run at a time, and prints for each
end-to-end metric of BENCHMARK.json its median and the distance between
the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)), beside the metric's bound. Each run's
detail and result lines are appended to --out when given.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    a = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds_of(a.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = r.stdout.splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        if a.out:
            with open(a.out, "a") as f:
                f.write("\n".join(lines[-2:]) + "\n")
        res = json.loads(lines[-1])
        print(f"seed {seed}: wall={wall:.0f}s correct={res['correct']}"
              f" attempted={res['attempted']}"
              f" failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} n={len(vs):2d} median={med:.5g} spread={spread:.4f}"
              f" bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
