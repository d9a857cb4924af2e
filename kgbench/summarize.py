#!/usr/bin/env python3
"""Summarizes benchmark runs kept as detail + result lines.

    python3 kgbench/summarize.py kgbench/baseline/e2e.jsonl

For each workload, prints the sample count, median and quartiles of every
metric, and the range of loadavg and steal% over the runs.
"""
import json
import statistics
import sys
from pathlib import Path


def runs(paths):
    for path in paths:
        lines = Path(path).read_text().splitlines()
        for detail, result in zip(lines, lines[1:]):
            if detail.startswith('{"detail"'):
                yield json.loads(detail)["detail"], json.loads(result)


def main(paths):
    by = {}
    for d, r in runs(paths):
        by.setdefault((d["workload"], d["cores"]), []).append((d, r))
    for (w, cores), rs in sorted(by.items()):
        print(f"## {w}, {cores} cores: {len(rs)} runs, seeds "
              f"{sorted(d['seed'] for d, _ in rs)}, "
              f"{sum(not r['correct'] for _, r in rs)} incorrect, "
              f"{sum(r['failed'] for _, r in rs)}/{sum(r['attempted'] for _, r in rs)} "
              "operations failed")
        steal = [d["steal_pct"] for d, _ in rs if d.get("steal_pct") is not None]
        load = [d["loadavg_start"][0] for d, _ in rs if d.get("loadavg_start")]
        if steal:
            print(f"steal% {min(steal):.2f}..{max(steal):.2f}, "
                  f"1-min loadavg at start {min(load):.2f}..{max(load):.2f}")
        print("| metric | unit | n | median | q1 | q3 | (q3-q1)/median |")
        print("| --- | --- | --- | --- | --- | --- | --- |")
        for k in rs[0][1]["metrics"]:
            vs = [r["metrics"][k]["value"] for _, r in rs]
            unit = rs[0][1]["metrics"][k]["unit"]
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            print(f"| {k} | {unit} | {len(vs)} | {med:.5g} | {q1:.5g} | {q3:.5g} | {spread:.3f} |")
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
