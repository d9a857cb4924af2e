#!/usr/bin/env python3
"""Pins table fingerprints from benchmark runs.

    python3 kgbench/pin.py runs.jsonl [more.jsonl ...]

Reads the detail lines that kgbench/run.py prints (spread.py --out keeps
them) and adds to kgbench/fingerprints.json the whole-table fingerprint
[triples, bit_xor of xxhash64(subj, pred, obj)] of each (workload, seed)
whose run was correct and checked its tables against the second path (the
at-scale pipeline variant for the build workloads, DocStream.currentView
for kg_stream). A seed pinned already must agree with the new run.
"""
import json
import sys
from pathlib import Path

PINS = Path(__file__).resolve().parent / "fingerprints.json"


def main(paths):
    pins = json.loads(PINS.read_text()) if PINS.is_file() else {}
    added = 0
    for path in paths:
        lines = Path(path).read_text().splitlines()
        for detail_line, result_line in zip(lines, lines[1:]):
            if not detail_line.startswith('{"detail"'):
                continue
            d = json.loads(detail_line)["detail"]
            r = json.loads(result_line)
            if not r.get("correct") or d.get("expected_from") != "second_path":
                continue
            seeds = pins.setdefault(d["workload"], {})
            key = str(d["seed"])
            if key in seeds and seeds[key] != d["fingerprint"]:
                sys.exit(f"{d['workload']} seed {key}: {d['fingerprint']} "
                         f"differs from pinned {seeds[key]}")
            if key not in seeds:
                added += 1
            seeds[key] = d["fingerprint"]
    for w in pins:
        pins[w] = dict(sorted(pins[w].items(), key=lambda kv: int(kv[0])))
    PINS.write_text("{\n" + ",\n".join(
        f" {json.dumps(w)}: {{\n" + ",\n".join(
            f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in pins[w].items())
        + "\n }" for w in sorted(pins)) + "\n}\n")
    print(f"pinned {added} new fingerprints in {PINS}")


if __name__ == "__main__":
    main(sys.argv[1:])
