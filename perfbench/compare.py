#!/usr/bin/env python3
"""Side-by-side comparison of two result files.

  python3 perfbench/compare.py BASE.json NEW.json

A result file is what steady.py --out writes ({"<set>": {"<workload>":
[result, ...]}}). For every workload and every metric either file
carries (end-to-end and per-layer), it prints the median of each side,
over all its sets, and the relative change.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as fh:
        data = json.load(fh)
    merged = {}
    for s in data.values():
        for wl, results in s.items():
            merged.setdefault(wl, []).extend(results)
    return merged


def medians(results):
    out = {}
    for r in results:
        for name, m in r["metrics"].items():
            out.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return {k: (u, statistics.median(v)) for k, (u, v) in out.items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted(set(base) | set(new)):
        a, b = medians(base.get(wl, [])), medians(new.get(wl, []))
        print(f"## {wl}")
        print(f"{'metric':32s} {'unit':>9s} {'base':>12s} {'new':>12s} {'change':>8s}")
        for name in sorted(set(a) | set(b)):
            unit = (a.get(name) or b.get(name))[0]
            va = a.get(name, (unit, float("nan")))[1]
            vb = b.get(name, (unit, float("nan")))[1]
            ch = f"{(vb - va) / va:+.1%}" if va else "-"
            print(f"{name:32s} {unit:>9s} {va:12.5g} {vb:12.5g} {ch:>8s}")


if __name__ == "__main__":
    main()
