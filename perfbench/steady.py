#!/usr/bin/env python3
"""Steadiness check: two sets of runs per workload, each run with its
own seed, then per metric the medians, quartiles and the spread
(interquartile range / median) of each set against the metric's bound.

  python3 perfbench/steady.py [--runs 10] [--workloads a,b]
      [--out results.json]

Results go to --out as {"<set>": {"<workload>": [result, ...]}}, which
compare.py reads. Spreads above a third of the bound are marked `!`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SETS = 2
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, text=True, cwd=REPO)
    if r.returncode != 0:
        raise SystemExit(f"run failed: {workload} seed {seed}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def summary(results, metric):
    vals = [r["metrics"][metric]["value"] for r in results]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(sets, metrics):
    bounds = {m["name"]: m.get("bound") for m in metrics}
    lines = []
    for wl in sorted(next(iter(sets.values()))):
        lines.append(f"## {wl}")
        for s, res in sets.items():
            att = [r["attempted"] for r in res[wl]]
            fail = [r["failed"] for r in res[wl]]
            lines.append(f"set {s}: attempted {min(att)}-{max(att)}, failed "
                         f"{sum(fail)}/{sum(att)}")
        lines.append(f"{'metric':28s} {'set':>3s} {'median':>12s} {'q1':>12s} "
                     f"{'q3':>12s} {'spread':>8s} {'bound':>6s}")
        for name in bounds:
            meds = []
            for s, res in sets.items():
                med, q1, q3, spread = summary(res[wl], name)
                meds.append(med)
                b = bounds[name]
                flag = "!" if b is not None and name != "setup_s" and spread > b / 3 else ""
                lines.append(f"{name:28s} {s:>3s} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                             f"{spread:8.3f} {b if b is not None else '-':>6}{flag}")
            if meds[0]:
                lines.append(f"{'':28s} median shift {(meds[1] - meds[0]) / meds[0]:+.3f}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    b = spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in b["workloads"]]
    sets = {}
    for s in range(SETS):
        sets[str(s + 1)] = {wl: [one_run(wl, 1000 * (s + 1) + i, b["run_seconds"])
                                 for i in range(a.runs)] for wl in workloads}
        if a.out:
            with open(a.out, "w") as fh:
                json.dump(sets, fh)
    print(report(sets, b["end_to_end"]))


if __name__ == "__main__":
    main()
