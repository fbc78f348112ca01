#!/usr/bin/env python3
"""Summarise an interleaved parent/change perfbench A/B pair by pair.

Side medians alone misread box drift: when the box switches between a
fast and a slow stretch in the middle of a set, each side's median lands
on whichever stretch most of its runs hit, and the two medians can differ
by 1.4x for identical code. A pair runs back to back, so its
change/parent ratio cancels the drift; the per-pair ratios, next to the
side medians and the parent's interquartile range, tell the two apart.

Usage:
  python3 tools/ab_pairs.py DIR [--benchmark BENCHMARK.json]

DIR holds one file per run, `parent.<seed>.json` and `change.<seed>.json`,
each the last (JSON) line `perfbench/run.py` prints. Seeds with only one
side are listed and left out of the ratios. Metric names, directions and
bounds come from the benchmark file's `end_to_end` list.
"""
import argparse
import json
import os
import re
import statistics


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def load(run_dir):
    """{(side, seed): result}, and the names of run files with no result."""
    runs, empty = {}, []
    for name in sorted(os.listdir(run_dir)):
        m = re.fullmatch(r"(parent|change)\.(\d+)\.json", name)
        if m:
            with open(os.path.join(run_dir, name)) as f:
                lines = f.read().strip().splitlines()
            if lines:
                runs[(m.group(1), int(m.group(2)))] = json.loads(lines[-1])
            else:
                empty.append(name)
    return runs, empty


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("dir")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as f:
        metrics = json.load(f)["end_to_end"]
    runs, empty = load(a.dir)
    seeds = sorted({s for _, s in runs})
    paired = [s for s in seeds if ("parent", s) in runs and ("change", s) in runs]
    unpaired = [s for s in seeds if s not in paired]

    def value(side, seed, name):
        return runs[(side, seed)]["metrics"][name]["value"]

    print(f"pairs: {len(paired)} (seeds {paired})" +
          (f"; unpaired seeds {unpaired}" if unpaired else "") +
          (f"; runs with no result: {empty}" if empty else ""))
    print("failed ops: " + ", ".join(
        f"{side}.{s}={runs[(side, s)]['failed']}" for side in ("parent", "change") for s in paired))
    print()
    print("| metric | parent median | parent IQR | change median | side ratio | "
          "pair-ratio median | change better | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for m in metrics:
        name = m["name"]
        if not paired or name not in runs[("parent", paired[0])]["metrics"]:
            continue
        par = [value("parent", s, name) for s in paired]
        chg = [value("change", s, name) for s in paired]
        ratios = [c / p if p else float("nan") for p, c in zip(par, chg)]
        lower = m["better"] == "lower"
        better = sum(1 for p, c in zip(par, chg) if (c < p if lower else c > p))
        q1, q3 = quartiles(par)
        pm, cm = statistics.median(par), statistics.median(chg)
        print(f"| {name} | {pm:.4g} | {q3 - q1:.3g} | {cm:.4g} | {cm / pm if pm else float('nan'):.3f} | "
              f"{statistics.median(ratios):.3f} | {better}/{len(paired)} | {m['bound']} |")
    print()
    print("per pair (change/parent):")
    for s in paired:
        cells = []
        for m in metrics:
            name = m["name"]
            if name in runs[("parent", s)]["metrics"]:
                p, c = value("parent", s, name), value("change", s, name)
                cells.append(f"{name} {c / p if p else float('nan'):.3f}")
        print(f"  seed {s}: " + ", ".join(cells))


if __name__ == "__main__":
    main()
