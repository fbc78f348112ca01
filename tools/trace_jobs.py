#!/usr/bin/env python3
"""Print each op of a perfbench span file with its layer calls and their jobs.

A traced perfbench run writes every driver span and every Spark job it
attributed to an op into `perfbench/work/<workload>/trace/*.jsonl`, one JSON
object a line: `id`, `op`, `name`, `parent` (-1 for an op's own span),
`start_ms`, `end_ms` and `self_ms`. Job spans are named `job <id>` and hang
under the innermost driver span of their op that contains their submission.

This prints, for every op in start order, its wall time and job count, then
its span tree: each layer call (e.g. `TradePipeline.run`,
`JsonSink.writeSingleJsonArray`) with its wall and self time, and under it
the jobs it submitted with their start offset from the op's start and their
duration.

Usage:
  python3 tools/trace_jobs.py TRACE.jsonl [--op SUBSTRING]

`--op` keeps only the ops whose id contains SUBSTRING (e.g. `w1.` for the
second warm pass of etl_bulk).
"""
import argparse
import json
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def is_job(span):
    return span["name"].startswith("job ")


def dur(span):
    """Wall time in ms; NaN when the span never ended (written as null)."""
    if span["end_ms"] is None or span["start_ms"] is None:
        return float("nan")
    return span["end_ms"] - span["start_ms"]


def self_ms(span):
    return float("nan") if span["self_ms"] is None else span["self_ms"]


def print_op(op, children):
    def jobs_under(s):
        return sum(1 for c in walk(s, children) if is_job(c))

    def show(s, depth):
        pad = "  " * depth
        for c in sorted(children[s["id"]], key=lambda c: c["start_ms"]):
            if is_job(c):
                offset = c["start_ms"] - op["start_ms"]
                print(f"{pad}{c['name']:<10} +{offset:8.1f} ms  {dur(c):8.1f} ms")
            else:
                print(f"{pad}{c['name']}  {dur(c):.1f} ms  self {self_ms(c):.1f} ms  "
                      f"{jobs_under(c)} jobs")
            show(c, depth + 1)

    print(f"{op['op']}  {dur(op):.1f} ms  {jobs_under(op)} jobs")
    show(op, 1)


def walk(s, children):
    for c in children[s["id"]]:
        yield c
        yield from walk(c, children)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("trace")
    ap.add_argument("--op", default="")
    args = ap.parse_args()
    spans = load(args.trace)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    ops = sorted((s for s in children[-1] if args.op in s["op"]), key=lambda s: s["start_ms"])
    for op in ops:
        print_op(op, children)


if __name__ == "__main__":
    main()
