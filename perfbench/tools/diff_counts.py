#!/usr/bin/env python3
"""Diff the per-operation work counts of two traced runs, exactly.

    python3 perfbench/tools/diff_counts.py perfbench/out/A.json perfbench/out/B.json

A traced run (`run.py --trace 1`) writes, for each operation of its traced
pass, the jobs, stages, tasks, shuffle bytes and pinned blocks it caused.
For a fixed config these are counts, not timings: comparing the traces of
a parent and a change catches work computed twice without a noise band.
Prints every count that differs, with both values, and exits 1 if any does.
"""
import json
import sys


def counts(path):
    with open(path) as f:
        trace = json.load(f)
    return trace["workload"], {op["name"]: op["counts"] for op in trace["ops"]}


def diff(a, b):
    """[(op, count, value in a, value in b)] for every count that differs;
    an operation present on one side only differs in every count."""
    out = []
    for op in sorted(set(a) | set(b)):
        ca, cb = a.get(op, {}), b.get(op, {})
        for k in sorted(set(ca) | set(cb)):
            if ca.get(k) != cb.get(k):
                out.append((op, k, ca.get(k), cb.get(k)))
    return out


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (wa, a), (wb, b) = counts(argv[0]), counts(argv[1])
    if wa != wb:
        print(f"different workloads: {wa} vs {wb}", file=sys.stderr)
        return 2
    rows = diff(a, b)
    for op, k, va, vb in rows:
        print(f"{op}\t{k}\t{va}\t{vb}")
    n = sum(len(c) for c in a.values())
    print(f"{wa}: {len(rows)} of {n} counts differ", file=sys.stderr)
    return 1 if rows else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
