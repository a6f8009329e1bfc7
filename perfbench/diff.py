#!/usr/bin/env python3
"""Compare benchmark sidecars (.bench_out/*.json) of two commits.

    python3 perfbench/diff.py --a A1.json A2.json ... --b B1.json B2.json ...

Deterministic counters (jobs, stages, tasks and bytes of each operation's
first traced execution) are compared exactly, between sidecars of the same
workload and seed. Every timed or measured value (end-to-end metrics and
per-layer metrics) is compared only as medians over the runs of each side:
a change is flagged when the medians differ by more than the larger of the
two sides' quartile spreads.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(paths):
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def values(side, section):
    """metric name -> list of values over the runs of one side."""
    acc = defaultdict(list)
    for d in side:
        sec = d.get(section) or {}
        for k, v in (sec.items() if isinstance(sec, dict) else []):
            acc[(d["workload"], k)].append(v["value"])
    return acc


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def counter_diffs(a, b):
    """(workload, seed, op, counter, a values, b values) wherever they differ."""
    def index(side):
        acc = defaultdict(set)
        for d in side:
            for op, cs in (d.get("counters") or {}).items():
                for c, v in cs.items():
                    acc[(d["workload"], d["seed"], op, c)].add(v)
        return acc
    ia, ib = index(a), index(b)
    rows = []
    for key in sorted(set(ia) & set(ib)):
        if ia[key] != ib[key] or len(ia[key]) > 1:
            rows.append(key + (sorted(ia[key]), sorted(ib[key])))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", nargs="+", required=True, help="sidecars of the base commit")
    ap.add_argument("--b", nargs="+", required=True, help="sidecars of the changed commit")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    changed = 0
    print("# counters (exact, same workload and seed)")
    for w, seed, op, c, va, vb in counter_diffs(a, b):
        tag = "UNSTABLE" if len(va) > 1 or len(vb) > 1 else "CHANGED"
        print(f"{tag:9} {w} seed={seed} {op} {c}: {va} -> {vb}")
        changed += 1
    print("# measured values (medians over runs)")
    for section in ("e2e", "layers"):
        va, vb = values(a, section), values(b, section)
        for key in sorted(set(va) & set(vb)):
            ma, mb = statistics.median(va[key]), statistics.median(vb[key])
            noise = max(spread(va[key]), spread(vb[key]))
            flag = "changed" if abs(mb - ma) > noise and ma != mb else "same"
            rel = f"{(mb - ma) / ma * 100:+.1f}%" if ma else "n/a"
            print(f"{flag:8} {key[0]} {key[1]}: {ma:.6g} -> {mb:.6g} ({rel}; "
                  f"spread {noise:.3g}; n={len(va[key])}/{len(vb[key])})")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
