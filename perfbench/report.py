#!/usr/bin/env python3
"""Read benchmark result sets written by `run.py --out FILE`.

    python3 perfbench/report.py A.jsonl            # medians and quartiles
    python3 perfbench/report.py A.jsonl B.jsonl    # B against A

One set prints, per workload and trace mode, every metric with its unit,
run count, median, quartiles and spread (quartile distance over median),
and the failed-operation count. Two sets print, workload by workload, the
ratio B/A of the medians for times and the exact difference B-A for jobs,
bytes and CPU. It is a reading aid: it gates nothing.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    groups = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                groups[(r["workload"], r["trace"])].append(r)
    return groups


def summary(records):
    values, units = defaultdict(list), {}
    for r in records:
        for k, m in r["metrics"].items():
            values[k].append(m["value"])
            units[k] = m["unit"]
    out = {}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        out[k] = (units[k], len(xs), med, q1, q3)
    return out


def is_time(name, unit):
    return unit in ("s", "ms") and "cpu" not in name


def show(path):
    for (w, trace), recs in sorted(load(path).items()):
        att = sum(r["attempted"] for r in recs)
        fail = sum(r["failed"] for r in recs)
        print(f"{w} (trace {trace}): {len(recs)} runs, seeds "
              f"{sorted({r['seed'] for r in recs})}, failed ops {fail}/{att}")
        for k, (unit, n, med, q1, q3) in summary(recs).items():
            spread = (q3 - q1) / med if med else 0.0
            print(f"  {k:<40} {med:14.4f} {unit:<6} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {spread:.3f} n={n}")


def compare(path_a, path_b):
    a, b = load(path_a), load(path_b)
    for key in sorted(set(a) & set(b)):
        sa, sb = summary(a[key]), summary(b[key])
        print(f"{key[0]} (trace {key[1]}): A {len(a[key])} runs, B {len(b[key])} runs")
        for k in sa:
            if k not in sb:
                continue
            unit, _, ma, _, _ = sa[k]
            mb = sb[k][2]
            if is_time(k, unit):
                ratio = f"{mb / ma:.3f}x" if ma else "n/a"
                print(f"  {k:<40} {ma:12.4f} -> {mb:12.4f} {unit:<6} ratio {ratio}")
            else:
                print(f"  {k:<40} {ma:12.4f} -> {mb:12.4f} {unit:<6} delta {mb - ma:+.4f}")
    for key in sorted(set(a) ^ set(b)):
        print(f"{key[0]} (trace {key[1]}): only in {'A' if key in a else 'B'}")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        show(sys.argv[1])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
