#!/usr/bin/env python3
"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py <before> <after>

Each argument is a result record written by run.py (perfbench/.work/results/
*.json) or a directory of them. Records are grouped by workload and trace
mode; for every metric the script prints the median of each side and the
relative change. It refuses (exit code 2) to compare records from hosts with
a different number of cores, or a set that mixes hosts.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    records = [json.load(open(f)) for f in files]
    if not records:
        sys.exit(f"no result records under {path}")
    return records


def nproc(records, label):
    cores = {r["host"]["nproc"] for r in records}
    if len(cores) != 1:
        print(f"refusing: {label} mixes hosts with {sorted(cores)} cores", file=sys.stderr)
        sys.exit(2)
    return cores.pop()


def medians(records):
    out = {}
    for r in records:
        key = (r["workload"], "trace" if r["trace"] else "e2e")
        for name, m in r["metrics"].items():
            out.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return {k: {n: statistics.median(v) for n, v in ms.items()} for k, ms in out.items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    a, b = nproc(before, "before"), nproc(after, "after")
    if a != b:
        print(f"refusing: before ran on {a} cores, after on {b}", file=sys.stderr)
        sys.exit(2)
    mb, ma = medians(before), medians(after)
    for key in sorted(set(mb) & set(ma)):
        print(f"{key[0]} ({key[1]})")
        for name in sorted(set(mb[key]) & set(ma[key])):
            x, y = mb[key][name], ma[key][name]
            change = f"{(y - x) / x:+.1%}" if x else "n/a"
            print(f"  {name:36s} {x:14.4f} -> {y:14.4f}  {change}")


if __name__ == "__main__":
    main()
