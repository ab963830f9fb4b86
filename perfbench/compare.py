#!/usr/bin/env python3
"""Compare benchmark results: medians of every metric, new against base.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result records written by run.py (perfbench/out/*.json),
or directories of them (one record per seed). Records are grouped by
workload and trace mode. A group whose base was taken on a different core
count is not compared: it prints "no baseline at N cores".
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*-seed*-trace*.json")))
    groups = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        groups.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    return groups


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for key, recs in sorted(new.items()):
        workload, trace = key
        cores = sorted({r["box"]["nproc"] for r in recs})
        label = f"{workload} (trace {int(trace)})"
        olds = base.get(key, [])
        if not olds or sorted({r["box"]["nproc"] for r in olds}) != cores:
            print(f"{label}: no baseline at {','.join(map(str, cores))} cores")
            continue
        print(f"{label}: base {len(olds)} runs, new {len(recs)} runs, {cores[0]} cores")
        for name, m in recs[0]["metrics"].items():
            b = [r["metrics"][name]["value"] for r in olds if r["metrics"].get(name, {}).get("n")]
            n = [r["metrics"][name]["value"] for r in recs if r["metrics"].get(name, {}).get("n")]
            if not b or not n or None in b or None in n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = f"{(mn - mb) / mb:+.1%}" if mb else "n/a"
            print(f"  {name:55s} {mb:14.6g} -> {mn:14.6g} {m['unit']:6s} {change}")


if __name__ == "__main__":
    main()
