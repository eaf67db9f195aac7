#!/usr/bin/env python3
"""Summarize the run records the benchmark leaves in .bench_build/perfbench/runs.

For each workload: the median and quartiles of every end-to-end metric over
the untraced runs, with host load; then, for each seed that has both an
untraced and a traced run of the workload, the tracing overhead (traced
minus untraced p50_ms and items_per_s).

Usage, from the root of a checkout: python3 perfbench/summary.py
"""
import collections
import glob
import json
import os
import statistics


def load():
    runs = collections.defaultdict(list)
    for path in sorted(glob.glob(os.path.join(".bench_build", "perfbench", "runs", "*.json"))):
        with open(path) as fh:
            r = json.load(fh)
        if all(isinstance(v, (int, float)) for v in r["metrics"].values()):
            runs[(r["workload"], r["trace"])].append(r)
    return runs


def main():
    runs = load()
    for (wl, traced), rs in sorted(runs.items()):
        if traced:
            continue
        loads = [float(r["host_start"]["loadavg"].split()[0]) for r in rs]
        print(f"{wl}: {len(rs)} untraced runs, {sum(r['correct'] for r in rs)} correct, "
              f"1-min load at start {min(loads):.2f}..{max(loads):.2f}")
        for name in rs[0]["metrics"]:
            v = [r["metrics"][name] for r in rs]
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
            med = statistics.median(v)
            print(f"  {name:12s} median {med:10.4g}  q1 {q[0]:10.4g}  q3 {q[2]:10.4g}  "
                  f"spread {(q[2] - q[0]) / med:.3f}")
        plain = {r["seed"]: r for r in rs}
        for t in runs.get((wl, True), []):
            u = plain.get(t["seed"])
            if u is None:
                continue
            for name in ("p50_ms", "items_per_s"):
                a, b = u["metrics"][name], t["detail"][f"{wl}.{name}"]
                print(f"  seed {t['seed']} tracing overhead on {name}: "
                      f"{a:.4g} -> {b:.4g} ({(b - a) / a:+.1%})")


if __name__ == "__main__":
    main()
