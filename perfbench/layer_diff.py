"""Layer attribution between two sets of traced benchmark runs.

    python3 perfbench/layer_diff.py BEFORE AFTER

BEFORE and AFTER are trace artifacts written by `run.py --trace 1`
(`.bench_build/traces/*.json`), or directories of them. Runs are grouped
by workload and each metric is reduced to its median over the runs on a
side. For every workload present on both sides it prints the change in
each layer's self time and in every per-layer counter that moved, then
names the layer whose self time moved most, with the end-to-end change
beside it for scale.
"""
import glob
import json
import os
import statistics
import sys

def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    by_workload = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        by_workload.setdefault(a["workload"], []).append(a)
    return by_workload


def medians(runs, key):
    names = set().union(*(r[key] for r in runs))
    return {n: statistics.median(r[key].get(n, 0.0) for r in runs) for n in names}


def fmt(v):
    return f"{v:.4g}"


def diff(before, after):
    for w in sorted(set(before) & set(after)):
        b, a = medians(before[w], "layer_metrics"), medians(after[w], "layer_metrics")
        eb, ea = medians(before[w], "end_to_end"), medians(after[w], "end_to_end")
        print(f"== {w}  (runs: {len(before[w])} before, {len(after[w])} after)")
        print(f"{'layer':<10} {'self_s before':>14} {'after':>10} {'change':>10}")
        moves = []
        layers = sorted({k[:-len(".self_s")] for k in set(a) | set(b) if k.endswith(".self_s")})
        for layer in layers:
            k = f"{layer}.self_s"
            d = a.get(k, 0.0) - b.get(k, 0.0)
            moves.append((abs(d), layer, d))
            print(f"{layer:<10} {fmt(b.get(k, 0.0)):>14} {fmt(a.get(k, 0.0)):>10} {d:>+10.4g}")
        print("counters that moved:")
        for k in sorted(set(a) | set(b)):
            if k.endswith(".self_s"):
                continue
            x, y = b.get(k, 0.0), a.get(k, 0.0)
            if x != y:
                rel = f" ({(y - x) / x:+.1%})" if x else ""
                print(f"  {k:<40} {fmt(x):>12} -> {fmt(y):<12}{rel}")
        print("end to end:")
        for k in sorted(set(ea) & set(eb)):
            x, y = eb[k], ea[k]
            rel = f" ({(y - x) / x:+.1%})" if x else ""
            print(f"  {k:<40} {fmt(x):>12} -> {fmt(y):<12}{rel}")
        size, layer, d = max(moves)
        print(f"moved: {layer} ({d:+.4g} s self time)\n" if size else "moved: none\n")
    for w in sorted(set(before) ^ set(after)):
        print(f"== {w}: traced on one side only, not compared\n")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    diff(load(sys.argv[1]), load(sys.argv[2]))
