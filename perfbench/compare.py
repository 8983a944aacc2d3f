#!/usr/bin/env python3
"""Compare two sets of benchmark results, for example parent and change.

    python3 perfbench/compare.py <parent_results_dir> <change_results_dir>

Each directory holds the per-run detail files ``run.py`` writes to
``.bench_work/results/`` (untraced runs are used). For every workload and
end-to-end metric it prints each side's median and quartiles, the pairs
the change won (runs paired by seed, else by order), and a verdict:

* ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's own spread (quartile distance over median)
  is wider than the bound, unless every change run beats every parent run;
* ``improved``: the change won at least nine tenths of the pairs and the
  medians differ by more than the parent's quartile distance;
* ``within bound`` otherwise.

A metric the workload does not exist to measure (see ``metrics.APPLIES``)
is printed as a stand-in and does not decide the exit code, which is 1
when any other metric regressed.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import APPLIES  # noqa: E402


def load(d):
    """{workload: [(seed, end_to_end dict)]} of the untraced runs in d."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        r = json.load(open(f))
        out.setdefault(r["workload"], []).append((r["seed"], r["end_to_end"]))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """(verdict, wins, pairs) for one metric; lists are paired in order."""
    sign = 1.0 if better == "lower" else -1.0
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if sign * (cm - pm) > bound * abs(pm):
        return "regressed", wins, len(pairs)
    if spread > bound and not all_better:
        return "unresolved", wins, len(pairs)
    if (wins + losses) and wins >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        return "improved", wins, len(pairs)
    return "within bound", wins, len(pairs)


def pair(a, b):
    """Pair runs by seed where both sides ran it, else by order."""
    bs = dict(b)
    common = [s for s, _ in a if s in bs]
    if len(common) >= min(len(a), len(b)):
        ad = dict(a)
        return [ad[s] for s in common], [bs[s] for s in common]
    n = min(len(a), len(b))
    return [m for _, m in a[:n]], [m for _, m in b[:n]]


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    parent, change = load(argv[1]), load(argv[2])
    worst = 0
    for w in sorted(set(parent) | set(change)):
        if w not in parent or w not in change:
            print(f"{w}: results on one side only")
            continue
        pa, ch = pair(parent[w], change[w])
        print(f"== {w} ({len(pa)} pairs)")
        for m in spec["end_to_end"]:
            xs = [r[m["name"]] for r in pa]
            ys = [r[m["name"]] for r in ch]
            v, wins, n = verdict(xs, ys, m["better"], m["bound"])
            q = quartiles(xs), quartiles(ys)
            applies = m["name"] in APPLIES.get(w, ())
            print(f"  {m['name']:<14} parent {q[0][1]:.4g} [{q[0][0]:.4g}, {q[0][2]:.4g}]  "
                  f"change {q[1][1]:.4g} [{q[1][0]:.4g}, {q[1][2]:.4g}] {m['unit']}  "
                  f"wins {wins}/{n}  {v}{'' if applies else '  (stand-in)'}")
            worst = max(worst, applies and v == "regressed")
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv))
