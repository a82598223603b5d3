#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--bench BENCHMARK.json]
    python3 perfbench/compare.py RUNS_DIR

With one directory, prints each workload x end-to-end metric's median,
quartiles and spread ((q3 - q1) / median) against the metric's bound.

Each directory holds the per-run reports run.py writes to .bench_runs/.
Untraced runs are compared per workload x end-to-end metric: each side's
median and quartiles, the share of paired runs the change wins (paired by
seed, or in seed order when the sides ran different seeds; ties count for
neither), and a verdict:

  improved     over at least ten pairs, the change wins at least nine tenths
               of them and the medians differ by more than the parent's own
               quartile distance
  no worse     the change's median is within the metric's bound of the
               parent's, and the parent's spread is within the bound
  regressed    the change's median is worse by more than the bound, with
               the parent's spread within the bound
  unresolved   the parent's spread is wider than the bound (unless every
               change run beats every parent run: then no worse), or fewer
               than ten pairs would claim a gain

Traced runs are compared per workload x per-layer figure (medians), with
each layer's self time first.
"""
import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


MIN_PAIRS = 10


def verdict(parent, change, better, bound):
    """parent, change: lists of values paired by position."""
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    spread = (p3 - p1) / pm if pm else float("inf")
    worse_by = sign * (cm - pm) / pm if pm else float("inf")
    win_frac = wins / len(pairs) if pairs else 0.0
    every_better = all(sign * (c - p) < 0 for c in change for p in parent)
    if pairs and win_frac >= 0.9 and abs(cm - pm) > (p3 - p1):
        v = "improved" if len(pairs) >= MIN_PAIRS else "unresolved"
    elif spread > bound:
        v = "no worse" if every_better else "unresolved"
    elif worse_by > bound:
        v = "regressed"
    else:
        v = "no worse"
    return {"wins": win_frac, "pairs": len(pairs), "spread": spread, "worse_by": worse_by,
            "verdict": v}


def by_workload_seed(runs, trace):
    out = {}
    for r in runs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], {}).setdefault(r["seed"], []).append(r)
    return out


def paired(a, b, key):
    """Values of `key(run)` on each side, paired by seed when both sides ran
    the same seeds, else by position in seed order."""
    common = sorted(set(a) & set(b))
    sa, sb = (common, common) if common else (sorted(a), sorted(b))
    n = min(len(sa), len(sb))
    return [key(a[s][0]) for s in sa[:n]], [key(b[s][0]) for s in sb[:n]]


def spreads(runs, bench):
    print(f"  {'workload':8s} {'metric':14s} {'n':>3s} {'q1':>10s} {'median':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s}")
    for w, by_seed in sorted(by_workload_seed(runs, 0).items()):
        for m in bench["end_to_end"]:
            xs = [r[0]["e2e"][m["name"]] for r in by_seed.values()]
            q1, med, q3 = quartiles(xs)
            spread = stats.quartile_spread(xs) if len(xs) > 1 else 0.0
            print(f"  {w:8s} {m['name']:14s} {len(xs):3d} {q1:10.4g} {med:10.4g} {q3:10.4g} "
                  f"{spread:7.3f} {m['bound']:6.2f}")


def main():
    ap = argparse.ArgumentParser(description="compare two sets of graft benchmark runs")
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    bench = json.load(open(a.bench))
    if a.change is None:
        spreads(load(a.parent), bench)
        return
    parent, change = load(a.parent), load(a.change)

    pa, ch = by_workload_seed(parent, 0), by_workload_seed(change, 0)
    print("end-to-end (untraced runs)")
    print(f"  {'workload':8s} {'metric':14s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'wins':>9s} {'spread':>7s} verdict")
    for w in sorted(set(pa) & set(ch)):
        for m in bench["end_to_end"]:
            xs, ys = paired(pa[w], ch[w], lambda r: r["e2e"][m["name"]])
            if not xs:
                continue
            v = verdict(xs, ys, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"  {w:8s} {m['name']:14s} {fmt(quartiles(xs)):>30s} {fmt(quartiles(ys)):>30s} "
                  f"{v['wins']:5.2f}/{v['pairs']:<3d} {v['spread']:7.3f} {v['verdict']}")

    pa, ch = by_workload_seed(parent, 1), by_workload_seed(change, 1)
    if set(pa) & set(ch):
        print("\nper-layer (traced runs, medians; self time first)")
    for w in sorted(set(pa) & set(ch)):
        names = set()
        for runs in list(pa[w].values()) + list(ch[w].values()):
            names |= set(runs[0]["layers"])
        order = sorted(names, key=lambda k: (not k.startswith("self."), k))
        for k in order:
            xs = [r[0]["layers"][k] for r in pa[w].values() if k in r[0]["layers"]]
            ys = [r[0]["layers"][k] for r in ch[w].values() if k in r[0]["layers"]]
            if not xs or not ys:
                continue
            mx, my = stats.median(xs), stats.median(ys)
            rel = f"{(my - mx) / mx:+8.1%}" if mx else "       -"
            print(f"  {w:8s} {k:40s} {mx:14.6g} {my:14.6g} {rel}")


if __name__ == "__main__":
    main()
