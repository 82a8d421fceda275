#!/usr/bin/env python3
"""Compare two result sets of the graft benchmark.

    python3 graftbench/compare.py PARENT_DIR CHANGE_DIR

Each dir holds run results as run.py saves them (one JSON file per run,
with "workload", "seed", "trace" and "e2e"); run.py writes them under
.bench_build/results/ unless given --results DIR. Untraced runs only.

Per workload and end-to-end metric it prints each side's median and
quartiles, and a verdict (choosing-metrics guide, section 8):

  better       the change wins >= 9/10 of the seed-matched pairs (ties count
               for neither) and the medians differ by more than the
               parent's own quartile spread
  worse        the change's median is worse than the parent's by more than
               the metric's bound in BENCHMARK.json
  unresolved   the parent's spread (IQR / median) exceeds the bound, unless
               every change run beats every parent run
  same         none of the above
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
WIN_SHARE = 0.9


def load(d):
    """{workload: {seed: {metric: value}}} of the untraced runs in `d`."""
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace"):
            continue
        out.setdefault(r["workload"], {})[r["seed"]] = r["e2e"]
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, pairs, better, bound):
    """parent/change: lists of values; pairs: [(p, c)] matched by seed."""
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    if pairs and wins >= WIN_SHARE * len(pairs) and abs(cm - pm) > p3 - p1 \
            and sign * (cm - pm) > 0:
        return "better", wins
    if sign * (pm - cm) > bound * abs(pm):
        return "worse", wins
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if spread > bound and not all_better:
        return "unresolved", wins
    return "same", wins


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    parent, change = load(argv[1]), load(argv[2])
    print(f"{'workload':<22}{'metric':<14}{'parent q1/med/q3':>32}"
          f"{'change q1/med/q3':>32}  {'pairs':>5} {'wins':>4}  verdict")
    for w in sorted(set(parent) | set(change)):
        ps, cs = parent.get(w, {}), change.get(w, {})
        seeds = sorted(set(ps) & set(cs))
        for m in spec["end_to_end"]:
            name = m["name"]
            pv = [r[name] for r in ps.values() if name in r]
            cv = [r[name] for r in cs.values() if name in r]
            if not pv or not cv:
                print(f"{w:<22}{name:<14}  missing on one side")
                continue
            pairs = [(ps[s][name], cs[s][name]) for s in seeds
                     if name in ps[s] and name in cs[s]]
            v, wins = verdict(pv, cv, pairs, m["better"], m["bound"])
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{w:<22}{name:<14}{fmt.format(*quartiles(pv)):>32}"
                  f"{fmt.format(*quartiles(cv)):>32}  {len(pairs):>5} "
                  f"{wins:>4}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
