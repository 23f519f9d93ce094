#!/usr/bin/env python3
"""Compare two result sets of the graft benchmark, or check one for spread.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --spread DIR

A result set is a directory of the records perfbench/run.py saves (one
JSON file per run, under <build dir>/results by default). End-to-end
metrics come from --trace 0 records, per-layer metrics from --trace 1
records.

For every workload x metric the compare prints both medians, both
quartile ranges, the pair win fraction (over seeds present in both
sets: the share where the change is better) and a verdict:

- worse:      the change's median is worse than the parent's by more
              than the metric's bound (per-layer metrics have no bound:
              quartile ranges apart, the change worse on >= 3/4 pairs);
- improved:   quartile ranges apart with the change better, and the
              change better on >= 3/4 of the pairs;
- unchanged:  quartile ranges overlap and the medians differ by at most
              the bound (0.1 for per-layer metrics);
- unresolved: anything else; measure more before claiming.

--spread prints, per workload x end-to-end metric, the quartile spread
(Q3 - Q1) / median that BENCHMARK.json's bounds are checked against.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    """{(workload, kind): {metric: {seed: value}}} for one result set."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        kind = "per_layer" if r["trace"] else "end_to_end"
        for k, v in r[kind].items():
            if v is not None:
                out.setdefault((r["workload"], kind), {}) \
                   .setdefault(k, {})[r["seed"]] = v
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, better, bound):
    sign = 1 if better == "lower" else -1
    p1, pm, p3 = quartiles(list(par.values()))
    c1, cm, c3 = quartiles(list(chg.values()))
    rel = sign * (cm - pm) / abs(pm) if pm else 0.0
    seeds = sorted(set(par) & set(chg))
    wins = [sign * (chg[s] - par[s]) < 0 for s in seeds]
    win = sum(wins) / len(wins) if wins else float("nan")
    apart_better = (c3 < p1) if sign > 0 else (c1 > p3)
    apart_worse = (c1 > p3) if sign > 0 else (c3 < p1)
    if bound is not None and rel > bound:
        v = "worse"
    elif bound is None and apart_worse and (not wins or win <= 0.25):
        v = "worse"
    elif apart_better and (not wins or win >= 0.75):
        v = "improved"
    elif not apart_better and not apart_worse and \
            abs(rel) <= (bound if bound is not None else 0.1):
        v = "unchanged"
    else:
        v = "unresolved"
    return (p1, pm, p3), (c1, cm, c3), win, v


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    if argv[:1] == ["--spread"] and len(argv) == 2:
        for (w, kind), ms in sorted(load(argv[1]).items()):
            if kind != "end_to_end":
                continue
            for name, by_seed in ms.items():
                q1, q2, q3 = quartiles(list(by_seed.values()))
                b = spec.get(name, {}).get("bound")
                print(f"{w:16} {name:18} n={len(by_seed):2} median {q2:.6g} "
                      f"spread {(q3 - q1) / q2:.3f}  bound {b}")
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    par, chg = load(argv[0]), load(argv[1])
    print(f"{'workload':16} {'metric':48} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'wins':>5}  verdict")
    for key in sorted(set(par) & set(chg)):
        w, _ = key
        for name in sorted(set(par[key]) & set(chg[key])):
            m = spec.get(name)
            if m is None:
                continue
            p, c, win, v = verdict(par[key][name], chg[key][name],
                                   m["better"], m.get("bound"))
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:16} {name:48} {fmt(p):>30} {fmt(c):>30} "
                  f"{win:5.2f}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
