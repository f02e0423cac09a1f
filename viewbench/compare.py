#!/usr/bin/env python3
"""Compare two sets of benchmark runs made in alternating order.

    python3 viewbench/compare.py --base RESULT... --change RESULT...

Each RESULT is a result file written by viewbench/run.py (or a directory
of them). Runs of one workload are paired in the order they started, so
make them alternating: base, change, base, change, ...

For every (workload, end-to-end metric) of BENCHMARK.json it prints each
side's median and quartiles, the share of pairs the change won, and a
verdict. On a workload with several op families (index_serve's Mango,
BM25 and IVF ops) it does the same for each family's median latency,
`op_p50_ms[family]`, with the bound of op_p50_ms, so a change to one
family shows even where the overall median sits in another:

  improved    the change won at least 9/10 of the pairs and the medians
              differ by more than the base's interquartile range
  worse       the change's median is worse than the base's by more than
              the metric's bound, or it lost 9/10 of the pairs by more
              than the base's interquartile range
  unresolved  a side's spread (IQR / median) is wider than the bound,
              unless every change run beats (or loses to) every base run
  unchanged   otherwise
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(paths):
    runs = []
    for p in paths:
        files = ([os.path.join(p, f) for f in sorted(os.listdir(p)) if f.endswith(".json")]
                 if os.path.isdir(p) else [p])
        for f in files:
            with open(f) as fh:
                r = json.load(fh)
            if "end_to_end" in r and not r.get("trace"):
                runs.append(r)
    by = {}
    for r in sorted(runs, key=lambda r: r.get("started_ms", 0)):
        by.setdefault(r["workload"], []).append(r)
    return by


def summary(xs):
    if len(xs) >= 2:
        q1, q2, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q2 = q3 = xs[0]
    return q1, q2, q3


def verdict(base, change, better, bound):
    b1, bm, b3 = summary(base)
    c1, cm, c3 = summary(change)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(base, change))
    won = sum(1 for b, c in pairs if sign * (c - b) > 0)
    lost = sum(1 for b, c in pairs if sign * (c - b) < 0)
    n = max(1, len(pairs))
    iqr = b3 - b1
    gap = sign * (cm - bm)
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    all_better = min(sign * c for c in change) > max(sign * b for b in base)
    all_worse = max(sign * c for c in change) < min(sign * b for b in base)
    if spread > bound and not (all_better or all_worse):
        v = "unresolved"
    elif won >= 0.9 * n and gap > iqr:
        v = "improved"
    elif -gap > bound * abs(bm) or (lost >= 0.9 * n and -gap > iqr):
        v = "worse"
    else:
        v = "unchanged"
    return (bm, b1, b3, cm, c1, c3, won / n, spread, v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    a = ap.parse_args()
    with open(SPEC) as f:
        spec = json.load(f)
    base, change = load(a.base), load(a.change)
    print(f"{'workload':14} {'metric':22} {'base p50 [q1,q3]':>30} "
          f"{'change p50 [q1,q3]':>30} {'won':>5} {'spread':>7}  verdict")
    worse = False
    for w in spec["workloads"]:
        name = w["name"]
        if name not in base or name not in change:
            continue
        n = min(len(base[name]), len(change[name]))
        rows = [(m["name"], m, lambda r, k=m["name"]: r["end_to_end"].get(k))
                for m in spec["end_to_end"]]
        p50 = next((m for m in spec["end_to_end"] if m["name"] == "op_p50_ms"), None)
        families = sorted(set().union(*(r.get("op_p50_ms_by_family", {})
                                        for r in base[name][:n] + change[name][:n])))
        if p50 and len(families) > 1:
            rows += [(f"op_p50_ms[{f}]", p50,
                      lambda r, f=f: r.get("op_p50_ms_by_family", {}).get(f, {}).get("p50"))
                     for f in families]
        for k, m, value in rows:
            pairs = [(x, y) for x, y in zip(map(value, base[name][:n]), map(value, change[name][:n]))
                     if x is not None and y is not None]
            if not pairs:
                continue
            bs, cs = (list(side) for side in zip(*pairs))
            bm, b1, b3, cm, c1, c3, won, spread, v = verdict(bs, cs, m["better"], m["bound"])
            worse |= v == "worse"
            print(f"{name:14} {k:22} {bm:12.4g} [{b1:.4g},{b3:.4g}]".ljust(68) +
                  f"{cm:12.4g} [{c1:.4g},{c3:.4g}]".rjust(30) +
                  f" {won:5.2f} {spread:7.3f}  {v}  (n={n})")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
