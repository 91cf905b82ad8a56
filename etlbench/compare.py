#!/usr/bin/env python3
"""Compare two sets of benchmark results, or summarise one.

    python3 etlbench/compare.py BASE_DIR [NEW_DIR] [--trace 0|1]

Each directory holds the JSON results `run.py --out DIR` writes, one per
run. For every workload and metric this prints each set's median and
quartiles (Python's statistics.quantiles, n=4) and its spread (quartile
distance over median). Given two sets it also prints the change of the
median, signed so that positive means worse, and for end-to-end metrics
whether that change exceeds the metric's bound in BENCHMARK.json. Exits 1
when any end-to-end metric got worse by more than its bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d, trace):
    """{workload: {metric: [values]}} over the runs in `d`."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, f"*-trace{trace}.json"))):
        with open(f) as fh:
            r = json.load(fh)
        w = r["meta"]["workload"]
        for name, m in r["metrics"].items():
            out.setdefault(w, {}).setdefault(name, []).append(m["value"])
    return out


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / abs(med) if med else float("inf") if q3 != q1 else 0.0
    return med, q1, q3, spread


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    kinds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base = load(a.base, a.trace)
    new = load(a.new, a.trace) if a.new else {}
    if not base:
        sys.exit(f"no trace{a.trace} results in {a.base}")
    regressed = False
    for w in sorted(base):
        print(f"== {w}")
        for name in sorted(base[w]):
            k = kinds.get(name, {})
            bound = k.get("bound")
            med, q1, q3, spread = summary(base[w][name])
            line = (f"  {name:28s} n={len(base[w][name]):2d} median {med:<12.6g} "
                    f"q1 {q1:<12.6g} q3 {q3:<12.6g} spread {spread:6.1%}")
            if bound is not None and not a.new:
                line += "  ok" if spread <= bound else f"  SPREAD > bound {bound:.0%}"
            if a.new and name in new.get(w, {}):
                nmed, nq1, nq3, nspread = summary(new[w][name])
                sign = 1 if k.get("better", "lower") == "lower" else -1
                worse = sign * (nmed - med) / abs(med) if med else 0.0
                line += (f"\n  {'':28s} n={len(new[w][name]):2d} median {nmed:<12.6g} "
                         f"q1 {nq1:<12.6g} q3 {nq3:<12.6g} spread {nspread:6.1%}  "
                         f"worse by {worse:+.1%}")
                if bound is not None:
                    if worse > bound:
                        regressed = True
                        line += f"  EXCEEDS bound {bound:.0%}"
                    else:
                        line += f"  within bound {bound:.0%}"
                    if max(spread, nspread) > bound:
                        line += " (spread wider than bound: unresolved)"
            print(line)
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
