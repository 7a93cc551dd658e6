#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage:
  python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are each a directory of run records (the files run.py
writes under .bench_build/records/) or a list of files separated by
commas; a file may also be a captured stdout of run.py (its `record:` line
is read). For every workload and end-to-end metric it prints each side's
median and quartiles and a verdict against the metric's bound in
BENCHMARK.json:

  better      the change's median is better by more than the base's own
              inter-quartile spread, and the change wins at least 9 of 10
              runs paired by seed (by order when seeds differ);
  worse       the change's median is worse than the base's by more than
              the bound;
  unresolved  the base's own spread is wider than the bound, and not every
              run of the change is better than every run of the base;
  unchanged   otherwise.

For traced runs it prints each per-layer metric's medians and delta.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb.metrics import median, quartiles  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec):
    files = (sorted(glob.glob(os.path.join(spec, "*"))) if os.path.isdir(spec)
             else [f for f in spec.split(",") if f])
    records = []
    for f in files:
        with open(f) as fh:
            text = fh.read()
        if text.lstrip().startswith("{"):
            records.append(json.loads(text))
        else:
            records += [json.loads(l[len("record: "):]) for l in text.splitlines()
                        if l.startswith("record: ")]
    return records


def verdict(base, change, bound, better):
    """One of better / worse / unresolved / unchanged (see module doc)."""
    sign = 1.0 if better == "lower" else -1.0
    b_med, c_med = median([v for _, v in base]), median([v for _, v in change])
    q1, _, q3 = quartiles([v for _, v in base])
    if b_med == 0:
        return "unresolved"
    worse_by = sign * (c_med - b_med) / abs(b_med)
    own_spread = (q3 - q1) / abs(b_med)
    all_better = max(sign * v for _, v in change) < min(sign * v for _, v in base)
    if own_spread > bound and not all_better:
        return "unresolved"
    if worse_by > bound:
        return "worse"
    by_seed = dict(base)
    pairs = ([(by_seed[s], v) for s, v in change if s in by_seed]
             if len({s for s, _ in change} & set(by_seed)) == len(change)
             else list(zip([v for _, v in base], [v for _, v in change])))
    wins = sum(1 for b, c in pairs if sign * c < sign * b)
    if -worse_by > own_spread and pairs and wins >= 0.9 * len(pairs):
        return "better"
    return "unchanged"


def compare(base, change, bench):
    out = []
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    workloads = sorted({r["workload"] for r in base + change})
    for w in workloads:
        for trace, spec, key in ((0, bounds, "end_to_end"), (1, layers, "per_layer")):
            b = [r for r in base if r["workload"] == w and r["trace"] == trace]
            c = [r for r in change if r["workload"] == w and r["trace"] == trace]
            if not b or not c:
                continue
            for name, m in spec.items():
                bv = [(r["seed"], r[key][name]) for r in b if name in r.get(key, {})]
                cv = [(r["seed"], r[key][name]) for r in c if name in r.get(key, {})]
                if not bv or not cv:
                    continue
                row = {"workload": w, "metric": name, "unit": m["unit"],
                       "base": quartiles([v for _, v in bv]), "n_base": len(bv),
                       "change": quartiles([v for _, v in cv]), "n_change": len(cv)}
                if trace == 0:
                    row["bound"] = m["bound"]
                    row["verdict"] = verdict(bv, cv, m["bound"], m["better"])
                else:
                    row["delta"] = row["change"][1] - row["base"][1]
                out.append(row)
    return out


def main():
    p = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    p.add_argument("base")
    p.add_argument("change")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    rows = compare(load(args.base), load(args.change), bench)
    fmt = "{:14s} {:28s} {:>12s} {:>12s} {:>12s} {:>12s} {:>12s} {:>12s}  {}"
    print(fmt.format("workload", "metric", "base q1", "base p50", "base q3",
                     "change q1", "change p50", "change q3", "verdict / delta"))
    for r in rows:
        tail = (f"{r['verdict']} (bound {r['bound']:.0%}, n={r['n_base']}/{r['n_change']})"
                if "verdict" in r else f"{r['delta']:+.6g} {r['unit']}")
        print(fmt.format(r["workload"], r["metric"], *(f"{v:.6g}" for v in r["base"]),
                         *(f"{v:.6g}" for v in r["change"]), tail))
    return 0


if __name__ == "__main__":
    sys.exit(main())
