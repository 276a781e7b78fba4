#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and per metric.

    python3 pipebench/compare.py BASE NEW [--bench BENCHMARK.json]

BASE and NEW are directories of run records (the JSON files `run.py` keeps
in `pipebench/work/results/`) or glob patterns matching them. Only untraced
runs are compared; traced runs are summarised per layer without a verdict.

For every end-to-end metric and workload it prints each side's median and
quartiles and one verdict, using the bound and direction BENCHMARK.json
fixes for the metric:

  regression  NEW's median is worse than BASE's by more than the bound
  unresolved  either side's spread (quartile distance over median) exceeds
              the bound, and not every run of one side beats every run of
              the other
  gain        at least 9 in 10 seed-paired runs improve (ties count for
              neither) and the medians differ by more than BASE's
              quartile distance
  same        none of the above

It refuses to compare runs whose core count, run length or seeds differ,
and flags any run with a failed or wrong operation. The exit code is 0
only when there is no regression, no failed run and no refusal.
"""

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec):
    pattern = os.path.join(spec, "*.json") if os.path.isdir(spec) else spec
    runs = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            r = json.load(f)
        if isinstance(r, dict) and "metrics" in r and "info" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def stamp(runs, key):
    return sorted({str(r["info"].get(key)) for r in runs})


def refuse_if_incomparable(base, new):
    problems = []
    for key in ("nproc", "spark_cores", "seconds", "heap"):
        if stamp(base, key) != stamp(new, key):
            problems.append(f"{key}: {stamp(base, key)} vs {stamp(new, key)}")
    workloads = sorted({r["info"]["workload"] for r in base + new})
    for w in workloads:
        sb = sorted(r["info"]["seed"] for r in base if r["info"]["workload"] == w)
        sn = sorted(r["info"]["seed"] for r in new if r["info"]["workload"] == w)
        if sb != sn:
            problems.append(f"{w} seeds: {sb} vs {sn}")
    return problems


def verdict(spec, base, new):
    """base, new: {seed: value}. Returns (label, detail)."""
    lower = spec["better"] == "lower"
    bound = spec["bound"]
    b, n = list(base.values()), list(new.values())
    bq1, bmed, bq3 = quartiles(b)
    nq1, nmed, nq3 = quartiles(n)

    def better(x, y):  # x better than y
        return x < y if lower else x > y

    worse_by = (nmed - bmed) / bmed if lower else (bmed - nmed) / bmed
    all_new_better = all(better(x, y) for x in n for y in b)
    all_new_worse = all(better(y, x) for x in n for y in b)
    spread = max((bq3 - bq1) / bmed, (nq3 - nq1) / nmed) if bmed and nmed else 0
    if worse_by > bound and (spread <= bound or all_new_worse):
        return "regression", f"worse by {worse_by:+.1%} > bound {bound:.0%}"
    if spread > bound and not (all_new_better or all_new_worse):
        return "unresolved", f"spread {spread:.1%} > bound {bound:.0%}"
    pairs = [(base[s], new[s]) for s in base if s in new]
    wins = sum(better(y, x) for x, y in pairs)
    if pairs and wins >= 0.9 * len(pairs) and abs(nmed - bmed) > bq3 - bq1:
        return "gain", f"{wins}/{len(pairs)} pairs improve"
    return "same", f"{'worse' if worse_by > 0 else 'better'} by {abs(worse_by):.1%}"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = p.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    specs = {m["name"]: m for m in bench["end_to_end"]}
    base, new = load(args.base), load(args.new)
    if not base or not new:
        print("no runs found", file=sys.stderr)
        return 2
    problems = refuse_if_incomparable(base, new)
    if problems:
        print("refusing to compare:", *problems, sep="\n  ", file=sys.stderr)
        return 2

    bad = False
    for r in new + base:
        if r["failed"] or not r["correct"]:
            side = "NEW" if any(r is x for x in new) else "BASE"
            print(f"FAILED RUN ({side}) {r['info']['workload']} seed "
                  f"{r['info']['seed']}: {r['failed']}/{r['attempted']} "
                  f"operations failed or wrong")
            bad = True

    for w in sorted({r["info"]["workload"] for r in base}):
        for trace in (0, 1):
            rb = [r for r in base if r["info"]["workload"] == w
                  and bool(r["info"]["trace"]) == bool(trace)]
            rn = [r for r in new if r["info"]["workload"] == w
                  and bool(r["info"]["trace"]) == bool(trace)]
            if not rb or not rn:
                continue
            print(f"\n{w} ({'traced, per layer' if trace else 'end to end'}); "
                  f"{len(rb)} vs {len(rn)} runs")
            names = sorted({k for r in rb + rn for k in r["metrics"]},
                           key=lambda k: (k not in specs, k))
            for name in names:
                bv = {r["info"]["seed"]: r["metrics"][name]["value"]
                      for r in rb if name in r["metrics"]}
                nv = {r["info"]["seed"]: r["metrics"][name]["value"]
                      for r in rn if name in r["metrics"]}
                if not bv or not nv:
                    continue
                unit = (rb + rn)[0]["metrics"].get(name, {}).get("unit", "")
                b1, bm, b3 = quartiles(list(bv.values()))
                n1, nm, n3 = quartiles(list(nv.values()))
                line = (f"  {name:34s} {bm:11.4g} [{b1:.4g}, {b3:.4g}] -> "
                        f"{nm:11.4g} [{n1:.4g}, {n3:.4g}] {unit}")
                if not trace and name in specs:
                    label, detail = verdict(specs[name], bv, nv)
                    line += f"  {label.upper()} ({detail})"
                    bad |= label == "regression"
                print(line)
            if not trace:
                fb = sum(r["failed"] for r in rb) / sum(r["attempted"] for r in rb)
                fn = sum(r["failed"] for r in rn) / sum(r["attempted"] for r in rn)
                print(f"  {'failed_ratio':34s} {fb:11.4g} -> {fn:11.4g}")
                bad |= fn > fb
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
