"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result files or directories of them (``run.py`` writes
them under ``.perfbench/results/``); only untraced runs count.  For every
workload and end-to-end metric in ``BENCHMARK.json`` it prints each side's
run count, median and quartiles, the change of the medians, and a verdict:

* ``worse``      -- NEW's median is worse than BASE's by more than the bound;
* ``better``     -- NEW's median is better by more than BASE's own quartile
  spread, and NEW wins at least nine tenths of the run pairs (the i-th run
  of each side, in time order; take the two sides' runs alternately);
* ``same``       -- neither, with both spreads within the bound;
* ``unresolved`` -- a side's spread is wider than the bound, so a change of
  the bound's size cannot be told from noise; it stays ``unresolved``
  unless every NEW run beats every BASE run.

Exits 1 when any metric is ``worse``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCHMARK.json")


def load(path: str) -> dict[str, list[dict]]:
    """{workload: [end_to_end dict, ...]} from untraced result files."""
    files = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "**", "*.json"), recursive=True)
    out: dict[str, list[dict]] = {}
    recs = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0 and "end_to_end" in rec:
            recs.append(rec)
    for rec in sorted(recs, key=lambda r: r["time_utc"]):
        out.setdefault(rec["workload"], []).append(rec["end_to_end"])
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(base: list[float], new: list[float], lower: bool, bound: float) -> str:
    sign = 1.0 if lower else -1.0  # sign * (x - y) > 0 means x is worse than y
    bq1, bmed, bq3 = summary(base)
    nq1, nmed, nq3 = summary(new)
    b_spread, n_spread = (bq3 - bq1) / bmed, (nq3 - nq1) / nmed
    worse_by = sign * (nmed - bmed) / bmed
    all_better = all(sign * (n - b) < 0 for n in new for b in base)
    if b_spread > bound or n_spread > bound:
        return "better" if all_better else "unresolved"
    if worse_by > bound:
        return "worse"
    pairs = list(zip(base, new))
    wins = sum(sign * (n - b) < 0 for b, n in pairs)
    if -worse_by > b_spread and wins >= 0.9 * len(pairs):
        return "better"
    return "same"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="compare two result sets")
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    with open(SPEC) as f:
        metrics = json.load(f)["end_to_end"]
    base, new = load(args.base), load(args.new)
    worse = False
    print(f"{'workload':16} {'metric':12} {'unit':8} {'base: n median [q1, q3]':32} "
          f"{'new: n median [q1, q3]':32} {'change':>7}  verdict")
    for wl in sorted(set(base) | set(new)):
        for m in metrics:
            b = [r[m["name"]] for r in base.get(wl, []) if m["name"] in r]
            n = [r[m["name"]] for r in new.get(wl, []) if m["name"] in r]
            head = f"{wl:16} {m['name']:12} {m['unit']:8}"
            if not b or not n:
                print(f"{head} missing runs: base {len(b)}, new {len(n)}")
                continue
            v = verdict(b, n, m["better"] == "lower", m["bound"])
            worse |= v == "worse"
            cols = []
            for vals in (b, n):
                q1, med, q3 = summary(vals)
                cols.append(f"{len(vals)} {med:.4g} [{q1:.4g}, {q3:.4g}]")
            change = (summary(n)[1] - summary(b)[1]) / summary(b)[1]
            print(f"{head} {cols[0]:32} {cols[1]:32} {change:+7.1%}  {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
