#!/usr/bin/env python3
"""Compares two benchmark result artifacts without re-running anything.

Usage: python3 perfbench/compare.py BASE NEW

BASE and NEW are files of run records: the JSON lines ``run.py --record``
appends, or a JSON object with a ``records`` list (``trace_artifact.py``).

For each workload it prints every end-to-end metric's median and quartiles
on both sides with a verdict against the metric's bound from
``BENCHMARK.json``:

* ``worse``      NEW's median is worse than BASE's by more than the bound;
* ``better``     NEW's median is better by more than BASE's own spread and
                 every NEW run beats every BASE run;
* ``unresolved`` BASE's own spread is wider than the bound;
* ``same``       otherwise.

Then it ranks the per-layer metrics of the traced records by how far their
medians moved (relative change, largest first), so the layer that accounts
for an end-to-end change is at the top.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402


def load(path):
    with open(path) as f:
        text = f.read()
    try:
        return json.loads(text)["records"]
    except (json.JSONDecodeError, KeyError, TypeError):  # JSON lines
        return [json.loads(line) for line in text.splitlines() if line.strip()]


def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(base, new, bound, lower_is_better):
    b_med, n_med = statistics.median(base), statistics.median(new)
    if b_med == 0:
        return "same"
    sign = 1 if lower_is_better else -1
    change = sign * (n_med - b_med) / b_med  # > 0 means worse
    if change > bound:
        return "worse"
    if analysis.spread(base) > bound:
        return "unresolved"
    beats = all(sign * (n - b) < 0 for n in new for b in base)
    if -change > analysis.spread(base) and beats:
        return "better"
    return "same"


def by_workload(records, key):
    out = {}
    for r in records:
        if key in r:
            out.setdefault(r["workload"], []).append(r[key])
    return out


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    base, new = load(argv[0]), load(argv[1])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    base_e2e, new_e2e = by_workload(base, "end_to_end"), by_workload(new, "end_to_end")
    for w in sorted(set(base_e2e) & set(new_e2e)):
        print(f"== {w}: {len(base_e2e[w])} base runs, {len(new_e2e[w])} new runs")
        print(f"   {'metric':14s} {'base q1/median/q3':>32s} {'new q1/median/q3':>32s}"
              f" {'change':>8s}  verdict (bound)")
        for name, m in metrics.items():
            b = [r[name] for r in base_e2e[w] if name in r]
            n = [r[name] for r in new_e2e[w] if name in r]
            if not b or not n:
                continue
            bq, nq = quartiles(b), quartiles(n)
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            v = verdict(b, n, m["bound"], m["better"] == "lower")
            print(f"   {name:14s} {bq[0]:10.4g}/{bq[1]:10.4g}/{bq[2]:10.4g} "
                  f"{nq[0]:10.4g}/{nq[1]:10.4g}/{nq[2]:10.4g} {change:+8.1%}  "
                  f"{v} ({m['bound']:.0%} {m['unit']}, {m['better']} is better)")
    base_pl, new_pl = by_workload(base, "per_layer"), by_workload(new, "per_layer")
    for w in sorted(set(base_pl) & set(new_pl)):
        rows = []
        for name in base_pl[w][0]:
            b = statistics.median(r.get(name, 0.0) for r in base_pl[w])
            n = statistics.median(r.get(name, 0.0) for r in new_pl[w])
            if b == n:
                continue
            rel = (n - b) / abs(b) if b else float("inf")
            rows.append((abs(rel), name, b, n, rel))
        print(f"== {w}: per-layer deltas, largest relative change first")
        for _, name, b, n, rel in sorted(rows, reverse=True):
            print(f"   {name:36s} {b:12.5g} -> {n:12.5g}  {rel:+8.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
