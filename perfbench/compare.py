"""A/B mode: compare two sets of run records.

    python3 perfbench/run.py --compare BASE CHANGE

BASE and CHANGE are directories (or glob patterns) of the ``*.json``
records runs write to ``perfbench/out/``; every record carries the
end-to-end metrics, so untraced records against traced ones of the same
seeds give the tracing overhead. For each workload and
end-to-end metric it prints each side's median and quartiles, the
spread (interquartile range / median), the share of pairs the change
wins (pairs matched by seed when both sides ran the same seeds, else
every cross pair; ties count for neither) and a verdict against the
metric's bound from BENCHMARK.json:

- ``worse``: the change's median is worse than the base's by more than
  the bound;
- ``unresolved``: a side's spread exceeds the bound, unless every run of
  the change reads better than every run of the base (``better``);
- ``better``: the change wins at least nine tenths of the pairs and the
  medians differ by more than the base's interquartile range;
- ``unchanged`` otherwise.

Compare a set with itself to read the spreads alone.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict


def load(where: str) -> dict[str, list[dict]]:
    pattern = os.path.join(where, "*.json") if os.path.isdir(where) else where
    by_workload: dict[str, list[dict]] = defaultdict(list)
    for p in sorted(glob.glob(pattern)):
        with open(p) as f:
            rec = json.load(f)
        by_workload[rec["workload"]].append(rec)
    return by_workload


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(a: list[float], b: list[float], pairs: list[tuple[float, float]],
            bound: float, lower_better: bool) -> tuple[str, float]:
    sign = 1 if lower_better else -1
    qa, qb = quartiles(a), quartiles(b)
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) > 0)
    share = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (qb[1] - qa[1]) / qa[1]
    if worse_by > bound:
        return "worse", share
    if pairs and wins == len(pairs):
        best_a = min(a) if lower_better else max(a)
        worst_b = max(b) if lower_better else min(b)
        if sign * (worst_b - best_a) < 0:
            return "better", share
    if spread > bound:
        return "unresolved", share
    if share >= 0.9 and abs(qb[1] - qa[1]) > qa[2] - qa[0] and losses < wins:
        return "better", share
    return "unchanged", share


def compare(base: str, change: str, spec: dict) -> int:
    a_runs, b_runs = load(base), load(change)
    metrics = spec["end_to_end"]
    for workload in sorted(set(a_runs) | set(b_runs)):
        a, b = a_runs.get(workload, []), b_runs.get(workload, [])
        print(f"== {workload}: base n={len(a)}, change n={len(b)}")
        if not a or not b:
            print("   (one side has no runs)")
            continue
        bad = [r for r in a + b if not r["correct"] or r["failed"]]
        if bad:
            print(f"   {len(bad)} run(s) failed or incorrect")
        a_seed = {r["seed"]: r for r in a}
        b_seed = {r["seed"]: r for r in b}
        matched = sorted(set(a_seed) & set(b_seed))
        print(f"   {'metric':14s} {'base q1/med/q3':>28s} {'spread':>7s} "
              f"{'change q1/med/q3':>28s} {'spread':>7s} {'win':>5s} verdict")
        for m in metrics:
            name = m["name"]
            av = [r["e2e"][name] for r in a]
            bv = [r["e2e"][name] for r in b]
            if matched and len(matched) == len(a) == len(b):
                pairs = [(a_seed[s]["e2e"][name], b_seed[s]["e2e"][name]) for s in matched]
            else:
                pairs = [(x, y) for x in av for y in bv]
            qa, qb = quartiles(av), quartiles(bv)
            v, share = verdict(av, bv, pairs, m["bound"], m["better"] == "lower")
            print(
                f"   {name:14s} {qa[0]:9.4g}/{qa[1]:8.4g}/{qa[2]:8.4g} "
                f"{(qa[2] - qa[0]) / qa[1]:7.3f} {qb[0]:9.4g}/{qb[1]:8.4g}/{qb[2]:8.4g} "
                f"{(qb[2] - qb[0]) / qb[1]:7.3f} {share:5.2f} {v}"
            )
    return 0
