#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

Usage: python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the lines `run.py --record FILE` appends (untraced and
traced runs of any workloads, any number of seeds). For every workload the
tool prints each end-to-end metric's median on both sides, its change and
whether that change is worse than the metric's bound in BENCHMARK.json,
then names the per-layer metric that moved most among the layers
perfbench/workloads.json maps to that end-to-end metric: the one whose
change is the largest share of the summed base values of the candidates in
its unit, so a large relative move of a negligible time does not win. It also reports
the tracing overhead on each side: the traced run's own end-to-end result
against the untraced median.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    recs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                recs.setdefault((r["workload"], r["trace"]), []).append(r)
    return recs


def medians(recs):
    """Median of every metric over the records: the result line's metrics
    for untraced runs, every per-layer value run.py recorded for traced."""
    vals = {}
    for r in recs:
        metrics = r["per_layer"] if r["trace"] else r["result"]["metrics"]
        for k, v in metrics.items():
            vals.setdefault(k, []).append(v["value"])
    return {k: statistics.median(v) for k, v in vals.items() if None not in v}


def rel(a, b):
    if a == b:
        return 0.0
    return (b - a) / abs(a) if a else float("inf")


def worse(change, better):
    return change > 0 if better == "lower" else change < 0


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        contract = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        layers = json.load(f)["layers"]
    e2e = {m["name"]: m for m in contract["end_to_end"]}
    unit = {m["name"]: m["unit"] for m in contract["per_layer"]}
    workloads = sorted({w for w, _ in base} & {w for w, _ in new})
    for w in workloads:
        print(f"== {w}")
        b0, n0 = medians(base.get((w, 0), [])), medians(new.get((w, 0), []))
        b1, n1 = medians(base.get((w, 1), [])), medians(new.get((w, 1), []))
        for name, m in e2e.items():
            if name not in b0 or name not in n0:
                continue
            c = rel(b0[name], n0[name])
            flag = "REGRESSED" if worse(c, m["better"]) and abs(c) > m["bound"] else "ok"
            line = f"  {name:18s} {b0[name]:14.4f} -> {n0[name]:14.4f} {m['unit']:6s} {c:+8.1%}  bound {m['bound']:.0%}  {flag}"
            cands = [k for l in layers if l["workload"] in (w, "*") and name in l["moves"]
                     for k in l["metrics"] if k in b1 and k in n1]
            base_sum = {}
            for k in cands:
                base_sum[unit[k]] = base_sum.get(unit[k], 0.0) + abs(b1[k])
            moved = [(abs(n1[k] - b1[k]) / base_sum[unit[k]], k) for k in cands
                     if n1[k] != b1[k] and base_sum[unit[k]] > 0]
            if moved:
                _, k = max(moved)
                line += f"   moved most: {k} {b1[k]:.4g} -> {n1[k]:.4g} ({rel(b1[k], n1[k]):+.1%})"
            print(line)
        for side, untraced, traced in (("base", b0, b1), ("new", n0, n1)):
            if "latency_ms" in untraced and "traced.latency_ms" in traced:
                print(f"  tracing overhead ({side}): latency {rel(untraced['latency_ms'], traced['traced.latency_ms']):+.1%}")


if __name__ == "__main__":
    main()
