#!/usr/bin/env python3
"""Spread summariser for saved benchmark runs.

Each input file is the saved standard output of one `perfbench/run.py`
run. Usage:

  python3 perfbench/summarise.py RUN...                 # spread per metric
  python3 perfbench/summarise.py RUN... --base RUN...   # paired comparison

For each workload and metric the first form prints the sample count,
median, first and third quartile (`statistics.quantiles(values, n=4)`)
and the relative spread (Q3 - Q1) / median. An end-to-end metric is
marked `steady` when its spread is below a third of its bound in
BENCHMARK.json, `wide` when it is below the bound, and `TOO WIDE` when
not. Where a workload has traced and untraced runs, the tracing overhead
is printed: the traced run's end-to-end medians minus the untraced ones.

The second form pairs each change run (positional files) with the base
run of the same workload and seed, and applies the rule for claiming a
gain: the change wins at least 9 of every 10 pairs (ties count for
neither side) and the medians differ by more than the base's own spread
(Q3 - Q1). It also reports, per metric, whether the change's median is
worse than the base's by more than the metric's bound.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    detail, result = None, None
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    for line in lines:
        if line.startswith("perfbench-detail "):
            detail = json.loads(line[len("perfbench-detail "):])
    if lines:
        result = json.loads(lines[-1])
    if detail is None or result is None:
        raise SystemExit(f"{path}: not a complete perfbench run")
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not detail["trace"]:
        for k in ("drain_rows_per_s", "failed_ratio"):
            if k in detail:
                values[k] = detail[k]
    return {"workload": detail["workload"], "seed": detail["seed"],
            "trace": detail["trace"], "values": values, "traced_e2e": detail["e2e"],
            "correct": result["correct"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def rel_spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def summarise(runs, metrics):
    groups = defaultdict(list)
    for r in runs:
        groups[(r["workload"], r["trace"])].append(r)
    for (wl, trace), rs in sorted(groups.items()):
        bad = [r["seed"] for r in rs if not r["correct"]]
        print(f"== {wl} trace={trace} runs={len(rs)}"
              + (f" INCORRECT seeds={bad}" if bad else ""))
        names = sorted({k for r in rs for k in r["values"]})
        for name in names:
            xs = [r["values"][name] for r in rs if name in r["values"]]
            q1, med, q3 = quartiles(xs)
            spread = rel_spread(xs)
            verdict = ""
            bound = metrics.get(name, {}).get("bound")
            if bound is not None and not trace:
                verdict = ("steady" if spread < bound / 3 else
                           "wide" if spread <= bound else "TOO WIDE")
                verdict += f" (bound {bound})"
            if trace and all(x == 0 for x in xs):
                continue
            print(f"  {name:40s} n={len(xs):2d} median={med:<12.6g} q1={q1:<12.6g} "
                  f"q3={q3:<12.6g} spread={spread:.3f} {verdict}")
    for wl in sorted({w for w, _ in groups}):
        plain, traced = groups.get((wl, 0)), groups.get((wl, 1))
        if not plain or not traced:
            continue
        print(f"== {wl} tracing overhead (traced median - untraced median)")
        for name in sorted(plain[0]["traced_e2e"]):
            a = statistics.median(r["traced_e2e"][name] for r in plain)
            b = statistics.median(r["traced_e2e"][name] for r in traced)
            print(f"  {name:40s} {b - a:+.6g} ({(b - a) / a:+.1%} of {a:.6g})")


def compare(base, change, metrics):
    by_key = {(r["workload"], r["seed"], r["trace"]): r for r in base}
    pairs = defaultdict(list)
    for r in change:
        b = by_key.get((r["workload"], r["seed"], r["trace"]))
        if b is not None:
            pairs[(r["workload"], r["trace"])].append((b, r))
    for (wl, trace), ps in sorted(pairs.items()):
        print(f"== {wl} trace={trace} pairs={len(ps)}")
        names = sorted({k for b, c in ps for k in b["values"] if k in c["values"]})
        for name in names:
            m = metrics.get(name, {})
            lower = m.get("better", "lower") == "lower"
            bs = [b["values"][name] for b, _ in ps]
            cs = [c["values"][name] for _, c in ps]
            wins = sum((c < b) if lower else (c > b) for b, c in zip(bs, cs))
            bq1, bmed, bq3 = quartiles(bs)
            cmed = statistics.median(cs)
            gain = wins * 10 >= 9 * len(ps) and abs(cmed - bmed) > (bq3 - bq1)
            line = (f"  {name:40s} base={bmed:<12.6g} change={cmed:<12.6g} "
                    f"wins={wins}/{len(ps)} {'GAIN' if gain else 'no gain'}")
            bound = m.get("bound")
            if bound is not None:
                worse = (cmed - bmed) / bmed if lower else (bmed - cmed) / bmed
                line += f" {'REGRESSION' if worse > bound else 'within bound'} ({worse:+.1%})"
            print(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("runs", nargs="+")
    ap.add_argument("--base", nargs="+")
    a = ap.parse_args()
    metrics = spec()
    change = [load(p) for p in a.runs]
    if a.base:
        compare([load(p) for p in a.base], change, metrics)
    else:
        summarise(change, metrics)


if __name__ == "__main__":
    sys.exit(main())
