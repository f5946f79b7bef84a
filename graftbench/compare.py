#!/usr/bin/env python3
"""Compare benchmark runs of two commits, or check one set of runs for spread.

Every run of graftbench/run.py appends one line to .bench_out/results.jsonl.
Collect the lines of each side into a file, then:

    python3 graftbench/compare.py PARENT.jsonl CHANGE.jsonl [--claim WORKLOAD:METRIC ...]
    python3 graftbench/compare.py --spread RUNS.jsonl

The first form prints, per (end-to-end metric, workload), both medians and
quartiles, how much worse the change is against the metric's bound in
BENCHMARK.json, the verdict (ok, regressed or unresolved) and the share of
run pairs the change wins; each --claim says whether a gain holds. It exits
1 when any pair regressed. The second form prints each metric's spread
(quartile distance over median) against its bound and exits 1 when any
spread exceeds its bound.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(path):
    """{(workload, metric): [values in run order]} from untraced runs."""
    out = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            r = json.loads(line)
            if r.get("trace") != 0 or not r.get("correct"):
                continue
            for name, m in r["metrics"].items():
                out.setdefault((r["workload"], name), []).append(m["value"])
    return out


def metric_specs():
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: m for m in json.load(fh)["end_to_end"]}


def compare(parent, change, specs):
    rows = []
    for (w, name) in sorted(set(parent) & set(change)):
        spec = specs.get(name)
        if spec is None:
            continue
        p, c = parent[(w, name)], change[(w, name)]
        rows.append({
            "workload": w, "metric": name,
            "parent_median": stats.median(p), "parent_quartiles": stats.quartiles(p),
            "change_median": stats.median(c), "change_quartiles": stats.quartiles(c),
            "worse_by": stats.worse_by(stats.median(p), stats.median(c), spec["better"]),
            "bound": spec["bound"],
            "verdict": stats.verdict(p, c, spec["bound"], spec["better"]),
            "pair_wins": stats.pair_wins(p, c, spec["better"]),
        })
    return rows


def spreads(runs, specs):
    rows = []
    for (w, name), v in sorted(runs.items()):
        spec = specs.get(name)
        if spec is None:
            continue
        s = stats.spread(v)
        rows.append({"workload": w, "metric": name, "n": len(v), "median": stats.median(v),
                     "spread": s, "bound": spec["bound"],
                     "within_bound": s <= spec["bound"],
                     "within_third": s <= spec["bound"] / 3})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--spread", action="store_true")
    ap.add_argument("--claim", action="append", default=[])
    a = ap.parse_args()
    specs = metric_specs()
    if a.spread:
        rows = spreads(load(a.files[0]), specs)
        for r in rows:
            print(f"{r['workload']:9s} {r['metric']:28s} n={r['n']:2d} median={r['median']:.5g} "
                  f"spread={r['spread']:.4f} bound={r['bound']} "
                  f"{'ok' if r['within_bound'] else 'OVER'}"
                  f"{' (under a third)' if r['within_third'] else ''}")
        sys.exit(0 if all(r["within_bound"] for r in rows) else 1)
    if len(a.files) != 2:
        ap.error("give PARENT.jsonl and CHANGE.jsonl, or --spread RUNS.jsonl")
    parent, change = load(a.files[0]), load(a.files[1])
    rows = compare(parent, change, specs)
    for r in rows:
        print(f"{r['workload']:9s} {r['metric']:28s} parent={r['parent_median']:.5g} "
              f"change={r['change_median']:.5g} worse_by={r['worse_by']:+.3f} "
              f"bound={r['bound']} {r['verdict']} pair_wins={r['pair_wins']:.2f}")
    for claim in a.claim:
        w, name = claim.split(":")
        p, c = parent.get((w, name)), change.get((w, name))
        if not p or not c:
            print(f"claim {claim}: no runs")
            continue
        ok = stats.gain_claimed(p, c, specs[name]["better"])
        print(f"claim {claim}: {'gain holds' if ok else 'not met'} "
              f"(pair wins {stats.pair_wins(p, c, specs[name]['better']):.2f})")
    sys.exit(1 if any(r["verdict"] == "regressed" for r in rows) else 0)


if __name__ == "__main__":
    main()
