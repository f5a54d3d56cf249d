#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py --a 'base/*.out' --b 'change/*.out'

Each file holds the stdout of one `perfbench/run.py` run; its last line is
the result JSON. The workload is the file name up to the first '-', e.g.
`hop_bulk-7.out`. Untraced results (end-to-end metrics) print each side's
median and quartiles, each side's quartile spread as a share of its median
(iqr), the change of the medians, and a verdict against the
metric's bound in BENCHMARK.json: `better in every run` when every run of
b beats every run of a, else `unresolved` when either side's quartile
spread is wider than the bound, `worse` past the bound, `ok` otherwise.
Traced results (per-layer metrics) print the layer diff: each metric's
median on both sides, sorted by relative change, so the layer that moved
is at the top.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(pattern):
    """{workload: {"e2e"|"layers": [metrics dict, ...]}} for one side."""
    out = {}
    paths = sorted(glob.glob(pattern))
    if not paths:
        sys.exit(f"compare: no files match {pattern}")
    for path in paths:
        workload = os.path.basename(path).split("-")[0]
        with open(path) as f:
            lines = [line for line in f.read().splitlines() if line.strip()]
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"compare: skipping {path}: no result line", file=sys.stderr)
            continue
        if not result.get("correct"):
            print(f"compare: skipping {path}: result marked incorrect", file=sys.stderr)
            continue
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        kind = "e2e" if "setup_s" in metrics else "layers"
        out.setdefault(workload, {}).setdefault(kind, []).append(metrics)
    return out


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def e2e_table(workload, a_runs, b_runs, spec):
    print(f"\n== {workload}: end to end ({len(a_runs)} vs {len(b_runs)} runs)")
    print(f"  {'metric':16} {'a q1/med/q3':>28} {'b q1/med/q3':>28} {'a iqr':>6} {'b iqr':>6}"
          f" {'change':>8} {'bound':>6}  verdict")
    for m in spec:
        name = m["name"]
        a = [r[name] for r in a_runs if name in r]
        b = [r[name] for r in b_runs if name in r]
        if not a or not b:
            continue
        aq, bq = quartiles(a), quartiles(b)
        change = (bq[1] - aq[1]) / aq[1] if aq[1] else float("nan")
        worse = change if m["better"] == "lower" else -change
        a_iqr = (aq[2] - aq[0]) / aq[1] if aq[1] else 0
        b_iqr = (bq[2] - bq[0]) / bq[1] if bq[1] else 0
        spread = max(a_iqr, b_iqr)
        lower = m["better"] == "lower"
        all_better = max(b) < min(a) if lower else min(b) > max(a)
        verdict = ("better in every run" if all_better
                   else "unresolved" if spread > m["bound"]
                   else "worse" if worse > m["bound"] else "ok")
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"  {name:16} {fmt(aq):>28} {fmt(bq):>28} {a_iqr:6.3f} {b_iqr:6.3f}"
              f" {change:+8.1%} {m['bound']:6.2f}  {verdict}")


def layer_diff(workload, a_runs, b_runs):
    print(f"\n== {workload}: layers ({len(a_runs)} vs {len(b_runs)} traced runs)")
    rows = []
    for name in sorted(set().union(*a_runs, *b_runs)):
        a = statistics.median([r[name] for r in a_runs if name in r] or [0.0])
        b = statistics.median([r[name] for r in b_runs if name in r] or [0.0])
        if a == 0 and b == 0:
            continue
        rel = (b - a) / abs(a) if a else float("inf")
        rows.append((abs(rel), name, a, b, rel))
    print(f"  {'metric':40} {'a':>14} {'b':>14} {'change':>9}")
    for _, name, a, b, rel in sorted(rows, reverse=True):
        print(f"  {name:40} {a:14.6g} {b:14.6g} {rel:+9.1%}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="glob of the baseline's result files")
    ap.add_argument("--b", required=True, help="glob of the change's result files")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["end_to_end"]
    a, b = load(args.a), load(args.b)
    for workload in sorted(set(a) & set(b)):
        if a[workload].get("e2e") and b[workload].get("e2e"):
            e2e_table(workload, a[workload]["e2e"], b[workload]["e2e"], spec)
        if a[workload].get("layers") and b[workload].get("layers"):
            layer_diff(workload, a[workload]["layers"], b[workload]["layers"])


if __name__ == "__main__":
    main()
