#!/usr/bin/env python3
"""Diff two traced-run artifacts, layer by layer and span by span.

    python3 perfbench/diff_trace.py BEFORE.json AFTER.json

Each argument is a `trace-<workload>-<seed>.json` artifact written by
`run.py --trace 1`. The first table compares the per-layer metrics; the
second compares the spans, grouped by name: how many, their total and self
time, and what the listeners put in them (jobs, tasks, task time,
compilations, Catalyst time). A saving shows in the layer whose self time
fell.
"""
import json
import sys
from collections import defaultdict

SPAN_FIELDS = ("ms", "self_ms", "jobs", "tasks", "task_ms", "compilations",
               "compile_ms", "analysis_ms", "optimization_ms", "planning_ms")


def load(path):
    with open(path) as f:
        art = json.load(f)
    art["metrics"] = {k: v["value"] for k, v in art["reported"].items()}
    return art


def by_name(spans):
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        row = out[s["name"]]
        row["n"] += 1
        for k in SPAN_FIELDS:
            row[k] += s[k]
    return out


def change(a, b):
    if a == 0:
        return "" if b == 0 else "new"
    return f"{100.0 * (b - a) / a:+.1f}%"


def main(before, after):
    a, b = load(before), load(after)
    if a.get("workload") != b.get("workload"):
        print(f"warning: workloads differ: {a.get('workload')} vs {b.get('workload')}")
    print(f"{'layer metric':40s} {'before':>14s} {'after':>14s} {'change':>9s}")
    metrics = sorted(set(a["metrics"]) | set(b["metrics"]))
    for name in metrics:
        x, y = a["metrics"].get(name, 0.0), b["metrics"].get(name, 0.0)
        print(f"{name:40s} {x:14.2f} {y:14.2f} {change(x, y):>9s}")
    sa, sb = by_name(a.get("spans", [])), by_name(b.get("spans", []))
    print()
    print(f"{'span':28s} {'field':16s} {'before':>12s} {'after':>12s} {'change':>9s}")
    for name in sorted(set(sa) | set(sb)):
        for k in ("n",) + SPAN_FIELDS:
            x, y = sa[name][k], sb[name][k]
            if x or y:
                print(f"{name:28s} {k:16s} {x:12.1f} {y:12.1f} {change(x, y):>9s}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
