#!/usr/bin/env python3
"""Summarise the runs recorded under ``perfbench/_work/``.

    python3 perfbench/report.py

For each workload: every end-to-end metric's median, quartiles and spread
across the recorded runs; from the traced runs, the per-layer metrics, each
span's self time, and the tracing overhead — the traced runs' end-to-end
medians minus the untraced runs'.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORK = os.path.join(HERE, "_work")


def load_records() -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(WORK, "results", "*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out


def span_self_times(run_id: str) -> dict[str, list[float]]:
    path = os.path.join(WORK, "traces", f"{run_id}.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    warm_up = {s["trace"] for s in spans if s["attrs"].get("warm_up")}
    out = defaultdict(list)
    for s in spans:
        if s["trace"] not in warm_up:
            out[s["name"]].append(metrics.self_time(s, children[s["id"]]))
    return out


def describe(values: list[float]) -> str:
    sm = metrics.summary(values)
    spread = metrics.relative_iqr(values)
    return (f"median {sm['p50']:.6g}  p25 {sm['p25']:.6g}  p75 {sm['p75']:.6g}  "
            f"spread {spread:.3f}  n={sm['n']}")


def main() -> int:
    records = load_records()
    if not records:
        print(f"no recorded runs under {WORK}", file=sys.stderr)
        return 1
    by_workload = defaultdict(lambda: {0: [], 1: []})
    for r in records:
        by_workload[r["workload"]][r["trace"]].append(r)
    for workload, runs in sorted(by_workload.items()):
        plain, traced = runs[0], runs[1]
        print(f"== {workload}: {len(plain)} untraced, {len(traced)} traced runs")
        for k in (plain or traced)[0]["end_to_end"]:
            vals = [r["end_to_end"][k] for r in plain]
            if vals:
                print(f"  {k:40s} {describe(vals)}")
        if not traced:
            continue
        print("  -- per layer (traced runs)")
        for k in traced[0]["per_layer"]:
            print(f"  {k:40s} {describe([r['per_layer'][k] for r in traced])}")
        print("  -- span self time, mean per span (s)")
        selfs = defaultdict(list)
        for r in traced:
            for name, xs in span_self_times(r["run_id"]).items():
                selfs[name].extend(xs)
        for name, xs in sorted(selfs.items()):
            print(f"  {name:40s} {sum(xs) / len(xs):.6g}  n={len(xs)}")
        if plain:
            print("  -- tracing overhead: traced median - untraced median")
            for k in plain[0]["end_to_end"]:
                d = (metrics.median([r["end_to_end"][k] for r in traced])
                     - metrics.median([r["end_to_end"][k] for r in plain]))
                print(f"  {k:40s} {d:+.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
