#!/usr/bin/env python3
"""Summarize benchmark results: per workload and metric, the median, the
quartile spread (q3 - q1) / median, and that spread against the metric's
bound in BENCHMARK.json.

    python3 perfbench/spread.py [.perfbench/results/*.json ...]

With no arguments it reads every untraced result under
``.perfbench/results/``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def main(argv: list[str]) -> int:
    paths = argv or glob.glob(os.path.join(".perfbench", "results", "*-t0-*.json"))
    with open("BENCHMARK.json") as fh:
        bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}
    values: dict[tuple[str, str], list[float]] = {}
    for path in sorted(paths):
        with open(path) as fh:
            rec = json.load(fh)
        wl = rec["context"]["workload"]
        for name, m in rec["result"]["metrics"].items():
            values.setdefault((wl, name), []).append(m["value"])
    print(f"{'workload':<20} {'metric':<14} {'n':>3} {'median':>12} "
          f"{'spread':>8} {'bound':>6}")
    for (wl, name), vals in sorted(values.items()):
        med = statistics.median(vals)
        spread = float("nan")
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / abs(med)
        bound = bounds.get(name)
        print(f"{wl:<20} {name:<14} {len(vals):>3} {med:>12.5g} "
              f"{spread:>8.4f} {bound if bound is not None else '':>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
