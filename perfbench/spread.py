"""Median, quartiles and spread of each metric over a set of runs.

    python3 perfbench/spread.py .perfbench/out/serve-s*-t0.json

Reads the per-run reports that run.py writes and prints, per metric, the
median, the first and third quartiles (``statistics.quantiles(n=4)``) and
the spread: (Q3 - Q1) / median.
"""

from __future__ import annotations

import json
import statistics
import sys


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(paths: list[str]) -> int:
    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append(json.load(fh)["metrics"])
    if len(runs) < 2:
        print("need at least two runs", file=sys.stderr)
        return 2
    print(f"{len(runs)} runs")
    print(f"{'metric':28s}{'median':>14s}{'q1':>14s}{'q3':>14s}{'spread':>9s}")
    for k in runs[0]:
        med, q1, q3, sp = spread([r[k] for r in runs])
        print(f"{k:28s}{med:14.4f}{q1:14.4f}{q3:14.4f}{100 * sp:8.2f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
