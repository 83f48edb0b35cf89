"""Compare two sets of runs saved by ``repeat.py --out``: per end-to-end
metric, each set's median and spread, and how far the second median is
from the first, as a share of the first and in the metric's "worse"
direction, next to the metric's bound in BENCHMARK.json.

Usage (from the repository root):

    python3 perfbench/compare.py SET_A.json SET_B.json
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worse_share(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of
    ``first`` (negative when it is better)."""
    change = (second - first) / abs(first)
    return change if better == "lower" else -change


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    sets = []
    for path in sys.argv[1:3]:
        with open(path) as fh:
            sets.append(json.load(fh))
    a, b = sets
    print(f"{a['workload']}: {len(a['runs'])} runs against {len(b['runs'])} runs")
    print(f"{'metric':24s} {'median A':>11s} {'median B':>11s} {'spread A':>9s} {'spread B':>9s} "
          f"{'B worse':>8s} {'bound':>6s}")
    for name, m in declared.items():
        sa, sb = a["spread"][name], b["spread"][name]
        worse = worse_share(sa["median"], sb["median"], m["better"])
        print(f"{name:24s} {sa['median']:11.4g} {sb['median']:11.4g} {sa['iqr_share']:9.3f} "
              f"{sb['iqr_share']:9.3f} {worse:8.3f} {m['bound']:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
