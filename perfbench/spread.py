"""Run-to-run spread of benchmark results.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds the standard output of one run (its last line is the
result object). For every metric, prints the number of runs, the
median and the interquartile distance as a share of the median -- the
figure a metric's ``bound`` in BENCHMARK.json is compared with.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import median, relative_spread  # noqa: E402


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            lines = f.read().strip().splitlines()
        result = json.loads(lines[-1])
        if not result["correct"]:
            print(f"{path}: not correct ({result['failed']} of {result['attempted']} failed)")
        for name, m in result["metrics"].items():
            values[name].append(float(m["value"]))
    for name, vals in values.items():
        spread = relative_spread(vals) if median(vals) else float("nan")
        print(f"{name:48s} n={len(vals):2d} median={median(vals):12.4f} iqr/median={spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
