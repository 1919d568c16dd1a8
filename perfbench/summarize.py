"""Summarize repeated benchmark runs as medians and quartiles.

    python3 perfbench/summarize.py analytics=a.jsonl indexes=i.jsonl

Each file holds the last stdout line of several runs of one workload,
one per line. For every metric the output gives the median, the first
and third quartiles (``statistics.quantiles(values, n=4)``) and the
spread, the distance between the quartiles as a share of the median.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(results: list[dict]) -> dict:
    out = {"runs": len(results),
           "failed": sum(r["failed"] for r in results),
           "attempted": sum(r["attempted"] for r in results),
           "metrics": {}}
    for name, first in results[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in results]
        q1, median, q3 = statistics.quantiles(values, n=4)
        out["metrics"][name] = {
            "unit": first["unit"], "median": statistics.median(values),
            "q1": q1, "q3": q3,
            "spread": (q3 - q1) / median if median else None,
        }
    return out


def main() -> int:
    summary = {}
    for arg in sys.argv[1:]:
        workload, path = arg.split("=", 1)
        with open(path) as f:
            summary[workload] = summarize([json.loads(line) for line in f if line.strip()])
    print(json.dumps(summary, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
