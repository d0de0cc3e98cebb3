"""Compare the count metrics of traced runs.

    python3 perfbench/compare_traces.py .bench_out/trace-headline-seed1.json \
        .bench_out/trace-headline-seed2.json

Prints each count metric whose per-pass values are not the same in every
pass of every given trace, and exits 1 if there is any.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "sources.files_written")


def varying_counts(*traces: dict) -> list[str]:
    return [
        c for c in COUNTS
        if len({row.get(c, 0) for t in traces for row in t["per_pass"]}) > 1
    ]


def main(paths: list[str]) -> int:
    traces = []
    for path in paths:
        with open(path) as f:
            traces.append(json.load(f))
    for c in COUNTS:
        values = [sorted({row.get(c, 0) for row in t["per_pass"]}) for t in traces]
        print(f"{c:<24} {values}")
    varying = varying_counts(*traces)
    print(f"varying: {varying or 'none'}")
    return 1 if varying else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
