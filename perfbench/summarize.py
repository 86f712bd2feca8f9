"""Median, quartiles and spread of each metric over saved run records.

    python3 perfbench/summarize.py [RECORD.json ...]

With no arguments it reads every record under ``.bench_work/records/``.
Records are grouped by (workload, trace); for each metric it prints the
median, the first and third quartile (``statistics.quantiles(n=4)``) and the
spread, (q3 - q1) / median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def summarize(paths: list[str]) -> dict:
    groups: dict[str, dict[str, list[float]]] = {}
    seeds: dict[str, list[int]] = {}
    for p in paths:
        with open(p) as fh:
            rec = json.load(fh)
        key = f"{rec['workload']}/trace{rec['trace']}"
        seeds.setdefault(key, []).append(rec["seed"])
        for name, m in rec["metrics"].items():
            groups.setdefault(key, {}).setdefault(name, []).append(m["value"])
    out = {}
    for key, metrics in sorted(groups.items()):
        out[key] = {"runs": len(seeds[key]), "seeds": sorted(seeds[key]), "metrics": {}}
        for name, vals in metrics.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            out[key]["metrics"][name] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None,
            }
    return out


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sys.argv[1:] or sorted(
        glob.glob(os.path.join(here, ".bench_work", "records", "*.json")))
    print(json.dumps(summarize(files), indent=1))
