"""Spread summary of benchmark records.

    python3 lakebench/spread.py [RECORD_OR_DIR ...]

Reads result records (the JSON files under ``lakebench/.work/records/`` by
default, or any file holding record lines as ``run.py`` prints them) and
prints, per workload and metric, n, the median, the quartiles and IQR ÷
median, as ``statistics.quantiles(values, n=4)`` gives them. Untraced and
traced records are summarised apart; where both exist the tracing overhead
(traced median minus untraced median of each end-to-end metric) follows.
Compare a parent and a change by running it on each side's records.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths: list[str]) -> list[dict]:
    files: list[str] = []
    for p in paths or [os.path.join(HERE, ".work", "records")]:
        files.extend(sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p])
    records = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{") and '"workload"' in line:
                    records.append(json.loads(line))
    return records


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "n": len(values), "median": med, "q1": q1, "q3": q3,
        "iqr_over_median": (q3 - q1) / med if med else float("nan"),
    }


def table(records: list[dict]) -> dict:
    """{(workload, trace): {metric: summary}}; traced records contribute
    both their end-to-end and their per-layer metrics."""
    values: dict = defaultdict(lambda: defaultdict(list))
    for r in records:
        key = (r["workload"], r["trace"])
        for name, v in r["end_to_end"].items():
            values[key][name].append(v)
        for name, v in r.get("per_layer", {}).items():
            values[key][name].append(v)
    return {k: {m: summary(v) for m, v in ms.items()} for k, ms in values.items()}


def main(argv: list[str]) -> None:
    t = table(load(argv))
    for (workload, trace), metrics in sorted(t.items()):
        print(f"\n{workload}  trace={trace}")
        print(f"  {'metric':<44}{'n':>4}{'median':>14}{'q1':>14}{'q3':>14}{'iqr/med':>9}")
        for name, s in sorted(metrics.items()):
            print(f"  {name:<44}{s['n']:>4}{s['median']:>14.6g}{s['q1']:>14.6g}"
                  f"{s['q3']:>14.6g}{s['iqr_over_median']:>9.3f}")
        if trace == 1 and (workload, 0) in t:
            plain = t[(workload, 0)]
            print("  tracing overhead (traced - untraced median):")
            for name in sorted(plain):
                if name in metrics:
                    d = metrics[name]["median"] - plain[name]["median"]
                    print(f"    {name:<42}{d:>+14.6g}  ({d / plain[name]['median']:+.1%})")


if __name__ == "__main__":
    main(sys.argv[1:])
