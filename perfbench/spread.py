"""Summarise recorded runs: per workload and end-to-end metric, the median,
the quartiles and the spread (quartile distance over the median) across
seeds, as the benchmark's acceptance rule computes them.

    python3 perfbench/spread.py                 # every untraced run in perfbench/.runs
    python3 perfbench/spread.py --since 20261017T0420 --until 20261017T0500
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

RUNS = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".runs")


def load(since: str, until: str) -> dict:
    """{workload: [result, ...]} of the untraced runs started in
    [``since``, ``until``) (``%Y%m%dT%H%M%S`` prefixes), oldest first."""
    out: dict = {}
    for d in sorted(os.listdir(RUNS), key=lambda d: d.split("-")[-2]):
        path = os.path.join(RUNS, d, "result.json")
        started = d.split("-")[-2]
        if "-t0-" not in d or not since <= started < until or not os.path.exists(path):
            continue
        with open(path) as f:
            rec = json.load(f)
        out.setdefault(rec["workload"], []).append(rec)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--since", default="")
    ap.add_argument("--until", default="~")
    args = ap.parse_args()
    for workload, recs in sorted(load(args.since, args.until).items()):
        seeds = [r["seed"] for r in recs]
        failed = sum(1 for r in recs if not all(c["ok"] for c in r["checks"]))
        print(f"{workload}: {len(recs)} runs, seeds {seeds}, {failed} with a failed check")
        for metric in recs[0]["end_to_end"]:
            vals = [r["end_to_end"][metric] for r in recs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            print(
                f"  {metric:12s} median {med:10.3f}  q1 {q1:10.3f}  q3 {q3:10.3f}"
                f"  spread {(q3 - q1) / med if med else 0.0:6.3f}"
            )


if __name__ == "__main__":
    main()
