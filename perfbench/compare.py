"""Summarise and compare benchmark records.

    python3 perfbench/compare.py RUNS.jsonl            # spread per metric
    python3 perfbench/compare.py PARENT.jsonl NEW.jsonl  # regression check

A records file is the saved stdout of one or more ``run.py`` runs; only
its record lines are read. For each workload and end-to-end metric the
summary gives the median, quartiles and the inter-quartile spread as a
share of the median, which must stay under a third of the metric's
bound (exit code 1 otherwise). Where a file holds both
untraced and traced runs of a workload, the difference of their medians
is the tracing overhead.

Two files are compared only when every record's deployment (core count,
memory, Spark and Python versions, ``SPARK_GRAFT_*`` settings) is the
same; otherwise the comparison is refused with exit code 2. NEW fails
(exit code 1) when a median is worse than PARENT's by more than the
metric's bound.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from perfbench import stats  # noqa: E402


def load(path: str) -> list[dict]:
    """The records in a file of saved ``run.py`` output."""
    with open(path) as f:
        lines = [json.loads(line) for line in f if line.startswith("{")]
    return [obj["record"] for obj in lines if "record" in obj]


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def summary(records: list[dict], metrics: list[dict]) -> bool:
    steady = True
    untraced, traced = by_workload(records, 0), by_workload(records, 1)
    for workload, runs in sorted(untraced.items()):
        print(f"{workload}: {len(runs)} runs, seeds {sorted(r['seed'] for r in runs)}")
        for m in metrics:
            values = [r["end_to_end"][m["name"]] for r in runs]
            q1, q2, q3 = stats.quartiles(values)
            sp = stats.spread(values)
            ok = sp <= m["bound"] / 3
            steady &= ok
            line = (f"  {m['name']:<12} median {q2:12.4f} {m['unit']:<5} "
                    f"q1 {q1:12.4f} q3 {q3:12.4f} spread {sp:6.1%} "
                    f"(bound/3 {m['bound'] / 3:5.1%}){'' if ok else '  UNSTEADY'}")
            if workload in traced:
                t = stats.median(r["end_to_end"][m["name"]] for r in traced[workload])
                line += f"  tracing overhead {t - q2:+.4f}"
            print(line)
    return steady


def compare(parent: list[dict], new: list[dict], metrics: list[dict]) -> int:
    deployments = {json.dumps(r["deployment"], sort_keys=True) for r in parent + new}
    if len(deployments) > 1:
        print("refused: the records come from different deployments:")
        for d in sorted(deployments):
            print("  " + d)
        return 2
    worse = False
    a, b = by_workload(parent, 0), by_workload(new, 0)
    for workload in sorted(set(a) & set(b)):
        print(workload)
        for m in metrics:
            ma = stats.median(r["end_to_end"][m["name"]] for r in a[workload])
            mb = stats.median(r["end_to_end"][m["name"]] for r in b[workload])
            change = (mb - ma) / ma if ma else 0.0
            bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse |= bad
            print(f"  {m['name']:<12} {ma:12.4f} -> {mb:12.4f} {m['unit']:<5} "
                  f"{change:+7.1%} (bound {m['bound']:.0%}){'  WORSE' if bad else ''}")
    return 1 if worse else 0


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    if len(argv) == 1:
        return 0 if summary(load(argv[0]), metrics) else 1
    if len(argv) == 2:
        return compare(load(argv[0]), load(argv[1]), metrics)
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
