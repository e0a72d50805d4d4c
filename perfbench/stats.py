"""Order statistics and the metric-name check shared by the benchmark."""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) by the same rule as ``statistics.quantiles(n=4)``.

    With a single sample every quartile is that sample.
    """
    values = list(values)
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def check_spec(spec: dict) -> None:
    """Raise ValueError if BENCHMARK.json's metric or workload names
    break the naming rules or repeat."""
    seen: set[str] = set()
    groups = [("workloads", spec["workloads"]),
              ("end_to_end", spec["end_to_end"]),
              ("per_layer", spec["per_layer"])]
    for group, items in groups:
        for item in items:
            name = item["name"]
            if not NAME_RE.fullmatch(name):
                raise ValueError(f"{group}: bad name {name!r}")
            if name in seen:
                raise ValueError(f"{group}: {name!r} used twice")
            seen.add(name)
            if "unit" in item and not UNIT_RE.fullmatch(item["unit"]):
                raise ValueError(f"{group}: bad unit {item['unit']!r}")


def check_metrics(expected: list[dict], metrics: dict) -> None:
    """Raise ValueError unless ``metrics`` holds exactly the expected
    names, each with the expected unit and a finite value."""
    want = {m["name"]: m["unit"] for m in expected}
    missing = sorted(set(want) - set(metrics))
    extra = sorted(set(metrics) - set(want))
    if missing or extra:
        raise ValueError(f"metric names: missing {missing}, unexpected {extra}")
    for name, m in metrics.items():
        if m["unit"] != want[name]:
            raise ValueError(f"{name}: unit {m['unit']!r}, want {want[name]!r}")
        v = m["value"]
        if not isinstance(v, (int, float)) or v != v or v in (
                float("inf"), float("-inf")):
            raise ValueError(f"{name}: value {v!r} is not a finite number")
