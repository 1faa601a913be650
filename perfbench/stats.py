"""Spark-free arithmetic of the benchmark: the percentile rule, span
self time, and metric-name validity."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest of p99.9, p99 and p90 that has at least ten samples
    beyond it -> (value, percentile), by nearest rank.  With fewer than
    100 samples none qualifies and the maximum is reported as the
    100th percentile."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    n = len(s)
    for pct in TAIL_PERCENTILES:
        k = math.ceil(n * pct / 100) - 1
        if n - 1 - k >= 10:
            return s[k], pct
    return s[-1], 100.0


def summarize(samples: list[float]) -> dict:
    """Median, tail (see ``tail``) and sample count of a timing."""
    value, pct = tail(samples)
    return {
        "median": statistics.median(samples),
        "tail": value,
        "tail_pct": round(pct, 1),
        "n": len(samples),
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its child spans
    cover.  ``spans`` carry ``start``, ``end`` and ``parent`` (index
    into the same list, or None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return [
        (sp["end"] - sp["start"]) - covered(children.get(i, []), sp["start"], sp["end"])
        for i, sp in enumerate(spans)
    ]


def check_spec(spec: dict) -> list[str]:
    """Problems with a BENCHMARK.json document (empty when valid)."""
    problems = []
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for n in names:
        if not NAME_RE.match(n):
            problems.append(f"bad name {n!r}")
    if len(set(names)) != len(names):
        problems.append("duplicate names")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT_RE.match(m["unit"]):
            problems.append(f"bad unit {m['unit']!r} of {m['name']}")
        if m["better"] not in ("higher", "lower"):
            problems.append(f"bad direction of {m['name']}")
    for m in spec["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            problems.append(f"bound of {m['name']} out of range")
    return problems
