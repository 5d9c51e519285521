"""Pure helpers: summary statistics and metric-name rules.

No Spark import here, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) over the samples."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[k - 1])


def geomean(xs: list[float]) -> float:
    """Geometric mean of positive values."""
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def iqr_share(xs: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(xs, n=4)``)."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med


def check_spec(spec: dict) -> list[str]:
    """Return every way ``spec`` breaks the naming rules (empty if none)."""
    errs = []
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for n in names:
        if not NAME_RE.match(n):
            errs.append(f"bad name: {n!r}")
    dup = {n for n in names if names.count(n) > 1}
    errs += [f"name used twice: {n}" for n in sorted(dup)]
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT_RE.match(m["unit"]):
            errs.append(f"bad unit for {m['name']}: {m['unit']!r}")
        if m["better"] not in ("lower", "higher"):
            errs.append(f"bad 'better' for {m['name']}")
    for m in spec["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            errs.append(f"bound out of range for {m['name']}")
    for w in spec["workloads"]:
        if len(w["why"]) > 200 or "\n" in w["why"]:
            errs.append(f"why too long for {w['name']}")
    return errs
