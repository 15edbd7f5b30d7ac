"""Metric arithmetic and the result line.

Kept free of Spark so the self-tests can exercise it directly.
"""

from __future__ import annotations

import json
import os
import statistics

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
)

# A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def declared(kind: str) -> dict[str, str]:
    """``{metric name: unit}`` for ``kind`` ("end_to_end" or
    "per_layer") as BENCHMARK.json declares them."""
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def latency_summary(samples: list[float]) -> dict:
    """Median and tail of a list of operation latencies.

    The tail is the highest percentile with at least
    :data:`TAIL_MIN_BEYOND` samples beyond it: the sample with exactly
    that many above it. Its percentile moves smoothly with the sample
    count, so runs that finish a few operations apart stay comparable.
    The percentile it was read at and the sample count are returned
    with it."""
    n = len(samples)
    if n <= TAIL_MIN_BEYOND:
        raise ValueError(
            f"{n} samples: a tail needs more than {TAIL_MIN_BEYOND}"
        )
    k = n - TAIL_MIN_BEYOND  # 1-based rank of the tail sample
    return {
        "n": n,
        "p50": statistics.median(samples),
        "tail_q": 100.0 * k / n,
        "tail": sorted(samples)[k - 1],
    }


def quartile_spread(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    values: dict[str, float],
    kind: str,
) -> str:
    """The final JSON line: every metric BENCHMARK.json declares for
    ``kind``, each with its unit. A declared metric missing from
    ``values`` is an error, as is an undeclared one."""
    units = declared(kind)
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise ValueError(f"metrics missing {missing} / undeclared {extra}")
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in units.items()
        },
    })
