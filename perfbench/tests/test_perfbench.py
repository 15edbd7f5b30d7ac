"""Self-tests of the benchmark's own code (no Spark needed).

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import ARTIFACTS, DASHBOARD_PLANS, Outcome  # noqa: E402

SMALL = {"events": 500, "customer": 50, "orders": 80, "lineitem": 200,
         "documents": 40, "part": 20, "supplier": 5, "embeddings": 10}


def test_log_generator_is_deterministic_per_seed():
    a = gen.log_file_lines(7, "backlog", 3, 400)
    b = gen.log_file_lines(7, "backlog", 3, 400)
    assert a[0] == b[0] and a[1] == b[1]
    assert gen.log_file_lines(8, "backlog", 3, 400)[0] != a[0]
    assert gen.log_file_lines(7, "warmup", 3, 400)[0] != a[0]


def test_log_generator_tally_counts_lines():
    lines, tally = gen.log_file_lines(1, "backlog", 0, 2000)
    assert tally.lines == len(lines) == 2000
    assert tally.good + tally.quarantined == 2000
    assert 0 < tally.quarantined < 60  # about 1 %
    assert sum(tally.levels.values()) == tally.good
    parsed = []
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except ValueError:
            continue
    good = [r for r in parsed if "created" in r]
    assert len(good) == tally.good


def test_table_generator_is_deterministic_per_seed():
    a = gen.make_tables(5, SMALL)
    b = gen.make_tables(5, SMALL)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    c = gen.make_tables(6, SMALL)
    assert not a["events"].equals(c["events"])


def test_ingest_check_accepts_exact_tally():
    _, tally = gen.log_file_lines(2, "backlog", 0, 1000)
    assert tally.mismatches(tally.good, tally.quarantined, dict(tally.levels)) == []


@pytest.mark.parametrize("field", ["logs", "quarantine", "level"])
def test_ingest_check_rejects_off_by_one(field):
    _, tally = gen.log_file_lines(2, "backlog", 0, 1000)
    logs, quarantine, levels = tally.good, tally.quarantined, dict(tally.levels)
    if field == "logs":
        logs += 1
    elif field == "quarantine":
        quarantine -= 1
    else:
        levels["INFO"] += 1
    assert tally.mismatches(logs, quarantine, levels)


def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 41)]
    lat = metrics.latency_summary(samples)
    assert sum(s > lat["tail"] for s in samples) == metrics.TAIL_MIN_BEYOND
    assert lat["tail_q"] == 75.0 and lat["n"] == 40
    with pytest.raises(ValueError):
        metrics.latency_summary(samples[:10])


def _fake_outcome() -> Outcome:
    return Outcome(
        attempted=30, setup_reps_s=[3.0, 1.0, 1.1],
        op_s=[0.1 + i / 100 for i in range(30)], items=30, timed_s=10.0,
        peak_rss_mb=900.0,
    )


def test_every_end_to_end_metric_is_printed_with_its_unit():
    values = _fake_outcome().end_to_end()
    line = json.loads(metrics.result_line(True, 30, 0, values, "end_to_end"))
    declared = metrics.declared("end_to_end")
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())


def test_every_per_layer_metric_is_printed_with_its_unit():
    declared = metrics.declared("per_layer")
    for p in DASHBOARD_PLANS:
        assert f"plans.{p}.build_s" in declared and f"plans.{p}.exec_s" in declared
    for a in ARTIFACTS:
        assert f"prepared.{a}.build_s" in declared
    line = json.loads(metrics.result_line(
        True, 1, 0, {k: 1.0 for k in declared}, "per_layer"))
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared


def test_result_line_refuses_missing_or_undeclared_metrics():
    values = _fake_outcome().end_to_end()
    with pytest.raises(ValueError):
        metrics.result_line(True, 30, 0, {**values, "bogus": 1.0}, "end_to_end")
    values.pop("setup_s")
    with pytest.raises(ValueError):
        metrics.result_line(True, 30, 0, values, "end_to_end")
