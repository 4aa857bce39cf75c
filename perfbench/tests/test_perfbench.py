"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import generate  # noqa: E402
import mapping  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402

FIXTURES = os.path.join(ROOT, "tests", "fixtures")


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------
def test_eprints_export_is_deterministic_per_seed():
    a = generate.eprints_export(7, 300)
    assert a == generate.eprints_export(7, 300)
    assert a != generate.eprints_export(8, 300)
    assert sorted(r["eprintid"] for r in a) == list(range(1, 301))


def test_export_counts_see_unmapped_codes_and_null_mains():
    counts = generate.export_counts(generate.eprints_export(3, 2000))
    assert counts["unmapped_subjects"] > 0
    assert counts["null_main_documents"] > 0


def test_ledger_plan_is_deterministic_and_consistent():
    a = generate.ledger_plan(5, 400, 4, 6, 20)
    assert a == generate.ledger_plan(5, 400, 4, 6, 20)
    assert a != generate.ledger_plan(6, 400, 4, 6, 20)
    assert sum(len(c) for c in a["base"]) == 400
    # every step's state = previous state + delta upserts - withdrawals
    for s, step in enumerate(a["steps"], 1):
        state = dict(a["states"][s - 1])
        for row in step["delta"]:
            state[row[0]] = row
        for k in step["withdrawn"] or []:
            state.pop(k, None)
        assert state == a["states"][s]
        assert len({r[0] for r in step["delta"]}) == len(step["delta"])


def test_analytics_tables_are_deterministic_per_seed():
    a = generate.analytics_tables(11, 1)
    b = generate.analytics_tables(11, 1)
    c = generate.analytics_tables(12, 1)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }


# --------------------------------------------------------------------------
# the independent mapping
# --------------------------------------------------------------------------
def test_mapping_reproduces_the_golden_bulkrax_csv():
    with open(os.path.join(FIXTURES, "eprints.json"), encoding="utf-8") as fh:
        records = json.load(fh)
    with open(os.path.join(FIXTURES, "subject_map.csv"), newline="") as fh:
        labels = {r["code"]: r["label"] for r in csv.DictReader(fh)}
    with open(os.path.join(FIXTURES, "bulkrax_expected.csv"), newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        expected = sorted(reader)
    assert header == mapping.COLUMNS
    got = sorted(
        [row[c] for c in mapping.COLUMNS]
        for row in (mapping.bulkrax_row(r, labels) for r in records)
    )
    assert got == expected


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "n, p, value",
    [
        (1000, 99.0, 990),  # p99.9 has only 1 sample beyond it
        (200, 95.0, 190),
        (100, 90.0, 90),
        (40, 75.0, 30),
        (20, 50.0, 10),
    ],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, p, value):
    values = [float(v) for v in range(n, 0, -1)]  # order must not matter
    t = measure.tail(values)
    assert (t["p"], t["value"], t["n"]) == (p, value, n)
    assert sum(1 for v in values if v > t["value"]) >= 10


def test_tail_is_none_below_twenty_samples():
    assert measure.tail([1.0] * 19) is None


def test_geomean():
    assert measure.geomean([1.0, 100.0]) == pytest.approx(10.0)


def test_row_hash_is_order_insensitive_and_type_tolerant():
    import datetime as dt
    from decimal import Decimal

    utc = dt.timezone.utc
    a = [(1, 2.5, "x", dt.datetime(2024, 1, 1, tzinfo=utc)), (2, None, "y", None)]
    b = [(2, None, "y", None), (1.0, Decimal("2.50"), "x", dt.datetime(2024, 1, 1))]
    assert measure.row_hash(a) == measure.row_hash(b)
    assert measure.row_hash(a) != measure.row_hash([(1, 2.5, "x", None)])
    assert measure.canon("5") != measure.canon(5)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
def test_event_log_parser_counts_a_recorded_log():
    """eventlog_small.jsonl was recorded from two job groups on a
    local[2] session and trimmed to the job-start, stage-completed and
    task-end events: "agg" = a 4-partition range grouped by id % 3 (one
    map stage, one AQE-coalesced reduce stage), "scan" = a 3-partition
    range counted (a partial and a final stage)."""
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as fh:
        groups = spans.parse_event_log(fh)
    agg, scan = groups["agg"], groups["scan"]
    assert (agg["stages"], agg["tasks"]) == (2, 5)
    assert agg["shuffle_write_bytes"] > 0
    assert agg["shuffle_read_bytes"] == agg["shuffle_write_bytes"]
    assert (scan["stages"], scan["tasks"]) == (2, 4)
    total = spans.rollup({"agg": agg, "scan": scan})
    assert total["tasks"] == 9 and total["stages"] == 4
    assert total["executor_run_s"] == pytest.approx(
        agg["executor_run_s"] + scan["executor_run_s"]
    )


def test_task_skew():
    assert spans.task_skew([1.0, 1.0, 1.0]) == 1.0
    assert spans.task_skew([1.0, 1.0, 4.0]) == 4.0
    assert spans.task_skew([]) == 0.0


class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, g, d):
        self.groups.append(g)


def test_tracer_self_time_excludes_child_spans_and_restores_groups():
    import time

    sc = _FakeSc()
    tr = spans.Tracer(sc, enabled=True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    assert tr.self_seconds["outer"] == pytest.approx(
        tr.seconds["outer"] - tr.seconds["inner"]
    )
    assert tr.self_seconds["outer"] < tr.seconds["inner"]
    assert sc.groups == ["outer", "inner", "outer", spans.GLUE]


# --------------------------------------------------------------------------
# the contract file
# --------------------------------------------------------------------------
def test_benchmark_json_lists_the_metrics_the_runner_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [
        (m["name"], m["unit"], m["better"]) for m in spec["per_layer"]
    ] == run.PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)


def test_query_suffixes_resolve_to_exactly_one_name():
    sys.path.insert(0, ROOT)
    import workloads

    names = ["q1_inner_join", "z9_rollup", "z8_pagerank", "q2_pagerank"]
    assert workloads.resolve_suffixes(names, ("inner_join", "rollup")) == {
        "inner_join": "q1_inner_join", "rollup": "z9_rollup",
    }
    with pytest.raises(LookupError, match="pagerank"):
        workloads.resolve_suffixes(names, ("pagerank",))  # two matches
    with pytest.raises(LookupError, match="bm25"):
        workloads.resolve_suffixes(names, ("bm25",))  # none
