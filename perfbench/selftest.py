"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest -q perfbench/selftest.py

Covers: a perturbed output raises the error count, the seed guard
fires before doc ids reach 10**7 and any seed folds below that limit,
the self-time arithmetic on a hand-built span tree, and the event-log
parser on hand-built events.
"""

from __future__ import annotations

import copy
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as R  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    layer_times, parse_event_log, self_times)


def _bulk_expected() -> dict:
    return {
        "n_triples": 10,
        "triples_by_pred": {"rdf:type": 6, "dwc:genus": 4},
        "status_counts": {"0": 3, "1": 1},
        "ttl_convs": ["c0000000", "c0000001"],
        "ttl_errors": [],
        "links": [["c0000000", "aster alba", "http://x/Aster_alba"]],
        "components": {"n": 20, "bad": 0},
    }


def _ops() -> W.Ops:
    return W.Ops(log=lambda msg: None)


def test_unperturbed_output_passes():
    ops = _ops()
    want = _bulk_expected()
    ops.compare("bulk", copy.deepcopy(want), want)
    assert ops.attempted == len(want) and ops.failed == 0


def test_dropped_triple_and_wrong_status_raise_error_rate():
    want = _bulk_expected()
    got = copy.deepcopy(want)
    got["n_triples"] -= 1  # one triple dropped from the sink ...
    got["triples_by_pred"]["dwc:genus"] -= 1  # ... and from its predicate
    got["status_counts"] = {"0": 2, "1": 2}  # one conversation mis-rated
    ops = _ops()
    ops.compare("bulk", got, want)
    assert ops.failed == 3
    assert ops.failed / ops.attempted > 0


def test_missing_output_counts_as_failure():
    want = _bulk_expected()
    got = copy.deepcopy(want)
    del got["links"]
    ops = _ops()
    ops.compare("bulk", got, want)
    assert ops.failed == 1


def test_seed_guard():
    assert W.doc_range(0, 1000) == (0, 1000)
    assert W.doc_range(9999, 1000) == (9_999_000, 10**7)
    for slot in (10_000, -1):
        try:
            W.doc_range(slot, 1000)
        except W.SeedError:
            continue
        raise AssertionError(f"slot {slot} was accepted")


def test_any_seed_folds_below_the_doc_id_limit():
    for n in (200, 1000):
        for seed in (0, 9_999, 10_000, 2**31 - 1, 2**63, -1, -10**12):
            lo, hi = W.doc_range(W.seed_slot(seed, n), n)
            assert 0 <= lo < hi <= W.DOC_ID_LIMIT
    assert W.seed_slot(3, 1000) == 3  # small seeds keep their range
    assert W.seed_slot(10_003, 1000) == 3


def test_large_seed_builds_a_workload(tmp_path):
    for name in R.SIZES:
        wl = R.make_workload(name, 2**40 + 7, str(tmp_path))
        assert 0 <= wl.lo < wl.hi <= W.DOC_ID_LIMIT


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "run_id": "t"}


def test_self_time_arithmetic():
    spans = [
        _span("root", 0.0, 10.0, None),   # 0
        _span("a", 1.0, 4.0, 0),          # 1
        _span("b", 3.0, 6.0, 0),          # 2: overlaps a
        _span("c", 8.0, 12.0, 0),         # 3: runs past root's end
        _span("a", 2.0, 3.0, 1),          # 4: child of a
    ]
    # root: 10 - |[1,6] u [8,10]| = 10 - 5 - 2
    assert self_times(spans) == [3.0, 2.0, 3.0, 4.0, 1.0]
    t = layer_times(spans)
    assert t["a"] == {"busy_s": 4.0, "self_s": 3.0, "rows_out": 0}
    assert t["root"]["self_s"] == 3.0


def test_event_log_parser():
    def ev(**kw):
        return json.dumps(kw)

    spans = [_span("materialize", 100.0, 110.0, None)]
    lines = [
        ev(Event="SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 100500,
            "Properties": {"spark.jobGroup.id": "materialize"}}),
        ev(Event="SparkListenerJobStart", **{
            "Job ID": 2, "Submission Time": 101000,
            "Properties": {"spark.jobGroup.id": "stream-run-id"}}),
        ev(Event="SparkListenerStageSubmitted",
           **{"Stage Info": {"Stage ID": 7},
              "Properties": {"spark.jobGroup.id": "materialize"}}),
        ev(Event="SparkListenerStageSubmitted",
           **{"Stage Info": {"Stage ID": 8},
              "Properties": {"spark.jobGroup.id": "stream-run-id"}}),
        ev(Event="SparkListenerStageSubmitted",
           **{"Stage Info": {"Stage ID": 9}, "Properties": {}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 7, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2**19},
            "Output Metrics": {"Bytes Written": 4096}}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 7, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 0}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 8, "Task Metrics": {
            "Executor Run Time": 1000}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 9, "Task Metrics": {
            "Executor Run Time": 9000}}),
        ev(Event="org.apache.spark.sql.execution.ui."
                 "SparkListenerSQLExecutionStart",
           executionId=3, rootExecutionId=3, time=100200,
           physicalPlanDescription="Project [pmod(hash(conv_id#1, 42), 32)]"),
        ev(Event="org.apache.spark.sql.execution.ui."
                 "SparkListenerSQLExecutionStart",
           executionId=4, rootExecutionId=3, time=100300,
           physicalPlanDescription="pmod(hash(conv_id#1, 42), 32)"),
        ev(Event="org.apache.spark.sql.execution.ui."
                 "SparkListenerSQLExecutionStart",
           executionId=5, rootExecutionId=5, time=100400,
           physicalPlanDescription="LocalTableScan [conv_bucket]"),
    ]
    c = parse_event_log(lines, spans, {"stream-run-id": "incremental"})
    m = c["materialize"]
    assert m["jobs"] == 1 and m["tasks"] == 2
    assert m["executor_run_s"] == 2.0 and m["executor_cpu_s"] == 1.0
    assert m["shuffle_write_mb"] == 1.0 and m["shuffle_read_mb"] == 0.5
    assert m["bytes_written"] == 4096
    assert m["input_evaluations"] == 1  # nested and unmarked ones skipped
    assert c["incremental"]["jobs"] == 1
    assert c["incremental"]["executor_run_s"] == 1.0
    assert set(c) == {"materialize", "incremental"}


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main(["-q", __file__]))
