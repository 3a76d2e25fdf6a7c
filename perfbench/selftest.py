"""Self-test of the benchmark's own checking and bookkeeping (no Spark).

    python3 perfbench/selftest.py
    python3 -m pytest perfbench/selftest.py

Shows that one flipped output byte, one dropped url or one duplicated
url each count as one failed document, and so raise `failed_ratio`.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus, run, spans  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402
from perfbench.workloads import WORKLOADS, Tally  # noqa: E402

ROWS = [
    ("u1", "body", "alpha beta", False),
    ("u1", "pollution", "Page 1 of doc 1", False),
    ("u2", "body", "gamma", False),
    ("u3", None, None, True),
]


def _failed_ratio(rows) -> float:
    expected = corpus.digests_of(ROWS)
    tally = Tally(len(expected),
                  corpus.count_mismatches(expected, corpus.digests_of(rows)))
    return tally.failed / tally.attempted


def test_identical_output_passes():
    assert _failed_ratio(list(reversed(ROWS))) == 0


def test_flipped_byte_fails_one_doc():
    rows = list(ROWS)
    url, label, text, err = rows[2]
    flipped = bytes([text.encode()[0] ^ 1]) + text.encode()[1:]
    rows[2] = (url, label, flipped.decode(), err)
    assert _failed_ratio(rows) == 1 / 3


def test_dropped_url_fails_one_doc():
    assert _failed_ratio([r for r in ROWS if r[0] != "u2"]) == 1 / 3


def test_duplicated_url_fails_one_doc():
    assert _failed_ratio(ROWS + [ROWS[2]]) == 1 / 3


def test_unexpected_url_fails():
    assert _failed_ratio(ROWS + [("u9", "body", "x", False)]) == 1 / 3


def test_canonical_rows_ignore_column_and_row_order():
    a = corpus.canonical_rows(["b", "a"], [(1, "x"), (2, "y")])
    b = corpus.canonical_rows(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a != corpus.canonical_rows(["a", "b"], [("y", 2), ("x", 3)])


def test_doc_offset_keeps_the_synth_mix():
    for seed in (0, 1, 999, 12345):
        lo = corpus.doc_offset(seed)
        assert lo > 0 and all(lo % m == 0 for m in (3, 5, 7, 9, 13, 17))


def test_metric_names_match_benchmark_json():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_self_time_subtracts_children():
    tracer = spans.Tracer()
    child = tracer.wrap("child", lambda: time.sleep(0.01))
    tracer.wrap("parent", lambda: (child(), time.sleep(0.01)))()
    self_ns = tracer.self_ns()
    assert 0.009e9 < self_ns["child"] < 0.05e9
    assert 0.009e9 < self_ns["parent"] < 0.05e9
    assert tracer.total_ns("parent") >= self_ns["parent"] + self_ns["child"]


def _task(stage, launch, finish, **metrics):
    acc = metrics.pop("acc", [])
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": acc},
            "Task Metrics": metrics}


def test_event_log_attributes_stages_to_job_groups():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 0,
         "Properties": {"spark.jobGroup.id": "timed-0",
                        "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 0,
         "Properties": {"spark.jobGroup.id": "timed-0",
                        "spark.sql.execution.id": "0"}},
        _task(0, 0, 500, **{"Executor Run Time": 400,
                            "Input Metrics": {"Bytes Read": 10},
                            "Shuffle Write Metrics": {
                                "Shuffle Bytes Written": 99}}),
        _task(2, 500, 2500, **{
            "Executor Run Time": 2000,
            "Shuffle Read Metrics": {"Local Bytes Read": 99,
                                     "Total Records Read": 7},
            "acc": [{"ID": 5, "Name": "data sent to Python workers",
                     "Update": "123"}]}),
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 0, "physicalPlanDescription": "",
         "sparkPlanInfo": {"nodeName": "Scan parquet ", "metrics": [
             {"name": "size of files read", "accumulatorId": 9}]}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[9, 4096]]},
    ]
    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as fh:
        fh.write("\n".join(json.dumps(e) for e in events))
    try:
        log = EventLog.read(fh.name)
    finally:
        os.unlink(fh.name)
    stages = log.stages_of("timed-0")
    assert [s.stage_id for s in stages] == [0, 2]  # stage 1 never ran
    scan, py = stages
    assert scan.is_scan and not scan.is_python
    assert py.is_python and py.metric("data sent to Python workers") == 123
    assert py.task_records_read == [7] and py.task_s == [2.0]
    assert log.executions_of("timed-0")[0].scan_bytes == 4096
    assert log.stages_of("timed-1") == []


if __name__ == "__main__":
    tests = [(n, f) for n, f in sorted(globals().items())
             if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print("ok", name)
    print(f"{len(tests)} passed")
