import json

import pytest

from tracing import event_log_file, parse_event_log, sum_groups


def _task(stage, launch, cpu_ns, read=0, written=0, shuffle=0, py_sent=None):
    accums = []
    if py_sent is not None:
        accums = [
            {"ID": 900, "Name": "data sent to Python workers", "Update": str(py_sent)},
            {"ID": 901, "Name": "data returned from Python workers", "Update": "10"},
            {"ID": 902, "Name": "time to run Python workers", "Update": "250"},
        ]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": launch + 5, "Accumulables": accums},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": 40, "JVM GC Time": 2,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


PLAN = {
    "nodeName": "AdaptiveSparkPlan", "simpleString": "", "metrics": [],
    "children": [
        {"nodeName": "Scan parquet ", "metrics": [{"name": "scan time", "accumulatorId": 501}],
         "simpleString": "FileScan parquet [term#1] Location: InMemoryFileIndex(1 paths)"
                         "[file:/x/catalogs/index/postings], PartitionFilters: []",
         "children": []},
        {"nodeName": "Scan parquet ", "metrics": [{"name": "scan time", "accumulatorId": 502}],
         "simpleString": "FileScan parquet [doc_id#2] Location: InMemoryFileIndex(1 paths)"
                         "[file:/x/catalogs/index/doc_stats]",
         "children": []},
    ],
}

# job 0 is tagged; job 1 (from a helper thread) is not, but was submitted
# inside the span of group "index.build#2"; job 2 falls outside every span
EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "query.search#1"}},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
     "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000,
                                                             "Accumulables": []}},
    _task(0, 1010, 2_000_000_000, read=400, py_sent=100),
    _task(0, 1030, 1_000_000_000, read=600, py_sent=50),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Submission Time": 1000, "Accumulables": [{"ID": 501, "Name": "scan time"}]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 1, "Submission Time": 1100, "Accumulables": [{"ID": 502, "Name": "scan time"}]}},
    _task(1, 1100, 500_000_000, read=50, shuffle=70),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5500, "Stage IDs": [2],
     "Properties": {}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Submission Time": 5500,
                                                             "Accumulables": []}},
    _task(2, 5600, 1_000_000_000, written=4096),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3],
     "Properties": {}},
    _task(3, 9000, 1_000_000_000),
]
SPANS = [("query.search", "query.search#1", 900, 2000), ("index.build", "index.build#2", 5000, 6000)]


def test_sums_task_metrics_per_group():
    groups = parse_event_log([json.dumps(e) for e in EVENTS], SPANS)
    q = groups["query.search#1"]
    assert q["jobs"] == 1
    assert q["stages"] == 2
    assert q["tasks"] == 3
    assert q["executor_cpu_s"] == pytest.approx(3.5)
    assert q["gc_s"] == pytest.approx(0.006)
    assert q["task_wait_s"] == pytest.approx((10 + 30 + 0) / 1000)
    assert q["input_bytes"] == 1050
    assert q["scan_bytes.postings"] == 1000
    assert q["scan_bytes.doc_stats"] == 50
    assert q["shuffle_write_bytes"] == 70
    assert q["python_bytes_sent"] == 150
    assert q["python_bytes_received"] == 20
    assert q["python_run_s"] == pytest.approx(0.5)


def test_untagged_job_goes_to_the_enclosing_span():
    groups = parse_event_log([json.dumps(e) for e in EVENTS], SPANS)
    assert groups["index.build#2"]["output_bytes"] == 4096
    assert groups["index.build#2"]["tasks"] == 1
    total = sum(c["tasks"] for c in groups.values())
    assert total == 4  # job 2 ran outside every span and is not counted
    assert sum_groups(groups, SPANS, "query.search")["tasks"] == 3


def test_finds_the_single_finished_log(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        event_log_file(str(tmp_path))
    (tmp_path / "local-2").write_text("")
    assert event_log_file(str(tmp_path)).endswith("local-2")
