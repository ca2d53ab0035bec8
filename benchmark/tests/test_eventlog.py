"""Event-log folding and attribution on a hand-written miniature log."""

import json

import pytest

from benchmark import eventlog


def _task(stage, run_ms, cpu_ns, shuffle=0, result=100, records=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                         "Result Size": result,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                         "Input Metrics": {"Bytes Read": 10, "Records Read": records}},
    }


PLAN = {
    "nodeName": "TakeOrderedAndProject", "metrics": [],
    "children": [{
        "nodeName": "Filter", "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
        "children": [{
            "nodeName": "ArrowEvalPython",
            "metrics": [{"name": "time to run Python workers", "accumulatorId": 8}],
            "children": [{"nodeName": "WholeStageCodegen (1)", "metrics": [], "children": [{
                "nodeName": "Range", "metrics": [{"name": "number of output rows", "accumulatorId": 9}],
                "children": [{  # a second Python operator further down
                    "nodeName": "MapInPandas", "metrics": [], "children": [{
                        "nodeName": "Scan", "metrics": [
                            {"name": "number of output rows", "accumulatorId": 11}],
                        "children": []}]}]}]}],
        }],
    }],
}

EVENTS = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 3, "physicalPlanDescription": "Scan parquet /sink", "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "wl:similarity:lsh", "spark.sql.execution.id": "3"}},
    _task(0, 40, 30e6, shuffle=500, records=5,
          accs=[(8, "time to run Python workers", 12), (9, "number of output rows", 50)]),
    _task(0, 60, 50e6, shuffle=700, records=6,
          accs=[(8, "time to run Python workers", 8), (9, "number of output rows", 30),
                (7, "number of output rows", 4), (11, "number of output rows", 5)]),
    _task(1, 10, 5e6, result=2000, accs=[(7, "number of output rows", 3)]),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300,
     "Job Result": {"Result": "JobSucceeded"}},
    # a later job that lists stage 0 again (skipped) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200, "Stage IDs": [0, 2],
     "Properties": {"spark.jobGroup.id": "run-1234", "sql.streaming.queryId": "q-1",
                    "streaming.sql.batchId": "4"}},
    _task(2, 5, 1e6),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500,
     "Job Result": {"Result": "JobFailed"}},
    {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
     "progress": {"id": "q-1", "batchId": 4, "durationMs": {"triggerExecution": 90, "addBatch": 70}}},
]


@pytest.fixture(params=["dicts", "lines"])
def trace(request):
    events = EVENTS if request.param == "dicts" else [json.dumps(e) for e in EVENTS]
    return eventlog.parse_lines(events)


def test_jobs_fold_their_stages_tasks_and_metrics(trace):
    job0, job1 = trace.jobs
    assert (job0.stages, job0.tasks) == (2, 3)
    assert job0.run_ms == 110 and job0.cpu_ms == pytest.approx(85.0)
    assert job0.shuffle_write_bytes == 1200 and job0.result_bytes == 2200
    assert job0.input_records == 11
    assert job0.python_ms == 20  # "time to run Python workers" summed over tasks
    assert job0.python_rows == 85  # rows below each Python node (Range, Scan), not above
    assert job0.succeeded and not job1.succeeded
    assert (job1.stages, job1.tasks) == (1, 1)  # the skipped stage stays with job 0


def test_batch_jobs_attribute_by_tag_and_streaming_jobs_by_batch(trace):
    assert [j.job_id for j in trace.tagged("wl", "similarity", "lsh")] == [0]
    assert trace.tagged("wl", "sql") == []
    assert trace.jobs[0].tag == ("wl", "similarity", "lsh")
    assert trace.jobs[1].tag is None  # group is the query runId
    assert {k: [j.job_id for j in v] for k, v in trace.streaming().items()} == {("q-1", 4): [1]}
    assert trace.progress[0]["durationMs"]["addBatch"] == 70


def test_topk_rows_and_plans_are_kept_per_execution(trace):
    assert trace.topk_rows == {3: 7}  # the Filter directly below TakeOrderedAndProject
    assert "Scan parquet" in trace.plans[3]


def test_totals_and_span_union():
    t = eventlog.totals(eventlog.parse_lines(EVENTS).jobs)
    assert t["jobs"] == 2 and t["tasks"] == 4 and t["python_ms"] == 20
    assert t["job_span_ms"] == 500  # [1000, 1300] ∪ [1200, 1500]
    assert eventlog.union_ms([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_ms([]) == 0
