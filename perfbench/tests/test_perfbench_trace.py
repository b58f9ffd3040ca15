import json

import pytest

from pb.eventlog import EventLog, read_events
from pb.tracing import build_op_tree, layer_breakdown


def _plan(name, metrics, children=()):
    return {
        "nodeName": name,
        "metrics": [{"name": n, "accumulatorId": i, "metricType": "sum"} for n, i in metrics],
        "children": list(children),
    }


def _task(stage, run_ms, cpu_ns, accs, shuffle_read=0, shuffle_write=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Accumulables": [{"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


def _events():
    plan = _plan(
        "AdaptiveSparkPlan",
        [],
        [
            _plan(
                "ArrowEvalPython",
                [("data sent to Python workers", 50), ("number of output rows", 55)],
                [_plan("Range", [("number of output rows", 90)])],
            )
        ],
    )
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0, 1, 7]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 30_000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 10_000, "Completion Time": 11_000, "RDD Info": [{"Barrier": False}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 11_000, "Completion Time": 13_500, "RDD Info": [{"Barrier": True}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Submission Time": 30_000, "Completion Time": 31_000, "RDD Info": []}},
        _task(0, 400, 2e8, [(50, "data sent to Python workers", 100), (55, "number of output rows", 7),
                            (90, "number of output rows", 1000), (107, "time to run Python workers", 300)],
              shuffle_write=64),
        _task(0, 600, 3e8, [(50, "data sent to Python workers", 28), (55, "number of output rows", 3),
                            (105, "time to start Python workers", 250)], spill=10),
        _task(1, 2000, 1e9, [], shuffle_read=64),
        _task(2, 50, 1e7, []),
    ]


def test_eventlog_attributes_jobs_by_submission_time(tmp_path):
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    log = EventLog(read_events(str(path)))
    got = log.summarize(9.0, 20.0)
    assert got["spark.jobs"] == 1
    assert got["spark.stages"] == 2  # stage 7 was skipped: never completed
    assert got["spark.tasks"] == 3
    assert got["spark.shuffle_read_bytes"] == 64
    assert got["spark.shuffle_write_bytes"] == 64
    assert got["spark.spill_bytes"] == 10
    assert got["spark.executor_run_s"] == pytest.approx(3.0)
    assert got["spark.executor_cpu_s"] == pytest.approx(1.5)
    assert got["python.data_sent_bytes"] == 128
    assert got["python.rows_received"] == 10  # the Range node's rows do not count
    assert got["python.total_s"] == pytest.approx(0.3)
    assert got["python.boot_s"] == pytest.approx(0.25)
    assert got["ml.tracker.barrier_stage_s"] == pytest.approx(2.5)
    other = log.summarize(29.0, 40.0)
    assert other["spark.jobs"] == 1 and other["spark.tasks"] == 1
    assert other["python.data_sent_bytes"] == 0


def _span(i, parent, name, start, end, **kw):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end, **kw}


def test_op_tree_keeps_the_blocking_worker_and_accounts_wall_time():
    root = _span(0, None, "ml.estimator.fit", 0.0, 10.0)
    driver = [
        root,
        _span(1, 0, "spark.action", 1.0, 9.0),
        _span(2, None, "sources.load_table", 20.0, 21.0),  # outside the op
    ]
    workers = [
        {"name": "ml.booster.train", "start": 2.0, "end": 8.0, "pid": 11},
        {"name": "ml.comm.allreduce", "start": 3.0, "end": 4.0, "pid": 11, "bytes": 8},
        {"name": "ml.booster.train", "start": 2.0, "end": 6.0, "pid": 12},
        {"name": "ml.comm.allreduce", "start": 3.0, "end": 5.0, "pid": 12, "bytes": 8},
    ]
    triggers = [{"name": "streaming.trigger", "start": 0.2, "end": 0.7, "add_batch_s": 0.1, "commit_s": 0.1}]
    tree = build_op_tree(root, driver, triggers, workers)
    names = sorted(s["name"] for s in tree)
    assert names == sorted(
        ["ml.estimator.fit", "spark.action", "ml.booster.train", "ml.comm.allreduce", "streaming.trigger"]
    )
    assert {s.get("pid") for s in tree if "pid" in s} == {11}
    out = layer_breakdown(tree, root_is_layer=True)
    assert out["self"]["ml.booster.train"] == pytest.approx(5.0)
    assert out["self"]["spark.action"] == pytest.approx(2.0)
    assert out["self"]["ml.estimator.fit"] == pytest.approx(1.5)
    assert out["accounted_share"] == pytest.approx(1.0)
    plain = layer_breakdown(tree, root_is_layer=False)
    assert plain["accounted_share"] == pytest.approx(0.85)
