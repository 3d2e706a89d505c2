"""Event-log roll-up: jobs by group or time, tasks by stage, driver gap."""

import json

from perfbench import trace


def _write(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _task(stage, launch, finish, cpu_ns=1_000_000_000, rows=10):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": finish - launch,
            "JVM GC Time": 5, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
            "Input Metrics": {"Bytes Read": 100, "Records Read": rows},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
        },
    }


def test_rollup(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "op:0:collect"}},
        _task(0, 1100, 1300),
        _task(0, 1200, 1400),
        # a streaming job: no op group, inside op 1's window
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        _task(1, 2100, 2200),
        _task(2, 2500, 2600),
        # lists stage 2 again: skipped there, its tasks stay with job 1
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
    ]
    _write(tmp_path / "app-1", events)
    per = trace.rollup_event_log(str(tmp_path), [(0, 1000, 2000), (1, 2000, 3000)])
    assert per[0]["jobs"] == 1 and per[0]["tasks"] == 2 and per[0]["stages"] == 1
    assert per[0]["executor_cpu_s"] == 2.0
    assert per[0]["driver_gap_s"] == 0.7  # 1000 ms window, tasks cover 1100-1400
    assert per[0]["input_rows"] == 20 and per[0]["spill_bytes"] == 14
    assert per[1]["jobs"] == 1 and per[1]["tasks"] == 2 and per[1]["stages"] == 2
    assert per[1]["driver_gap_s"] == 0.8


def test_stream_phases_sum_batches_then_median():
    drains = [
        [{"durationMs": {"addBatch": 10, "walCommit": 1}}, {"durationMs": {"addBatch": 5}}],
        [{"durationMs": {"addBatch": 30}}],
        [{"durationMs": {"addBatch": 20, "queryPlanning": 4}}],
    ]
    out = trace.stream_layer("ingest", drains)
    assert out["stream.ingest.addBatch_ms"][0] == 20
    assert out["stream.ingest.walCommit_ms"][0] == 0
    assert set(out) == {f"stream.ingest.{p}_ms" for p in trace.PHASES}


def test_state_layer():
    panel = [[{"stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 50, "commitTimeMs": 2}]},
              {"stateOperators": [{"numRowsTotal": 6, "memoryUsedBytes": 60, "commitTimeMs": 3}]}]]
    window = [[{"stateOperators": [{"numRowsDroppedByWatermark": 4}]}]]
    out = trace.state_layer(panel, window)
    assert out["stream.panel.state_rows"][0] == 6
    assert out["stream.panel.state_bytes"][0] == 60
    assert out["stream.panel.state_commit_ms"][0] == 5
    assert out["stream.window.late_rows_dropped"][0] == 4


def test_state_layer_without_state_reports_nothing():
    out = trace.state_layer([[{"durationMs": {}}]], [])
    assert set(out.values()) == {None}
