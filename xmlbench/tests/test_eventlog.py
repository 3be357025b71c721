import json

import pytest

from xmlbench.eventlog import summarize_event_log


def _task(stage, cpu_ns, run_ms, shuffle=0, spill=0, gc=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": gc,
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_groups_jobs_stages_and_tasks(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "extract"}},
        _task(0, 2e9, 3000, shuffle=100, gc=50),
        _task(1, 1e9, 1000, spill=7),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 1e8, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5200},
    ]
    nested = tmp_path / "app" / "deeper"
    nested.mkdir(parents=True)
    (nested / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (nested / "app-2.inprogress").write_text("not json\n")
    out = summarize_event_log(str(tmp_path))
    ex = out["extract"]
    assert (ex["jobs"], ex["stages"], ex["tasks"]) == (1, 2, 2)
    assert ex["executor_cpu_s"] == pytest.approx(3.0)
    assert ex["executor_run_s"] == pytest.approx(4.0)
    assert ex["shuffle_write_bytes"] == 100 and ex["spill_bytes"] == 7
    assert ex["gc_s"] == pytest.approx(0.05)
    assert out[""]["tasks"] == 1 and out[""]["stages"] == 0
