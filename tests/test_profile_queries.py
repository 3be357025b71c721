"""The event-log reader behind ``scripts/profile_queries.py``, on
synthetic logs (no Spark)."""

from __future__ import annotations

import json

import pytest

from scripts.profile_queries import read_task_ends, stage_rows, totals


def _job(group, stages):
    return {"Event": "SparkListenerJobStart", "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def _task(stage, launch, finish, cpu_ms, *, read=0, shuffle_read=0, shuffle_write=0, peak=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor CPU Time": cpu_ms * 1_000_000,
            "Peak Execution Memory": peak,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Local Bytes Read": shuffle_read // 3,
                                     "Remote Bytes Read": shuffle_read - shuffle_read // 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


def _write(path, events):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("".join(json.dumps(ev) + "\n" for ev in events))


@pytest.fixture
def log_dir(tmp_path):
    _write(tmp_path / "app-dir" / "local-1", [
        {"Event": "SparkListenerApplicationStart"},
        _job("q#0", [0, 1]),
        _task(0, 1_000, 3_000, 1_500, read=2_000_000),
        _task(0, 1_000, 2_000, 1_000, read=1_000_000),
        _task(1, 3_000, 4_000, 500, shuffle_read=3_000_000, peak=7),
        _job("q#1", [2]),
        _task(2, 5_000, 9_000, 1_000, shuffle_write=4_000_000),
        _job("", [3]),
        _task(3, 9_000, 9_500, 100),
    ])
    (tmp_path / "app-dir" / ".local-1.crc").write_bytes(b"\x00not json")
    (tmp_path / "local-1.crc").write_bytes(b"\x00not json")
    (tmp_path / ".hidden").write_text("{truncated")
    (tmp_path / "app-dir" / "appstatus_local-1").write_text("not json")
    return tmp_path


def test_reader_attributes_tasks_to_job_groups(log_dir):
    tasks = read_task_ends(str(log_dir))
    assert len(tasks) == 5  # the dotfiles, .crc and appstatus files are not read
    by_group = {g: [t for t in tasks if t.group == g] for g in ("q#0", "q#1", "")}
    assert totals(by_group["q#0"]) == {
        "tasks": 3, "stages": 2, "task_wall_s": 4.0, "task_cpu_s": 3.0, "cpu_wall": 0.75,
    }
    assert totals(by_group["q#1"]) == {
        "tasks": 1, "stages": 1, "task_wall_s": 4.0, "task_cpu_s": 1.0, "cpu_wall": 0.25,
    }
    assert totals(by_group[""])["tasks"] == 1
    assert totals([]) == {
        "tasks": 0, "stages": 0, "task_wall_s": 0, "task_cpu_s": 0, "cpu_wall": None,
    }
    assert max(t.peak_memory_bytes for t in tasks) == 7


def test_stage_rows(log_dir):
    tasks = [t for t in read_task_ends(str(log_dir)) if t.group == "q#0"]
    assert stage_rows(tasks) == [
        {"stage": 0, "tasks": 2, "span_s": 2.0, "task_wall_s": 3.0, "cpu_s": 2.5,
         "input_mb": 3.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0},
        {"stage": 1, "tasks": 1, "span_s": 1.0, "task_wall_s": 1.0, "cpu_s": 0.5,
         "input_mb": 0.0, "shuffle_read_mb": 3.0, "shuffle_write_mb": 0.0},
    ]


def test_compressed_log_raises(log_dir):
    (log_dir / "app-dir" / "local-2.zstd").write_bytes(b"(\xb5/\xfd")
    with pytest.raises(ValueError, match="local-2.zstd"):
        read_task_ends(str(log_dir))


def test_truncated_line_raises(log_dir):
    line = json.dumps(_task(0, 0, 1, 1))
    (log_dir / "local-3").write_text(line + "\n" + line[:40] + "\n")
    with pytest.raises(ValueError, match=r"local-3:2"):
        read_task_ends(str(log_dir))
