"""``bench.query_layers``: the per-query layer fields ``bench.py`` writes
into ``bench_last.json``, read from a synthetic Spark event log. No Spark
session is started and no registry query runs."""

from __future__ import annotations

import json

import bench

MB = 1 << 20


def _job(job_id: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _stage(stage_id: int) -> dict:
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage_id, "Completion Time": 1}}


def _task(stage_id: int, run_ms: int, cpu_ns: int = 0, write: int = 0,
          read: int = 0, spill: int = 0, py_ms: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
            "Shuffle Read Metrics": {"Remote Bytes Read": read // 2,
                                     "Local Bytes Read": read - read // 2},
            "Disk Bytes Spilled": spill,
        },
        "Task Info": {"Accumulables": [
            {"Name": "time to run Python workers", "Update": py_ms}]},
    }


def test_query_layers_per_run_means(tmp_path):
    events = [
        # q_a, run 1 and run 2: one job of one stage with two tasks each
        _job(0, [0], "q_a"), _task(0, 1000, 8e8, write=MB, py_ms=300),
        _task(0, 500, 2e8, write=MB), _stage(0),
        _job(1, [1], "q_a"), _task(1, 1500, 6e8, read=4 * MB, spill=4 * MB),
        _task(1, 1000, 4e8, py_ms=100), _stage(1),
        # an untagged job (warm-up, priming, probe) counts for no query
        _job(2, [2], None), _task(2, 99_000, 9e10, write=99 * MB, py_ms=9000),
        _stage(2),
        # q_b, two runs: one job of two stages with one task each
        _job(3, [3, 4], "q_b"), _task(3, 100), _stage(3), _task(4, 100), _stage(4),
        _job(4, [5, 6], "q_b"), _task(5, 100), _stage(5), _task(6, 100), _stage(6),
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))

    got = bench.query_layers(str(tmp_path), ["q_a", "q_b", "q_none"], runs=2)

    assert got["q_a"] == {
        "jobs": 1, "stages": 1, "tasks": 2, "task_run_s": 2.0, "task_cpu_s": 1.0,
        "shuffle_write_mb": 1.0, "shuffle_read_mb": 2.0, "spill_mb": 2.0,
        "py_run_s": 0.2,
    }
    assert got["q_b"] == {
        "jobs": 1, "stages": 2, "tasks": 2, "task_run_s": 0.2, "task_cpu_s": 0,
        "shuffle_write_mb": 0, "shuffle_read_mb": 0, "spill_mb": 0, "py_run_s": 0,
    }
    # a query whose runs launched no Spark job gets zeros for every field
    assert set(got["q_none"]) == set(got["q_a"])
    assert not any(got["q_none"].values())
