"""Event-log rollup and span accounting on small hand-written inputs."""

import json

import pytest

from perfbench import trace


def _task(stage, tid, launch, finish, run, *, records=1, shuffle_records=0,
          reason="Success", gc=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Task ID": tid, "Launch Time": launch, "Finish Time": finish,
                          "Getting Result Time": 0},
            "Task Metrics": {"Executor Deserialize Time": 10, "Executor Run Time": run,
                             "Executor CPU Time": run * 500_000, "JVM GC Time": gc,
                             "Result Serialization Time": 0, "Disk Bytes Spilled": spill,
                             "Peak Execution Memory": 1 << 20,
                             "Input Metrics": {"Records Read": records},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 2048,
                                                      "Total Records Read": shuffle_records},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}}


def _job(jid, submit, stages):
    return [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
             "Stage IDs": stages}] + [
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": s, "Submission Time": submit + 1}} for s in stages] + [
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": s}}
        for s in stages]


@pytest.fixture
def log_dir(tmp_path):
    events = (_job(0, 50, [0])                      # before the traced interval
              + _job(1, 1010, [1, 2])                # step a: two stages
              + _job(2, 1500, [3])                   # between steps: unattributed
              + _job(3, 2100, [4])                   # step b
              + _job(4, 2600, [5])                   # after step b, same pass
              + _job(5, 3100, [6]))                  # the next pass
    events += [
        _task(0, 0, 60, 90, 25),
        _task(1, 1, 1020, 1120, 80),
        _task(1, 2, 1020, 1220, 150, records=0),     # reads nothing: empty
        _task(2, 3, 1300, 1340, 30, records=0, shuffle_records=5),
        _task(3, 4, 1510, 1560, 40),
        _task(4, 5, 2110, 2200, 60, reason="ExceptionFailure", gc=7, spill=4096),
        _task(5, 6, 2610, 2700, 70),
        _task(6, 7, 3110, 3200, 90),
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(tmp_path)


def test_rollup_attributes_jobs_and_tasks_to_step_windows(log_dir):
    events = trace.read_event_log(log_dir)
    roll = trace.rollup_event_log(events, [("a", 1000, 1400), ("b", 2000, 2300)],
                                  lo=1000, hi=3000)
    a, b = roll["steps"]["a"], roll["steps"]["b"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert a["run_ms"] == 80 + 150 + 30
    assert a["empty_tasks"] == 1
    assert a["shuffle_read_b"] == 3 * 2048
    # scheduler delay = task wall - run - deserialize
    assert a["sched_ms"] == (100 - 80 - 10) + (200 - 150 - 10) + (40 - 30 - 10)
    assert (b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 1, 1)
    assert (b["gc_ms"], b["spill_b"]) == (7, 4096)
    # jobs 0 and 5 are outside [lo, hi); jobs 2 and 4 are inside it but in
    # no window: between the steps, and after the last one
    assert roll["total_task_ms"] == 260 + 40 + 60 + 70
    assert roll["unattributed_task_ms"] == 40 + 70
    assert [j for j, _t, st in roll["jobs"] if st is None] == [2, 4]
    assert roll["job_task_ms"] == {1: 260, 3: 60, 2: 40, 4: 70}


def test_layer_totals_self_time_subtracts_children():
    spans = [
        {"layer": "workbench", "name": "detect", "start": 0, "end": 100, "child_ms": 70},
        {"layer": "rules", "name": "evaluate_rules", "start": 10, "end": 80, "child_ms": 0},
        {"layer": "rules", "name": "rule_email", "start": 200, "end": 210, "child_ms": 0},
    ]
    t = trace.layer_totals(spans, 0, 150)
    assert t["workbench"] == {"calls": 1, "ms": 100, "self_ms": 30}
    assert t["rules"] == {"calls": 1, "ms": 70, "self_ms": 70}
    assert trace.innermost_layer(spans, 50) == "rules"
    assert trace.innermost_layer(spans, 90) == "workbench"
    assert trace.innermost_layer(spans, 150) is None


def test_tracer_wraps_and_restores_module_functions():
    from dataqtor_spark.operators import repair

    orig = repair.title_case
    tr = trace.Tracer()
    tr.install()
    try:
        assert repair.title_case is not orig
        assert repair.title_case.__wrapped__ is orig
        assert repair.title_case.__qualname__ == orig.__qualname__
    finally:
        tr.uninstall()
    assert repair.title_case is orig
