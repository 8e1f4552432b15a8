"""Event-log folding on a hand-written log: two tagged jobs and one
untagged job that re-lists (skips) a stage the first job ran."""

import os

from perfbench.eventlog import fold, read_events

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_fixture.jsonl")
MB = 1 << 20


def test_fold_by_job_group():
    groups = fold(read_events(FIXTURE))
    assert set(groups) == {"a", "b"}  # the untagged job is dropped
    a, b = groups["a"], groups["b"]
    assert (a.jobs, a.stages, a.tasks, a.untagged_jobs) == (1, 2, 3, 0)
    assert a.shuffle_write_bytes == 2 * MB and a.shuffle_mb == 2.0
    assert a.shuffle_read_bytes == 1 * MB
    assert a.spill_bytes == 2 * MB  # disk bytes, not the in-memory size
    assert (b.jobs, b.stages, b.tasks, b.shuffle_mb) == (1, 1, 1, 0.0)


def test_untagged_jobs_go_to_the_group_open_at_submission():
    seen = []

    def at(t):
        seen.append(t)
        return "a" if t < 6 else None

    a = fold(read_events(FIXTURE), untagged=at)["a"]
    assert seen == [5.0]  # submission time in seconds, asked once
    # job 1 joins "a"; its skipped stage 1 stays charged to job 0 only
    assert (a.jobs, a.untagged_jobs, a.stages, a.tasks) == (2, 1, 3, 6)
    assert a.shuffle_read_bytes == 2 * MB


def test_tasks_of_unknown_stages_are_ignored():
    events = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Task Metrics": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 7}},
    ]
    assert fold(events) == {}
