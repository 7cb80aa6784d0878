"""Job, stage and executor accounting of the traced run, on
hand-written Spark status and event-log records."""

import json
from types import SimpleNamespace

import pytest

import worker


def _task_end(stage, run_ms, read, written):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def test_executor_metrics_count_a_shared_stage_once(tmp_path):
    # Job 0 runs map stage 0; job 1 lists stage 0 again as its parent
    # and runs result stage 1.
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0]},
        _task_end(0, 2000, 0, 100),
        _task_end(0, 2000, 0, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [0, 1]},
        _task_end(1, 1000, 200, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    ]
    (tmp_path / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    jobs, stages = worker.read_event_log(str(tmp_path))
    assert jobs[1][2] == [0, 1]
    span = {"start": 0.5, "end": 5.0}
    # The same stage in a later span is not counted again either.
    later = {"start": 5.0, "end": 6.0}
    m = worker.executor_metrics(str(tmp_path), [span, later])
    assert m["executor.run_s"] == pytest.approx(5.0)
    assert m["executor.cpu_s"] == pytest.approx(5.0)
    assert m["shuffle.write_bytes"] == 200
    assert m["shuffle.read_bytes"] == 200
    # Jobs cover 1.0-4.0 of the 4.5 s span; the later span has none.
    assert m["scheduler.gap_s"] == pytest.approx(1.5 + 1.0)


class _Tracker:
    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages

    def getJobIdsForGroup(self, group):
        return list(self.jobs)

    def getJobInfo(self, jid):
        return SimpleNamespace(stageIds=self.jobs[jid])

    def getStageInfo(self, sid):
        done, n = self.stages[sid]
        return SimpleNamespace(numCompletedTasks=done, numTasks=n)


def test_count_jobs_counts_each_stage_once_and_skips_skipped():
    tracker = _Tracker(
        jobs={0: [0], 1: [0, 1], 2: [2, 3]},
        # stage 2 was skipped: it ran no task
        stages={0: (4, 4), 1: (1, 1), 2: (0, 4), 3: (2, 2)},
    )
    tracer = worker.Tracer(SimpleNamespace(statusTracker=lambda: tracker))
    assert worker.count_jobs(tracer, {"group": "g"}) == (3, 3, 7)
