import json
import os

import pytest

from lakebench import eventlog

# a Spark 4 event log, trimmed to the events the reader folds: a count in
# job group "g-count", a groupBy in "g-shuffle", then one job with no
# group; each AQE query ran a map job and a result job
LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture()
def counters():
    with open(LOG) as f:
        return eventlog.counters_by_group(f)


def test_groups_tasks_and_jobs(counters):
    assert set(counters) == {"g-count", "g-shuffle", ""}
    assert {g: (c["jobs"], c["tasks"]) for g, c in counters.items()} == {
        "g-count": (2, 3), "g-shuffle": (2, 3), "": (1, 1)}
    assert all(c["failed_tasks"] == 0 for c in counters.values())


def test_shuffle_and_input_counters(counters):
    # every byte a group's map stage wrote, its reduce stage read back
    for g in ("g-count", "g-shuffle"):
        assert counters[g]["shuffle_write_bytes"] == counters[g]["shuffle_read_bytes"] > 0
        assert counters[g]["input_records"] == 1000
    assert counters["g-shuffle"]["shuffle_write_bytes"] == 461
    assert counters[""]["input_records"] == 10


def test_times_in_seconds(counters):
    c = counters["g-count"]
    assert c["executor_run_s"] == pytest.approx(0.300)
    assert c["gc_s"] == pytest.approx(0.010)
    # wall minus run, deserialize and result serialization, per task:
    # (206-122-49-3) + (225-123-48-3) + (97-55-16-13) ms
    assert c["scheduler_delay_s"] == pytest.approx(0.096)


def test_stage_follows_submitting_job_group_and_failed_tasks():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a"}},
        # stage 0 was listed by job 0 but submitted under group "b"
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 0, "Finish Time": 10},
         "Task Metrics": {"Executor Run Time": 4, "Disk Bytes Spilled": 7}},
    ]
    out = eventlog.counters_by_group(json.dumps(e) for e in events)
    assert out["a"]["jobs"] == 1 and out["a"]["tasks"] == 0
    assert (out["b"]["tasks"], out["b"]["failed_tasks"], out["b"]["spill_bytes"]) == (1, 1, 7)
    assert out["b"]["scheduler_delay_s"] == pytest.approx(0.006)


def test_find_log_requires_one_finished_log(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "local-2").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("local-2")
