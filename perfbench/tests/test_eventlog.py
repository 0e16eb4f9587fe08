"""The event-log reader on a small log recorded from a real local Spark run:
a labelled two-stage count, a labelled shuffle aggregation and one job from
an unlabelled thread (trimmed to the fields the reader uses)."""
import os
import shutil

from perfbench.eventlog import event_files, find_log, read_jobs

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_jobs_carry_labels_and_task_totals():
    jobs = read_jobs(LOG)
    assert [(j.job_id, j.group) for j in jobs] == [
        (0, "wl/q0/plan"), (1, "wl/q0/exec"), (2, None)]
    assert [j.stages for j in jobs] == [2, 2, 1]
    assert [j.tasks for j in jobs] == [3, 4, 2]
    assert [j.input_records for j in jobs] == [100, 1000, 10]
    assert [j.shuffle_write_bytes for j in jobs] == [118, 266, 0]
    assert [j.task_ms for j in jobs] == [760, 676, 66]
    assert [j.gc_ms for j in jobs] == [29, 30, 0]
    assert all(j.spill_bytes == 0 for j in jobs)
    for j in jobs:
        start, end = j.interval
        assert 0 < end - start < 5


def test_rolling_directory_layout(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(LOG) as f:
        lines = f.readlines()
    cut = len(lines) // 2
    (app / "events_2_local-1").write_text("".join(lines[cut:]))
    (app / "events_1_local-1").write_text("".join(lines[:cut]))
    (app / "appstatus_local-1").write_text("")
    assert find_log(str(tmp_path)) == str(app)
    assert [os.path.basename(p) for p in event_files(str(app))] == [
        "events_1_local-1", "events_2_local-1"]
    assert [(j.job_id, j.tasks) for j in read_jobs(str(app))] == [
        (j.job_id, j.tasks) for j in read_jobs(LOG)]


def test_single_file_log(tmp_path):
    shutil.copy(LOG, tmp_path / "local-1")
    assert len(read_jobs(find_log(str(tmp_path)))) == 3
