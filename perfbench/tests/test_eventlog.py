"""The event-log reader on a small canned Spark event log.

    python3 -m pytest perfbench/tests/test_eventlog.py -q
"""

import os

import pytest

from perfbench.eventlog import group_stats, read_events

CANNED = os.path.join(os.path.dirname(__file__), "canned_eventlog.jsonl")


@pytest.fixture(scope="module")
def events():
    return read_events(CANNED)


def test_torn_last_line_is_skipped(events):
    assert len(events) == 23
    assert events[-1]["Event"] == "SparkListenerJobEnd"


def test_tasks_are_grouped_by_job_group(events):
    g = group_stats(events)
    assert set(g) == {"parse.merge", "route", None}
    merge = g["parse.merge"]
    assert merge.tasks == 2
    assert merge.task_s == pytest.approx(1.07)
    assert merge.cpu_s == pytest.approx(0.9)
    assert merge.shuffle_write_mb == pytest.approx(3.0)
    assert merge.spill_mb == pytest.approx(1.0)     # disk bytes, not memory
    assert merge.job_s == pytest.approx(1.0)


def test_retried_stage_attempt_keeps_its_group(events):
    route = group_stats(events)["route"]
    assert route.tasks == 6
    assert route.task_s == pytest.approx(7.2)


def test_job_time_is_the_union_of_overlapping_jobs(events):
    assert group_stats(events)["route"].job_s == pytest.approx(2.0)


def test_skew_is_read_from_the_heaviest_stage(events):
    g = group_stats(events)
    assert g["route"].task_skew == pytest.approx(4.0)
    assert g["parse.merge"].task_skew == pytest.approx(0.6 / 0.55)


def test_grouping_by_a_custom_property(events):
    g = group_stats(events, "perfbench.pass")
    assert g["traced"].task_s == pytest.approx(1.07 + 7.2)
    assert g[None].task_s == pytest.approx(0.2)


def test_rename_folds_groups(events):
    g = group_stats(events, rename={"parse.merge": "both", "route": "both"})
    assert set(g) == {"both", None}
    assert g["both"].tasks == 8
    assert g["both"].task_s == pytest.approx(1.07 + 7.2)
    assert g["both"].job_s == pytest.approx(3.0)


def test_directory_of_logs(tmp_path, events):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = open(CANNED).read().splitlines(keepends=True)
    (d / "events_1_app").write_text("".join(lines[:10]))
    (d / "events_2_app").write_text("".join(lines[10:]))
    (d / "appstatus_app").write_text("")
    assert len(read_events(str(d))) == len(events)
