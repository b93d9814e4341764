"""The event-log parser on a captured fragment: a labelled two-stage
aggregation (one stage re-used and skipped) and an unlabelled count."""

import os

import pytest

import eventlog

FRAGMENT = os.path.join(os.path.dirname(__file__), "data", "eventlog_fragment.jsonl")
LABEL = "warm.union_stats.exec"


@pytest.fixture(scope="module")
def lines():
    return eventlog.read_log(FRAGMENT)


def test_stages_are_attributed_to_their_job_label(lines):
    records = eventlog.parse_events(lines)
    assert [(r["label"], r["job"], r["stage"]) for r in records] == [
        (LABEL, 0, 0), (LABEL, 1, 2), ("", 2, 3), ("", 3, 5),
    ]
    assert all(not r["failed"] for r in records)


def test_accumulables_are_scaled_and_summed(lines):
    first, second = eventlog.parse_events(lines)[:2]
    assert first["tasks"] == 4
    assert first["task_s"] == pytest.approx(1.103)
    assert first["cpu_s"] == pytest.approx(0.406524654)
    assert first["shuffle_write_bytes"] == 2408
    # the reduce side reads exactly what the map side wrote
    assert second["shuffle_read_bytes"] == first["shuffle_write_bytes"]
    assert "Exchange" in first["scopes"]


def test_summary_per_label(lines):
    records = eventlog.parse_events(lines)
    jobs = eventlog.jobs_by_label(lines)
    assert jobs == {LABEL: 2, "": 2}
    s = eventlog.summarize(records, LABEL, jobs)
    assert (s["jobs"], s["stages"], s["tasks"]) == (2, 2, 8)
    assert s["task_s"] == pytest.approx(1.404)
    assert s["shuffle_write_bytes"] == 2408
    assert eventlog.summarize(records, "absent", jobs)["stages"] == 0
