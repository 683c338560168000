import os

import pytest

from spans import Span, Tracer, job_coverage, job_metrics, jobs_in, parse_event_log

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _jobs():
    with open(LOG) as fh:
        return parse_event_log(fh)


def test_event_log_jobs_and_task_metrics():
    jobs = {j.job_id: j for j in _jobs()}
    assert sorted(jobs) == [13, 14, 15, 16, 31]
    j = jobs[13]
    assert j.group == "sources.exec#1"
    assert j.tasks == 4
    assert j.run_s == pytest.approx(6.755)
    assert j.gc_s == pytest.approx(0.076)
    assert j.end - j.submit == pytest.approx(1.952)
    assert jobs[14].group is None  # cleared group: attributed by time instead
    assert jobs[31].shuffle_read_b == 741
    assert all(j.ok for j in jobs.values())


def test_job_metrics_sum_over_jobs():
    m = job_metrics(_jobs())
    assert m["jobs"] == 5
    assert m["tasks"] == 10
    assert m["executor_run_s"] == pytest.approx(7.478)
    assert m["task_overhead_s"] == pytest.approx(8.578 - 7.478)


def test_jobs_attributed_by_group_then_by_time():
    jobs = _jobs()
    t = Tracer()
    # span names as the harness records them; job 14 (no group) was
    # submitted inside the second span's interval
    t.spans = [
        Span("sources.exec", 1792206585.0, 1792206587.0, group="sources.exec#1"),
        Span("sources.exec", 1792206587.2, 1792206587.95, group="sources.exec#2"),
    ]
    assert sorted(j.job_id for j in jobs_in(jobs, t, "sources.exec")) == [13, 14, 15]
    assert [j.job_id for j in jobs_in(jobs, t, "fixtures.exec")] == []


def test_no_job_time_of_recorded_log():
    jobs = [j for j in _jobs() if j.job_id in (13, 14, 15)]
    lo, hi = 1792206585.0, 1792206588.0
    busy, idle = job_coverage(jobs, lo, hi)
    assert busy == pytest.approx(1.952 + 0.032 + 0.306)
    assert busy + idle == pytest.approx(hi - lo)


def test_tracer_nesting_and_self_time():
    t = Tracer()
    with t.span("batch"):
        with t.span("stage.a"):
            pass
        with t.span("stage.b"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert t.self_time(0) == pytest.approx(t.spans[0].dur - t.spans[1].dur - t.spans[2].dur)
    assert t.self_time(0) >= 0
