import math
import os

import pytest

from measure import (
    Span,
    backlog_growth,
    covered,
    highest_supported_percentile,
    parse_event_log,
    percentile,
    self_time_by_name,
    self_times,
    spark_totals,
    task_skew,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (10_000, 99.9), (100_000, 99.99)],
)
def test_highest_percentile_keeps_ten_samples_beyond(n, want):
    assert highest_supported_percentile(n) == want


def test_backlog_growth_is_the_fitted_trend_over_the_span():
    flat = [(float(t), 7 + (1 if t % 2 else -1)) for t in range(10)]
    assert abs(backlog_growth(flat)) < 1.0
    growing = [(float(t), 5 + 2 * t) for t in range(10)]
    assert backlog_growth(growing) == pytest.approx(18.0)
    assert backlog_growth([(1.0, 3), (1.0, 9)]) == 0.0
    with pytest.raises(ValueError):
        backlog_growth([(0.0, 1)])


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 90) == 5
    assert percentile(range(11), 90) == pytest.approx(9.0)


def _span(i, name, start, end, parent=None):
    return Span(name, start, end, parent, "r", i)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: the union 1..6 counts once
        _span(3, "a", 8.0, 9.0, 0),
        _span(4, "leaf", 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[4] == pytest.approx(0.5)
    by_name = self_time_by_name(spans)
    assert by_name["a"] == pytest.approx(2.5 + 1.0)
    assert sum(by_name.values()) == pytest.approx(10.0 + 1.0)  # b overlaps a by 1 s


def test_covered_clips_and_merges():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(-5, 2), (8, 20)], 0, 10) == pytest.approx(4)
    assert covered([], 0, 1) == 0


def test_event_log_parser_on_fixture():
    jobs, stages = parse_event_log(FIXTURE)
    assert sorted(jobs) == [0, 1]
    assert "perfbench" in jobs[0].tags
    assert (jobs[0].submit_ms, jobs[0].complete_ms) == (1000, 1310)
    s0, s1 = stages[0], stages[1]
    assert s0.scopes == ["MapInPandas", "Scan parquet "]
    assert s0.task_run_ms == [90, 190]
    assert s0.python_run_ms == 100 and s0.python_start_ms == 7 and s0.python_bytes_sent == 1000
    assert s0.shuffle_write == 1200 and s0.spill == 96 and s0.gc_ms == 3
    assert s1.shuffle_read == 1200 and s1.fetch_wait_ms == 4
    assert task_skew(s0) == pytest.approx(190 / 140)
    tot = spark_totals([jobs[0]], [s0, s1], wall_s=0.5, cores=2)
    assert tot["spark.jobs"] == 1 and tot["spark.stages"] == 2 and tot["spark.tasks"] == 3
    assert tot["spark.executor_run_s"] == pytest.approx(0.35)
    assert tot["spark.executor_cpu_s"] == pytest.approx(0.29)
    assert tot["spark.cpu_util"] == pytest.approx(0.29 / 1.0)
    assert tot["spark.python_run_s"] == pytest.approx(0.1)
    assert not math.isnan(tot["spark.gc_s"])
