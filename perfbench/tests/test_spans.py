"""The benchmark's own arithmetic: tail percentile, span self time,
event-log roll-up. Run with ``python3 -m pytest perfbench/tests -q``."""

import os

import pytest

from spans import (
    Span, Tracer, attribute_jobs, idle_time, job_intervals, median,
    parse_event_log, self_time_by_name, self_times, tail,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


@pytest.mark.parametrize("n, pct", [(20, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
                                    (1000, 99.0), (10_000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(n)]
    p, v, count = tail(values)
    assert (p, count) == (pct, n)
    assert sum(1 for x in values if x > v) >= 10
    # the next percentile up would leave fewer than ten beyond it
    higher = [q for q in (50.0, 75.0, 90.0, 95.0, 99.0, 99.9) if q > p]
    if higher:
        import math
        assert n - math.ceil(round(higher[0] * n / 100, 9)) < 10


def test_tail_needs_twenty_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 19)


def _span(sid, name, start, end, parent=None, op="pass0"):
    return Span(name, start, end, parent, op, sid)


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, "op.release", 0.0, 10.0),
        _span(1, "synth", 1.0, 3.0, parent=0),
        _span(2, "dag", 2.0, 6.0, parent=0),  # overlaps synth: union is 1..6
        _span(3, "sinks", 7.0, 9.0, parent=0),
        _span(4, "dag", 3.0, 4.0, parent=2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.0)
    by_name = self_time_by_name(spans)
    assert by_name["dag"] == pytest.approx(4.0)


def test_tracer_nests_and_inherits_op():
    tr = Tracer()
    with tr.span("op.query", op="pass0:0:q"):
        with tr.span("operators.dedup"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.sid and inner.op == "pass0:0:q"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op.query", op="x"):
        pass
    assert tr.spans == []


def test_idle_time_is_span_minus_busy_union():
    sp = _span(0, "dag", 10.0, 20.0)
    assert idle_time(sp, [(8.0, 12.0), (11.0, 13.0), (15.0, 16.0), (30.0, 31.0)]) == pytest.approx(6.0)


def test_event_log_rollup_on_captured_log():
    # captured from local[2]: write a parquet table, read it back with a
    # filter, then a two-stage group-by (one shuffle)
    with open(LOG) as f:
        jobs = parse_event_log(f)
    assert sorted(jobs) == [0, 1, 2, 3]
    assert [jobs[j].engine["tasks"] for j in sorted(jobs)] == [2, 1, 2, 4]
    assert jobs[3].stages == [3, 4]
    assert jobs[3].engine["shuffle_write_bytes"] == jobs[3].engine["shuffle_read_bytes"] > 0
    assert jobs[2].engine["scan_tasks"] == 2 and jobs[2].engine["scan_bytes"] > 0
    assert all(j.engine["exec_cpu_s"] > 0 and j.end > j.submit for j in jobs.values())
    assert all(j.engine["tasks_failed"] == j.engine["stages_retried"] == 0 for j in jobs.values())

    # spans around the write and the group-by; the read is left uncovered
    spans = [
        _span(0, "op.query", jobs[0].submit - 1, jobs[0].end),
        _span(1, "sinks", jobs[0].submit - 0.5, jobs[0].end, parent=0),
        _span(2, "operators.dedup", jobs[3].submit - 0.001, jobs[3].end + 1),
    ]
    rolled = attribute_jobs(spans, jobs, key=lambda sp: sp.name.split(".")[0])
    assert rolled["sinks"]["jobs"] == 1 and rolled["sinks"]["tasks"] == 2
    assert rolled["operators"]["shuffle_write_bytes"] == jobs[3].engine["shuffle_write_bytes"]
    assert rolled["unattributed"]["jobs"] == 2
    gap = idle_time(spans[1], job_intervals(jobs))
    assert gap == pytest.approx(0.5)
