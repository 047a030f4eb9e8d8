"""Span self time and event-log folding, without Spark."""

from pathlib import Path

import pytest

import spans
from spans import Span

FIXTURE = Path(__file__).with_name("eventlog_fixture.jsonl")


def tree():
    # pass [1000, 1004] > key [1000.4, 1001] > action [1000.45, 1000.98]
    #                  > key [1002, 1003]
    return [
        Span(0, "pass", None, 1000.0, 1004.0),
        Span(1, "key", 0, 1000.4, 1001.0),
        Span(2, "action", 1, 1000.45, 1000.98),
        Span(3, "key", 0, 1002.0, 1003.0),
    ]


def test_tracer_records_nesting():
    tr = spans.Tracer()
    with tr.span("outer"):
        with tr.span("inner", key="k"):
            pass
        with tr.span("inner"):
            pass
    outer, a, b = tr.spans
    assert (outer.parent, a.parent, b.parent) == (None, 0, 0)
    assert a.attrs == {"key": "k"}
    assert outer.start <= a.start <= a.end <= b.start <= b.end <= outer.end
    assert tr.children(outer) == [a, b]
    assert tr.named("inner") == [a, b]


def test_self_time_subtracts_direct_children_only():
    st = spans.self_times(tree())
    assert st[0] == pytest.approx(4.0 - 0.6 - 1.0)
    assert st[1] == pytest.approx(0.6 - 0.53)
    assert st[2] == pytest.approx(0.53)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    s = [
        Span(0, "p", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 3.0),
        Span(2, "b", 0, 2.0, 5.0),
        Span(3, "c", 0, 6.0, 7.0),
        Span(4, "d", 0, 9.5, 12.0),  # clipped to the parent's end
    ]
    assert spans.self_times(s)[0] == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)


def test_innermost_picks_the_deepest_containing_span():
    s = sorted(tree(), key=lambda x: x.start)
    assert spans.innermost(s, 1000.5).name == "action"
    assert spans.innermost(s, 1000.99).id == 1
    assert spans.innermost(s, 1001.5).id == 0
    assert spans.innermost(s, 1002.5).id == 3
    assert spans.innermost(s, 999.0) is None
    assert spans.innermost(s, 1005.0) is None


def test_read_event_log_keeps_job_stage_and_task_events():
    kinds = [e["Event"] for e in spans.read_event_log([FIXTURE])]
    assert kinds == [
        "SparkListenerJobStart", "SparkListenerTaskEnd", "SparkListenerStageCompleted",
        "SparkListenerJobStart", "SparkListenerTaskEnd", "SparkListenerStageCompleted",
        "SparkListenerJobStart", "SparkListenerStageCompleted",
    ]


def test_fold_charges_each_event_to_its_innermost_span():
    own = spans.fold_events(tree(), spans.read_event_log([FIXTURE]))
    action = own[2]
    assert (action["jobs"], action["stages"], action["tasks"]) == (1, 1, 1)
    assert action["run_ms"] == 200
    assert action["cpu_ms"] == pytest.approx(150.0)
    assert action["gc_ms"] == 5
    # 300 ms on the executor minus 230 ms of deserialize + run + serialize
    assert action["sched_delay_ms"] == 70
    assert action["input_bytes"] == 1000
    assert action["shuffle_read_bytes"] == 300
    assert action["shuffle_write_bytes"] == 400
    assert action["spill_bytes"] == 64
    assert (own[3]["jobs"], own[3]["tasks"], own[3]["run_ms"]) == (1, 1, 100)
    # the last job started after every span ended; its stage has no
    # submission time and is not counted
    assert own[-1]["jobs"] == 1 and own[-1]["stages"] == 0
    assert 0 not in own and 1 not in own


def test_subtree_totals_roll_children_up():
    s = tree()
    totals = spans.subtree_totals(s, spans.fold_events(s, spans.read_event_log([FIXTURE])))
    assert (totals[0]["jobs"], totals[0]["stages"], totals[0]["tasks"]) == (2, 2, 2)
    assert totals[0]["run_ms"] == 300
    assert totals[1]["jobs"] == 1 and totals[1]["cpu_ms"] == pytest.approx(150.0)
    assert totals[3]["jobs"] == 1
