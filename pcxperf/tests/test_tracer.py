"""Self-time arithmetic of the benchmark's tracer."""

import json

import pytest

from pcxperf.tracer import Span, Tracer, covered_length, prefix_self_times


class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def test_covered_length_merges_overlaps_and_clips():
    assert covered_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_length([(-1, 2), (9, 12)], 0, 10) == 3
    assert covered_length([], 0, 10) == 0
    assert covered_length([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with tr.span("root") as root:
        clock.now = 1
        with tr.span("child") as child:
            clock.now = 2
            with tr.span("grandchild") as grand:
                clock.now = 3.5
            clock.now = 4
        clock.now = 6
        with tr.span("child"):
            clock.now = 7
        clock.now = 10
    assert root.duration == 10
    assert tr.self_time(root) == pytest.approx(10 - 3 - 1)
    assert tr.self_time(child) == pytest.approx(3 - 1.5)
    assert tr.self_time(grand) == pytest.approx(1.5)
    assert grand.parent == child.span_id and child.parent == root.span_id
    assert {s.run_id for s in tr.spans} == {"r"}


def test_self_time_counts_overlapping_children_once():
    tr = Tracer("r")
    tr.spans = [Span(0, "root", 0.0, 10.0, None, "r"),
                Span(1, "a", 1.0, 5.0, 0, "r"),
                Span(2, "b", 4.0, 6.0, 0, "r")]
    assert tr.self_time(tr.spans[0]) == pytest.approx(10 - 5)


def test_span_end_is_recorded_when_the_body_raises():
    clock = FakeClock()
    tr = Tracer("r", clock=clock)
    with pytest.raises(ValueError):
        with tr.span("boom"):
            clock.now = 2
            raise ValueError
    assert tr.spans[0].duration == 2
    with tr.span("next") as nxt:
        pass
    assert nxt.parent is None


def test_prefix_self_times_take_differences():
    got = prefix_self_times([("scan", 1.0), ("boundary", 1.5),
                             ("kernel", 4.0), ("append", 4.25)])
    assert got == {"scan": 1.0, "boundary": 0.5, "kernel": 2.5,
                   "append": 0.25}


def test_counters_accumulate(tmp_path):
    tr = Tracer("r")
    tr.count("rows", 2)
    tr.count("rows", 3)
    assert tr.counters == {"rows": 5}
    tr.write(str(tmp_path / "t.json"), {"host": {"cpus": 1}})
    doc = json.loads((tmp_path / "t.json").read_text())
    assert doc["counters"] == {"rows": 5} and doc["host"] == {"cpus": 1}
