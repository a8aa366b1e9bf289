"""Self times: a span's duration minus what its children cover."""

import pytest

from tracing import Span, Tracer, self_times, shared_self_times


def spans() -> list[Span]:
    # a round (0-10) runs two overlapping jobs (1-5, 3-9); the first job
    # has a child (2-4)
    return [
        Span(1, "harness.round", 0.0, 10.0),
        Span(2, "orchestration.job", 1.0, 5.0, parent=1),
        Span(3, "orchestration.job", 3.0, 9.0, parent=1),
        Span(4, "sinks.load", 2.0, 4.0, parent=2),
    ]


def test_self_time_subtracts_the_union_of_children():
    own = self_times(spans())
    assert own == pytest.approx({1: 10.0 - 8.0, 2: 4.0 - 2.0, 3: 6.0, 4: 2.0})


def test_shared_self_times_add_up_to_the_wall_time():
    own = shared_self_times(spans())
    assert sum(own.values()) == pytest.approx(10.0)
    # 3-4: the load and job 3 run at once and split that second
    assert own == pytest.approx({1: 2.0, 2: 1.0 + 0.5, 3: 0.5 + 0.5 + 4.0, 4: 1.0 + 0.5})


def test_shared_self_times_equal_self_times_without_overlap():
    flat = [Span(1, "a", 0.0, 4.0), Span(2, "b", 1.0, 2.0, parent=1), Span(3, "c", 2.5, 3.0, parent=1)]
    assert shared_self_times(flat) == pytest.approx(self_times(flat))


def test_uncovered_is_the_round_time_no_span_covers():
    tracer = Tracer.__new__(Tracer)
    tracer.spans = spans()
    assert tracer.uncovered() == pytest.approx(2.0)
