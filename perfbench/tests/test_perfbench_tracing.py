"""Self-time arithmetic and the untraced path of the tracer."""

import pytest

from tracing import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(2, 6, [(0, 3), (5, 9)]) == pytest.approx(2)
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span("a.child", 1.5, 2.5, parent=1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


class _NoSpark:
    def __getattr__(self, name):
        raise AssertionError(f"untraced run touched spark.{name}")


def test_untraced_tracer_sets_no_job_group():
    t = Tracer(_NoSpark(), enabled=False)
    with t.span("x"):
        pass
    t.collect_stage_metrics()
    assert t.spans == [] and t.layer_metrics() == {}
