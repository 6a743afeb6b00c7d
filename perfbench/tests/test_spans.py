import pytest

from perfbench.spans import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    # intervals reaching outside the parent count only inside it
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        Span("pass", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a.inner", 2.0, 3.0, parent=1),
        Span("b", 3.5, 6.0, parent=0),  # overlaps a: the union counts once
    ]
    assert self_times(spans) == pytest.approx([10 - 5, 3 - 1, 1, 2.5])


def test_tracer_nesting_with_a_fake_clock():
    # pass, x, y, /y, /x, z, /z, /pass
    ticks = iter([0.0, 1.0, 2.0, 2.5, 3.0, 7.0, 8.0, 10.0])
    tr = Tracer(clock=lambda: next(ticks))
    with tr.span("pass"):
        with tr.span("x") as x:
            with tr.span("y"):
                pass
            x.counts["rows_out"] = 5
        with tr.span("z"):
            pass
    recs = {r["name"]: r for r in tr.records()}
    assert recs["pass"]["parent"] is None
    assert recs["x"]["parent"] == 0 and recs["y"]["parent"] == 1
    assert recs["x"]["self_s"] == pytest.approx(2.0 - 0.5)
    assert recs["pass"]["self_s"] == pytest.approx(10 - 2 - 1)
    assert recs["x"]["rows_out"] == 5
