import math
import statistics

import pytest

import stats
from spans import Tracer


def test_median_odd_even():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean():
    assert stats.geomean([1, 4]) == pytest.approx(2.0)
    assert stats.geomean([2, 2, 2]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 8]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1, 0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_quartiles_match_statistics_module():
    vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartiles(vals) == (q1, q2, q3)
    assert stats.relative_spread(vals) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_covered_merges_overlaps():
    assert stats.covered([]) == 0
    assert stats.covered([(0, 1), (2, 3)]) == 2
    assert stats.covered([(0, 2), (1, 3)]) == 3
    assert stats.covered([(0, 5), (1, 2), (3, 4)]) == 5
    assert stats.covered([(1, 2), (0, 1)]) == 2


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 1.5, 2.0),  # grandchild: only its parent's self time drops
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    st = stats.self_times([_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 5.0)])
    assert st[0] == pytest.approx(1.0)


def test_tracer_nests_and_inherits_query():
    t = Tracer()
    with t.span("run"):
        with t.span("query", query="q1"):
            with t.span("build") as b:
                pass
    run, query, build = t.spans
    assert run["parent"] is None
    assert query["parent"] == run["id"] and build["parent"] == query["id"]
    assert build["query"] == "q1" and run["query"] is None
    assert build is b and b["end"] >= b["start"]
    st = stats.self_times(t.spans)
    assert all(v >= -1e-9 for v in st.values())
    assert math.isclose(sum(st.values()), run["end"] - run["start"], abs_tol=1e-6)
