"""Self-tests for the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans as sp  # noqa: E402


def _span(sid, parent, start, end, layer="x", name="f"):
    return sp.Span(sid, parent, layer, name, start, end)


def test_tail_percentile_keeps_ten_samples_above():
    assert sp.tail_percentile(186) == 94
    assert sp.tail_percentile(100) == 90
    assert sp.tail_percentile(101) == 90
    assert sp.tail_percentile(10) == 0
    for n in range(11, 400):
        p = sp.tail_percentile(n)
        above = n - -(-p * n // 100)
        assert above >= 10
        # the next percentile up would leave fewer than ten above
        assert p == 99 or n - -(-(p + 1) * n // 100) < 10


def test_nearest_rank_and_median():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert sp.nearest_rank(xs, 50) == 3.0
    assert sp.nearest_rank(xs, 90) == 5.0
    assert sp.nearest_rank(xs, 20) == 1.0
    assert sp.median(xs) == 3.0
    assert sp.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_union_length_merges_and_clips():
    assert sp.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert sp.union_length([(0, 10)], 2, 4) == 2
    assert sp.union_length([(0, 1), (3, 4)], 0.5, 3.5) == 1
    assert sp.union_length([]) == 0


def test_self_time_is_span_minus_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 2, 3.5, 5.0),  # a grandchild does not count against 0
        _span(4, 0, 8.0, 12.0),  # runs past its parent: clipped
    ]
    self_t = sp.self_times(spans)
    assert self_t[0] == pytest.approx(10 - (5 + 2))
    assert self_t[2] == pytest.approx(3 - 1.5)
    assert self_t[3] == pytest.approx(1.5)


def test_jobs_go_to_the_innermost_span_containing_their_submission():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 5.0),
        _span(2, None, 11.0, 12.0),
    ]
    jobs = [
        sp.Job(0, 1.0, 3.0, (0,)),  # in 0 only
        sp.Job(1, 2.5, 2.6, (1,)),  # in 1 and 0: innermost is 1
        sp.Job(2, 10.5, 11.5, (2,)),  # between spans: dropped
        sp.Job(3, 11.0, 11.2, (3,)),  # on a span's start edge
    ]
    owned = sp.attribute_jobs(spans, jobs)
    assert [j.job_id for j in owned[0]] == [0]
    assert [j.job_id for j in owned[1]] == [1]
    assert [j.job_id for j in owned[2]] == [3]
    assert sum(len(v) for v in owned.values()) == 3


def test_driver_gap_is_span_time_with_no_job_running():
    s = _span(0, None, 0.0, 10.0)
    jobs = [sp.Job(0, 1.0, 3.0, ()), sp.Job(1, 2.0, 4.0, ()), sp.Job(2, 9.0, 12.0, ())]
    assert sp.driver_gap(s, jobs) == pytest.approx(10 - 3 - 1)


def test_coverage_of_passes_by_top_level_spans():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 1.0, 2.0), _span(2, None, 5.0, 9.5)]
    assert sp.coverage([(0.0, 10.0)], spans) == pytest.approx(0.85)


def test_tracing_overhead_is_traced_minus_untraced_wall():
    assert sp.tracing_overhead([10.5, 10.7, 10.6], [10.0, 10.2, 10.1]) == pytest.approx(0.5)


def _layer_fn(x):
    if x < 0:
        raise ValueError(x)
    return x + 1


def _caller(x):
    return _layer_fn(x) * 2


def test_tracer_spans_nest_and_the_profile_hook_sees_target_calls():
    t = sp.Tracer({_layer_fn.__code__: ("layer", "_layer_fn")})
    with t.span("outer", "o"):
        _caller(1)
    assert t.spans == []  # not started: nothing recorded

    t.start()
    try:
        with t.span("outer", "o"):
            assert _caller(1) == 4
        with pytest.raises(ValueError):
            _caller(-1)
    finally:
        t.stop()
    outer, inner, bad = t.spans
    assert (outer.layer, inner.layer, bad.layer) == ("outer", "layer", "layer")
    assert inner.parent == outer.sid and outer.parent is None and bad.parent is None
    assert bad.failed and not inner.failed and not outer.failed
    assert outer.start <= inner.start <= inner.end <= outer.end


def _rec(i, wall, steal, traced=False):
    return {"i": i, "wall": wall, "steal": steal, "ops": {"op": wall}, "traced": traced}


def test_stolen_passes_are_left_out_of_the_medians_while_enough_are_calm():
    import run

    calm, stolen = run.STEAL_MAX / 2, run.STEAL_MAX * 2
    passes = [_rec(0, 9.0, calm), _rec(1, 14.0, stolen), _rec(2, 9.5, calm)]
    assert [p["i"] for p in run._measured(passes)] == [0, 2]
    # too few calm passes: the least-stolen ones count, in run order
    passes = [_rec(0, 14.0, stolen * 2), _rec(1, 12.0, stolen), _rec(2, 9.0, calm)]
    assert [p["i"] for p in run._measured(passes)] == [1, 2]


def test_timed_passes_run_past_seconds_until_enough_are_calm_or_the_cap():
    import argparse

    import run

    args = argparse.Namespace(seconds=10.0, trace=0)
    calm, stolen = run.STEAL_MAX / 2, run.STEAL_MAX * 2
    two_calm = [_rec(0, 6.0, calm), _rec(1, 6.0, calm)]
    assert not run._enough(two_calm[:1], 30.0, args)
    assert not run._enough(two_calm, 9.0, args)
    assert run._enough(two_calm, 12.0, args)
    one_calm = [_rec(0, 6.0, stolen), _rec(1, 6.0, calm)]
    assert not run._enough(one_calm, 12.0, args)
    assert run._enough(one_calm, run.EXTEND * args.seconds, args)
    # a traced run needs calm passes of both kinds
    args.trace = 1
    alt = [_rec(i, 6.0, calm, traced=i % 2 == 1) for i in range(3)]
    assert not run._enough(alt, 12.0, args)
    assert run._enough(alt + [_rec(3, 6.0, calm, traced=True)], 12.0, args)
