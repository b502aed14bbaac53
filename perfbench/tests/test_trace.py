"""Span arithmetic of the traced run."""

from perfbench.trace import (Span, pipeline_ms, prefix_self_ms, self_ms,
                             union_ms)


def _span(start, end, name="s"):
    return Span(0, name, None, None, start, end)


def test_union_merges_overlaps_and_clips():
    assert union_ms([(1.0, 2.0), (1.5, 3.0), (5.0, 6.0)], 0, 10) == 3000
    assert union_ms([(0.0, 4.0)], 1.0, 2.0) == 1000
    assert union_ms([(3.0, 4.0)], 1.0, 2.0) == 0


def test_self_time_subtracts_covered_part_once():
    parent = _span(10.0, 20.0)
    kids = [_span(11.0, 14.0), _span(13.0, 15.0), _span(18.0, 25.0)]
    # children cover 11-15 and 18-20: 6 of the parent's 10 seconds
    assert self_ms(parent, kids) == 4000


def test_self_time_without_children_is_the_duration():
    assert self_ms(_span(1.0, 1.25), []) == 250


def test_prefix_self_times_are_differences():
    assert prefix_self_ms([100.0, 130.0, 129.0, 200.0]) == \
        [100.0, 30.0, -1.0, 71.0]


def test_pipeline_time_leaves_out_checksums_and_reads():
    batch = _span(0.0, 10.0, "compose.batch")
    check = _span(1.0, 3.0, "transform.checksum")
    sink = _span(4.0, 9.0, "sink")
    scan = _span(7.0, 8.5, "paimon_pk.scan")
    batch.children = [check, sink]
    sink.children = [scan]
    # the checksum's 2 s and the scan's 1.5 s inside the sink
    assert pipeline_ms(batch) == 6500
