from perfbench.spans import Span, SpanRecorder, self_times, totals_by_name, union_length


def test_union_length_merges_overlaps():
    assert union_length([(10, 30), (20, 50), (60, 70)]) == 50
    assert union_length([]) == 0


def test_self_time_on_a_hand_built_tree():
    spans = [
        Span("parse", 0, 100, -1),
        Span("sweep", 10, 90, 0),
        Span("match", 20, 40, 1),
        Span("match", 30, 50, 1),  # overlaps its sibling: counted once
        Span("eval", 60, 70, 1),
        Span("eval", 95, 99, 0),
    ]
    assert self_times(spans) == [100 - 80 - 4, 80 - 30 - 10, 20, 20, 10, 4]
    by = totals_by_name(spans)
    assert by["match"]["calls"] == 2
    assert by["sweep"]["self"] == 40


def test_recorder_nesting_and_outcomes():
    ticks = iter(range(100))
    rec = SpanRecorder(clock=lambda: next(ticks))
    leaf = rec.wrap("leaf", lambda x: [x > 0], outcome=lambda r: r[0])
    root = rec.wrap("root", lambda: [leaf(1), leaf(-1)])
    root()
    spans = rec.finished()
    assert [(s.name, s.parent, s.ok) for s in spans] == [
        ("root", -1, None), ("leaf", 0, True), ("leaf", 0, False)
    ]
    assert [s.end - s.start for s in spans] == [5, 1, 1]
