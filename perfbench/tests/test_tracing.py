from perfbench.tracing import Span, Tracer, self_times


def test_self_time_subtracts_children():
    spans = [
        Span("op", 0, None, 0.0, 10.0),
        Span("stage.a", 0, 0, 1.0, 4.0),
        Span("write", 0, 1, 2.0, 3.5),
        Span("stage.b", 0, 0, 5.0, 9.0),
    ]
    assert self_times(spans) == [3.0, 1.5, 1.5, 4.0]


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        Span("p", 0, None, 0.0, 10.0),
        Span("c1", 0, 0, 1.0, 5.0),
        Span("c2", 0, 0, 3.0, 6.0),    # overlaps c1 by 2
        Span("c3", 0, 0, 9.0, 12.0),   # runs past the parent's end
    ]
    assert self_times(spans)[0] == 10.0 - 5.0 - 1.0


def test_tracer_nests_and_restores_parent():
    t = Tracer(None, op=3)
    with t.span("op"):
        with t.span("stage.x", stage="x") as s:
            assert t.current() is s
        with t.span("stage.y", stage="y"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert t.current() is None
    st = self_times(t.spans)
    assert abs(st[0] + t.spans[1].dur + t.spans[2].dur - t.spans[0].dur) < 1e-9
    recs = t.to_records()
    assert recs[1]["stage"] == "x" and recs[1]["op"] == 3


def test_tracer_counts_its_own_bookkeeping_as_overhead():
    t = Tracer(None, op=0)
    for _ in range(100):
        with t.span("x"):
            pass
    assert 0.0 < t.overhead_s
    assert t.overhead_s < 1.0
