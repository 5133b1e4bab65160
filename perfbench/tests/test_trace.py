from perfbench.trace import Span, Tracer, self_time


def test_self_time_subtracts_merged_children():
    parent = Span("p", 0.0, 10.0, None, "r")
    kids = [Span("a", 1.0, 4.0, 0, "r"), Span("b", 3.0, 5.0, 0, "r"),
            Span("c", 9.0, 12.0, 0, "r")]
    # covered: [1,5] and [9,10] → 5 of 10
    assert self_time(parent, kids) == 5.0
    assert self_time(parent, []) == 10.0


def test_disabled_tracer_records_and_patches_nothing():
    class Owner:
        @staticmethod
        def f():
            return 1

    orig = Owner.f
    t = Tracer(False)
    t.wrap(Owner, "f", "x")
    with t.span("s"):
        pass
    assert Owner.f is orig and t.spans == []


def test_wrap_records_nested_spans_and_close_restores():
    class Owner:
        @staticmethod
        def f():
            return 7

    orig = Owner.f
    t = Tracer(True)
    t.wrap(Owner, "f", "layer.f")
    with t.span("outer"):
        assert Owner.f() == 7
    assert [s.name for s in t.spans] == ["outer", "layer.f"]
    assert t.spans[1].parent == 0
    t.close()
    assert Owner.f is orig
