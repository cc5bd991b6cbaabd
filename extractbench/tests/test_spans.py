from spans import Tracer, covered, self_time


def test_self_time_subtracts_covered_time_once():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children cover their union, not their sum
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children are clipped to the parent span
    assert self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    assert self_time(0.0, 4.0, [(5.0, 6.0)]) == 4.0


def test_covered_counts_the_union_inside_the_window():
    assert covered(0.0, 10.0, []) == 0.0
    assert covered(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0)]) == 5.0


def test_tracer_totals_nested_spans():
    t = Tracer()
    # [name, start, end, parent index]
    t.spans = [["root", 0.0, 10.0, None],
               ["a", 1.0, 4.0, 0],
               ["b", 2.0, 3.0, 1],
               ["a", 5.0, 6.0, 0]]
    tot = t.totals()
    assert tot["root"] == {"total": 10.0, "self": 6.0, "count": 1}
    assert tot["a"] == {"total": 4.0, "self": 3.0, "count": 2}
    assert tot["b"] == {"total": 1.0, "self": 1.0, "count": 1}
    assert sum(v["self"] for v in tot.values()) == tot["root"]["total"]


def test_wrap_records_parent_and_hooks():
    seen = []
    t = Tracer(on_enter={"inner": lambda: seen.append("in")},
               on_exit={"inner": lambda: seen.append("out")})
    inner = t.wrap("inner", lambda x: x + 1)
    with t.span("outer"):
        assert inner(1) == 2
    assert [s[0] for s in t.spans] == ["outer", "inner"]
    assert t.spans[1][3] == 0
    assert seen == ["in", "out"]
