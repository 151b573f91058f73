"""Span bookkeeping and self-time arithmetic."""

from spans import Span, Tracer, self_times, union_s


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_union_merges_overlaps_and_gaps():
    assert union_s([]) == 0.0
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_s([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert union_s([(3, 4), (0, 1)]) == 2.0


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),  # overlaps its sibling: counted once
        _span(3, 2.0, 3.0, 1),  # grandchild: only its parent's self time
        _span(4, 9.0, 12.0, 0),  # runs past the parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (6.0 - 1.0) - (10.0 - 9.0)
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0
    assert st[3] == 1.0
    assert st[4] == 3.0


def test_tracer_records_parents_and_disabled_is_noop():
    t = Tracer("run1")
    with t.span("a"):
        with t.span("b"):
            pass
        t.wrap("c", lambda: None)()
    assert [(s.name, s.parent, s.run) for s in t.spans] == [
        ("a", None, "run1"), ("b", 0, "run1"), ("c", 0, "run1")
    ]
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer("run2", enabled=False)
    with off.span("a"):
        off.wrap("b", lambda: None)()
    assert off.spans == []


def test_wrap_modules_records_calls_through_earlier_imports():
    import sys
    import types

    pkg = types.ModuleType("fakepkg")
    pkg.__path__ = []
    mod = types.ModuleType("fakepkg.ops")
    exec(
        "def outer(x):\n    return inner(x) + 1\n"
        "def inner(x):\n    return x * 2\n"
        "def _private(x):\n    return x\n",
        mod.__dict__,
    )
    user = types.ModuleType("fakeuser")
    user.outer = mod.outer  # bound by "from fakepkg.ops import outer" earlier
    sys.modules.update({"fakepkg": pkg, "fakepkg.ops": mod, "fakeuser": user})
    try:
        t = Tracer("run1")
        names = t.wrap_modules("fakepkg", lambda m: m.removeprefix("fakepkg."))
        assert names == {"fakepkg.ops"}
        assert user.outer(3) == 7
        assert [(s.name, s.parent) for s in t.spans] == [("ops", None), ("ops", 0)]
        assert mod._private.__name__ == "_private" and not hasattr(mod._private, "__wrapped__")
    finally:
        for name in ("fakepkg", "fakepkg.ops", "fakeuser"):
            sys.modules.pop(name)
