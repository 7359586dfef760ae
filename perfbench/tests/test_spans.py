import threading

from spans import Span, Tracer, layer_totals, self_times


def _tree():
    # root 0..10 with children 1..4 and 3..6 (overlapping) and 8..9;
    # the first child has a grandchild 2..3
    return [
        Span("api.request", 0.0, 10.0, None, "op1", idx=0),
        Span("es_dsl", 1.0, 4.0, 0, "op1", idx=1),
        Span("search", 2.0, 3.0, 1, "op1", idx=2),
        Span("es_aggs", 3.0, 6.0, 0, "op1", idx=3),
        Span("es_dsl", 8.0, 9.0, 0, "op1", idx=4),
    ]


def test_self_time_subtracts_covered_child_interval_once():
    s = self_times(_tree())
    assert s[0] == 10.0 * 1000 - (5.0 + 1.0) * 1000  # 1..6 and 8..9
    assert s[1] == 2000.0
    assert s[2] == 1000.0
    assert s[3] == 3000.0
    assert s[4] == 1000.0


def test_layer_totals():
    t = layer_totals(_tree())
    assert t["es_dsl"] == {"calls": 2, "total_ms": 4000.0, "self_ms": 3000.0}
    assert t["api.request"]["self_ms"] == 4000.0


def test_wrap_records_nested_spans_per_thread():
    import types

    mod = types.ModuleType("fakepkg.layer")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    tr = Tracer()
    tr.wrap(mod, "inner", "inner", "fakepkg")
    tr.wrap(mod, "outer", "outer", "fakepkg")
    assert mod.outer(1) == 4  # outside any op: no spans
    assert tr.spans == []

    def work(op):
        with tr.span("api.request", op=op):
            mod.outer(1)

    threads = [threading.Thread(target=work, args=(f"op{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(10)
    assert not any(t.is_alive() for t in threads)
    assert len(tr.spans) == 12
    for s in tr.spans:
        if s.name == "inner":
            parent = tr.spans[s.parent]
            assert parent.name == "outer" and parent.op == s.op
    tr.enabled = False
    with tr.span("api.request", op="op9"):
        assert mod.outer(1) == 4
    assert len(tr.spans) == 12
