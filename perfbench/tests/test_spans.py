"""Self-time arithmetic, span nesting and the patching the traced run
relies on."""

import threading
import types

import pytest

import spans
from spans import Span, Tracer


def _span(sid, parent, t0, t1, name="x", rid="r"):
    return Span(sid, name, rid, parent, t0, t1)


def test_covered_is_the_union_clipped_to_the_parent():
    assert spans.covered(0, 10, []) == 0
    assert spans.covered(0, 10, [(1, 3), (2, 5)]) == 4          # overlap
    assert spans.covered(0, 10, [(1, 2), (4, 6)]) == 3          # disjoint
    assert spans.covered(0, 10, [(-5, 2), (9, 20)]) == 3        # clipped
    assert spans.covered(0, 10, [(3, 4), (1, 8)]) == 7          # nested


def test_self_time_subtracts_only_direct_children():
    tree = [_span(1, None, 0, 10), _span(2, 1, 1, 5), _span(3, 2, 2, 4),
            _span(4, 1, 5, 7)]
    st = spans.self_times(tree)
    assert st[1] == pytest.approx(10 - 6)    # children cover [1, 7]
    assert st[2] == pytest.approx(4 - 2)
    assert st[3] == pytest.approx(2)
    assert st[4] == pytest.approx(2)
    assert sum(st.values()) == pytest.approx(10)   # nothing lost


def test_layer_totals_reports_root_self_time_as_uncovered():
    tree = [_span(1, None, 0, 10, "op"),
            _span(2, 1, 1, 3, "catalog.resolve"),
            _span(3, 1, 5, 6, "catalog.resolve"),
            _span(4, 1, 6, 9, "exec.action")]
    per = spans.layer_totals(tree)["r"]
    assert per == pytest.approx({"uncovered": 4.0, "catalog.resolve": 3.0,
                                 "exec.action": 3.0})


def test_outermost_counts_skip_nested_calls_of_the_same_layer():
    tree = [_span(1, None, 0, 10, "op"),
            _span(2, 1, 0, 1, "model.metastore"),
            _span(3, 2, 0, 1, "model.fs"),
            _span(4, 3, 0, 1, "model.fs"),      # read_text -> read_bytes
            _span(5, 1, 2, 3, "model.fs")]
    assert spans.outermost_counts(tree, "model.fs") == {"r": 2}
    assert spans.outermost_counts(tree, "model.metastore") == {"r": 1}


def test_wrapped_function_records_only_while_a_request_is_open():
    mod = types.SimpleNamespace()
    mod.__dict__["f"] = lambda x: x + 1
    t = Tracer()
    t.wrap(mod, "f", "layer.f")
    assert mod.f(1) == 2 and t.spans == []
    with t.request("a", "op"):
        assert mod.f(2) == 3
    names = sorted(s.name for s in t.spans)
    assert names == ["layer.f", "op"]
    child = next(s for s in t.spans if s.name == "layer.f")
    root = next(s for s in t.spans if s.name == "op")
    assert child.parent == root.sid and child.rid == "a"
    t.uninstall()
    assert not hasattr(mod.f, "__wrapped__")


def test_adopt_links_another_threads_spans_to_the_request():
    t = Tracer()
    done = threading.Event()

    def server(rid):
        with t.adopt(rid):
            with t.span("api.handler"):
                pass
        done.set()

    with t.request("r1", "op"):
        th = threading.Thread(target=server, args=("r1",))
        th.start()
        th.join(timeout=10)
    assert done.is_set() and not th.is_alive()
    root = next(s for s in t.spans if s.name == "op")
    handler = next(s for s in t.spans if s.name == "api.handler")
    assert handler.parent == root.sid and handler.rid == "r1"
    # an unknown request id records nothing
    with t.adopt("nope"):
        with t.span("x") as s:
            assert s is None


def test_overhead_share_pairs_the_same_keys():
    from harness import Op
    from run import overhead_share

    def op(key, ms, traced):
        kind = key.split(".")[0]
        return Op(kind, 0.0, ms / 1e3, rid="r" if traced else None, key=key)

    # traced Delta reads against untraced Iceberg reads share no key, so
    # the table formats' difference is not taken for tracing overhead
    ops = [op("range.delta", 100, True), op("range.iceberg", 300, False)]
    assert overhead_share(ops, ["range"]) == 0.0
    ops += [op("range.delta", 80, False), op("range.iceberg", 330, True),
            op("optimize.delta", 900, True), op("optimize.delta", 1, False)]
    assert overhead_share(ops, ["range"]) == \
        pytest.approx((100 / 80 * 330 / 300) ** 0.5 - 1)
