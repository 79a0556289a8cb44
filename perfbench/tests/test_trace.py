"""Spans nest and self times are non-negative and add up."""

from __future__ import annotations

import json
import time

from perfbench.trace import Tracer


def test_spans_nest_and_self_times_add_up():
    tr = Tracer(True, run_id="t")
    with tr.span("outer", "pipelines"):
        time.sleep(0.01)
        with tr.span("inner", "tables"):
            time.sleep(0.02)
            with tr.span("leaf", "sources"):
                time.sleep(0.01)
        with tr.span("inner", "tables"):
            time.sleep(0.01)
    outer, inner, leaf, inner2 = tr.spans
    assert outer.parent is None and inner.parent == outer.id
    assert leaf.parent == inner.id and inner2.parent == outer.id
    assert all(s.run_id == "t" and s.end >= s.start for s in tr.spans)
    st = tr.self_times()
    assert all(v >= 0 for v in st.values())
    # self times partition the root span's wall time
    assert abs(sum(st.values()) - (outer.end - outer.start)) < 1e-9
    layers = tr.layer_self_s()
    assert set(layers) == {"pipelines", "tables", "sources"}
    assert layers["sources"] >= 0.01 and layers["tables"] >= 0.03
    assert abs(tr.total_s("inner") - ((inner.end - inner.start) + (inner2.end - inner2.start))) < 1e-9


def test_reentrant_span_counted_once():
    tr = Tracer(True)
    with tr.span("read", "tables"):
        with tr.span("read", "tables"):
            time.sleep(0.005)
    outer = tr.spans[0]
    assert tr.total_s("read") == outer.end - outer.start


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", "y"):
        tr.count("c")
    assert tr.spans == [] and not tr.counts


def test_wrap_and_unwrap():
    class Thing:
        def go(self, x):
            return x + 1

    tr = Tracer(True)
    seen = []
    tr.wrap(Thing, "go", "thing.go", "things", after=lambda out, a, k: seen.append(out))
    assert Thing().go(1) == 2 and seen == [2] and tr.spans[0].name == "thing.go"
    tr.unwrap()
    Thing().go(1)
    assert len(tr.spans) == 1


def test_dump(tmp_path):
    tr = Tracer(True, run_id="r")
    with tr.span("a", "l"):
        pass
    path = tmp_path / "t.json"
    tr.dump(str(path), {"metrics": {"m": 1}})
    data = json.loads(path.read_text())
    assert data["spans"][0]["name"] == "a" and data["metrics"] == {"m": 1}

