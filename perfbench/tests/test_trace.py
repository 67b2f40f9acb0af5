"""Span recording and self time, without Spark."""

import json

import pytest

from perfbench.trace import Span, Tracer, self_time


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_nested_spans_record_parent_and_self_time():
    clk = FakeClock()
    tr = Tracer("r1", enabled=True, clock=clk)
    with tr.span("op"):
        clk.t = 1.0
        with tr.span("blocking"):
            clk.t = 3.0
            with tr.span("checkpoints.stage.blocking_map"):
                clk.t = 4.5
            clk.t = 5.0
        with tr.span("score"):
            clk.t = 9.0
        clk.t = 10.0
    op, blocking, stage, score = tr.spans
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]
    assert {s.run_id for s in tr.spans} == {"r1"}
    assert op.seconds == 10.0
    assert tr.self_seconds(op) == pytest.approx(10.0 - 4.0 - 4.0)
    assert tr.self_seconds(blocking) == pytest.approx(4.0 - 1.5)
    assert tr.self_seconds(stage) == pytest.approx(1.5)
    assert tr.self_seconds(score) == pytest.approx(4.0)


def test_self_time_merges_overlapping_children():
    parent = Span(0, "p", None, "r", 0.0, 10.0)
    kids = [Span(1, "a", 0, "r", 1.0, 4.0), Span(2, "b", 0, "r", 3.0, 6.0), Span(3, "c", 0, "r", 8.0, 12.0)]
    # covered: [1, 6] and [8, 10] (clipped to the parent) = 7
    assert self_time(parent, kids) == pytest.approx(3.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == []


def test_span_closes_on_exception():
    clk = FakeClock()
    tr = Tracer("r", enabled=True, clock=clk)
    with pytest.raises(RuntimeError):
        with tr.span("op"):
            clk.t = 2.0
            raise RuntimeError("boom")
    assert tr.spans[0].end == 2.0
    with tr.span("next"):
        pass
    assert tr.spans[1].parent is None


def test_jsonl_has_one_record_per_span(tmp_path):
    clk = FakeClock()
    tr = Tracer("r", enabled=True, clock=clk)
    with tr.span("op"):
        clk.t = 2.0
        with tr.span("child"):
            clk.t = 3.0
    path = tmp_path / "spans.jsonl"
    tr.write_jsonl(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["op", "child"]
    assert recs[0]["self_seconds"] == pytest.approx(2.0)
    assert recs[1]["parent"] == recs[0]["span_id"]
    assert set(recs[0]) >= {"name", "start", "end", "parent", "run_id", "seconds", "self_seconds"}
