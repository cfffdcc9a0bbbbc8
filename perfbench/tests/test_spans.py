import json

from perfbench.spans import SpanRecorder, covered_length, self_time


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    assert self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_counts_overlapping_children_once():
    assert self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0), (4.5, 6.0)]) == 5.0


def test_self_time_clips_children_to_parent():
    assert self_time((2.0, 8.0), [(0.0, 3.0), (7.0, 12.0), (20.0, 30.0)]) == 4.0


def test_covered_length_of_nothing_is_zero():
    assert covered_length((0.0, 1.0), []) == 0.0


def test_recorder_links_parents_and_inherits_op_id(tmp_path):
    clock = FakeClock()
    rec = SpanRecorder(clock=clock)
    with rec.span("op", op_id="op1") as op:
        clock.t = 1.0
        with rec.span("operators.a") as a:
            clock.t = 3.0
            with rec.span("inner"):
                clock.t = 3.5
        with rec.span("plans.read"):
            clock.t = 4.0
        with rec.span("operators.b") as b:
            clock.t = 6.0
        clock.t = 10.0
    assert a.parent == op.span_id and b.parent == op.span_id
    assert {s.op_id for s in rec.spans} == {"op1"}
    assert op.duration == 10.0
    assert rec.self_time(op) == 10.0 - 2.5 - 0.5 - 2.0
    only_ops = rec.self_time(op, lambda s: s.name.startswith("operators."))
    assert only_ops == 10.0 - 2.5 - 2.0

    path = tmp_path / "spans.jsonl"
    rec.write(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["op", "operators.a", "inner", "plans.read", "operators.b"]
    assert rows[2]["parent"] == rows[1]["span_id"]
    assert rows[0]["start"] == 0.0 and rows[0]["end"] == 10.0


def test_span_closes_when_body_raises():
    rec = SpanRecorder()
    try:
        with rec.span("boom"):
            raise ValueError("x")
    except ValueError:
        pass
    assert rec.spans[0].end is not None
    with rec.span("next") as nxt:
        pass
    assert nxt.parent is None
