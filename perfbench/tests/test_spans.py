from perfbench.spans import Span, Tracer, descendants, self_times


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "a", 1, 0, 1.0, 3.0),
        Span(2, "b", 1, 0, 2.0, 5.0),   # overlaps a: union [1, 5]
        Span(3, "c", 1, 0, 8.0, 12.0),  # ends after its parent: clipped at 10
        Span(4, "d", 1, 2, 2.5, 3.5),   # grandchild: only b's self time drops
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 4.0 - 2.0
    assert st[2] == 3.0 - 1.0
    assert st[1] == 2.0 and st[3] == 4.0 and st[4] == 1.0


def test_nested_spans_share_op_and_record_parent():
    tr = Tracer(True)
    with tr.span("op", new_op=True) as root:
        with tr.span("layer") as child:
            tr.count("rows", 3)
            tr.count("rows", 4)
    with tr.span("op", new_op=True) as other:
        pass
    assert child.parent == root.id and child.op == root.op
    assert other.op != root.op and other.parent is None
    assert child.counts == {"rows": 7}
    assert root.start <= child.start <= child.end <= root.end
    assert descendants(tr.spans, {root.id}) == {root.id, child.id}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", new_op=True) as s:
        tr.count("rows", 1)
    assert s is None and tr.spans == []


class FakeSC:
    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc, interrupt):
        self.group = gid

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def test_job_group_follows_innermost_span():
    sc = FakeSC()
    tr = Tracer(True)
    tr.attach(sc)
    with tr.span("op", new_op=True) as root:
        assert sc.group == str(root.id)
        with tr.span("layer") as child:
            assert sc.group == str(child.id)
        assert sc.group == str(root.id)
    assert sc.group is None
