from perfbench.tracing import Tracer


class FakeContext:
    """Records the job-group calls a traced span makes."""

    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(("set", gid))

    def setLocalProperty(self, key, value):
        self.calls.append(("clear", value))


def test_spans_nest_and_time():
    t = Tracer()
    with t.span("outer") as o:
        with t.span("inner", k=1) as i:
            pass
    assert i.parent == o.id and o.parent is None
    assert i.attrs == {"k": 1}
    assert o.start_ms <= i.start_ms <= i.end_ms <= o.end_ms
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.subtree_ids(o) == [o.id, i.id]


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("p") as p:
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    # pin the intervals: p = [0, 100], children [10, 30] and [20, 50]
    p.start_ms, p.end_ms = 0.0, 100.0
    t.spans[1].start_ms, t.spans[1].end_ms = 10.0, 30.0
    t.spans[2].start_ms, t.spans[2].end_ms = 20.0, 50.0
    assert t.self_ms(p) == 60.0
    assert t.self_ms(t.spans[1]) == 20.0


def test_driver_only_ms_subtracts_job_intervals():
    t = Tracer()
    with t.span("op") as s:
        pass
    s.start_ms, s.end_ms = 1000.0, 2000.0
    assert t.driver_only_ms(s, [(900, 1100), (1500, 1600), (2500, 2600)]) == 800.0


def test_named_skips_spans_under_setup():
    t = Tracer()
    with t.span("setup.warmup"):
        with t.span("q"):
            with t.span("q.run"):
                pass
    with t.span("q"):
        pass
    assert len(t.named("q")) == 1
    assert t.named("q.run") == []


def test_innermost_open_span():
    t = Tracer()
    with t.span("a") as a:
        with t.span("b") as b:
            pass
    a.start_ms, a.end_ms = 0.0, 100.0
    b.start_ms, b.end_ms = 40.0, 60.0
    assert t.innermost(50) == b.id
    assert t.innermost(10) == a.id
    assert t.innermost(200) is None


def test_job_group_follows_the_open_span():
    sc = FakeContext()
    t = Tracer(sc)
    with t.span("a") as a:
        with t.span("b") as b:
            pass
    assert sc.calls == [("set", a.id), ("set", b.id), ("set", a.id), ("clear", None)]


def test_untraced_tracer_touches_no_context():
    t = Tracer()
    with t.span("a"):
        pass
    assert t.sc is None
    assert t.dump()[0]["name"] == "a"
