import pytest

from spans import Job, Span, Stage, Tracer, attribute_jobs, union_length


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_jobs_go_to_the_innermost_open_span():
    spans = [
        Span("op", 0.0, 10.0, None, 0),
        Span("run_once", 1.0, 6.0, 0, 0),
        Span("list", 1.5, 2.0, 1, 0),
    ]
    jobs = [Job(0, 0.5, 0.9), Job(1, 1.7, 3.0), Job(2, 4.0, 5.0), Job(3, 20.0, 21.0)]
    got = {i: [j.id for j in js] for i, js in attribute_jobs(spans, jobs).items()}
    assert got == {0: [0], 2: [1], 1: [2]}  # job 3 ran outside every span


class FakeCounters:
    def __init__(self, jobs, stages):
        self._jobs, self.stages = jobs, stages

    def skip(self):
        pass

    def new_jobs(self):
        jobs, self._jobs = self._jobs, []
        return jobs


def test_span_counters_are_inclusive_and_driver_time_is_uncovered_wall(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 10.0])
    monkeypatch.setattr("spans.time.time", lambda: next(clock))
    t = Tracer(FakeCounters([Job(7, 1.5, 2.5, [1, 2])], {1: Stage(tasks=4, run_s=2.0), 2: Stage()}))
    with t.operation(traced=True):
        with t.span("child"):
            pass
    root = t.per_op("op")[0]
    assert root["s"] == pytest.approx(10.0)
    assert root["jobs"] == 1 and root["tasks"] == 4 and root["executor_run_s"] == 2.0
    assert root["driver_s"] == pytest.approx(9.0)
    assert t.median("child", "driver_s") == pytest.approx(1.0)


def test_untraced_operations_record_nothing():
    t = Tracer(FakeCounters([], {}))
    with t.operation(traced=False):
        with t.span("x"):
            t.count("n", 1)
    assert t.spans == [] and t.total_count("n") == 0


def test_self_times_sum_to_the_root_wall_and_medians_filter_by_ancestor(monkeypatch):
    clock = iter([0.0, 1.0, 2.0, 3.0, 5.0, 6.0, 7.0, 10.0])
    monkeypatch.setattr("spans.time.time", lambda: next(clock))
    t = Tracer(FakeCounters([], {}))
    with t.operation(traced=True):  # op 0..10
        with t.span("q1"):  # 1..5
            with t.span("plan"):  # 2..3
                pass
        with t.span("q2"):  # 6..7
            pass
    assert t.self_time_sum(0) == pytest.approx(10.0)
    assert t.median("plan", "s") == pytest.approx(1.0)
    assert t.median("plan", "s", within="q1") == pytest.approx(1.0)
    assert t.median("plan", "s", within="q2") == 0.0
