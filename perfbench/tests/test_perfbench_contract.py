import json
import os
import re

import pandas as pd
import pytest

import harness
import run
from workloads.lake_analytics import canonical, same

BENCH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def bench():
    with open(BENCH) as fh:
        return json.load(fh)


def test_printed_metrics_match_benchmark_json(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.all_layer_metrics()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_benchmark_json_shape(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [
        w["name"] for w in bench["workloads"]
    ]
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(m["better"] in ("lower", "higher") for m in bench["end_to_end"] + bench["per_layer"])


def test_trace_overhead_compares_medians_per_kind_and_cancels_steady_drift():
    S = harness.Sample
    samples = [S("a", 1.0, True, False), S("a", 1.2, True, True), S("b", 3.0, True, False), S("b", 3.0, True, True)]
    assert harness.trace_overhead(samples) == pytest.approx(0.05)
    drifting = [S("a", w, True, traced) for w, traced in ((3.0, False), (2.0, True), (1.0, False))]
    assert harness.trace_overhead(drifting) == pytest.approx(0.0)


def test_traced_run_puts_untraced_cycles_on_both_sides_of_a_traced_one():
    class OneKind:
        MIN_CYCLES = 1

        def cycle(self):
            return [("a", lambda: (lambda: True))]

    class NullTracer:
        def operation(self, traced):
            import contextlib

            return contextlib.nullcontext()

    samples = harness.closed_loop(OneKind(), 1e-12, NullTracer(), True)
    assert [s.traced for s in samples] == [False, True, False]
    assert [s.traced for s in harness.closed_loop(OneKind(), 1e-12, NullTracer(), False)] == [False]


def test_op_latency_averages_per_kind_medians():
    S = harness.Sample
    walls = {"a": [1.0, 1.0, 9.0], "b": [3.0, 5.0]}
    samples = [S(k, w, True, False) for k, ws in walls.items() for w in ws]
    assert harness.kind_median(samples) == pytest.approx((1.0 + 4.0) / 2)


def test_result_normalization_ignores_int_width_and_row_order():
    spark_like = pd.DataFrame({"b": [2.5, None], "a": pd.array([2, 1], dtype="int32"), "s": ["y", None]})
    duck_like = pd.DataFrame({"a": [1, 2], "b": [float("nan"), 2.5], "s": [None, "y"]})
    assert same(canonical(spark_like), canonical(duck_like))
    assert not same(canonical(spark_like), canonical(duck_like.assign(b=[float("nan"), 2.5000001])))
