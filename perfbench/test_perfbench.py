"""Self-tests for the benchmark: result digests, failure accounting, the
memory window, the traced-pass order, the declared metrics, and the traced
spans' coverage of a pass.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import run  # noqa: E402
from tracing import merged_length, pass_layers  # noqa: E402


def _table(rows):
    return pa.table(
        {
            "k": [r[0] for r in rows],
            "x": [r[1] for r in rows],
            "s": [r[2] for r in rows],
            "v": pa.array([r[3] for r in rows], type=pa.list_(pa.float64())),
        }
    )


ROWS = [(1, 0.5, "a", [1.0, 2.0]), (2, 1.25, "b", [3.0]), (3, -2.0, None, []), (2, 1.25, "b", [3.0])]


def test_digest_ignores_row_order():
    assert checks.digest(_table(ROWS)) == checks.digest(_table(ROWS[::-1]))
    assert checks.digest(_table(ROWS)) == checks.digest(_table([ROWS[2], ROWS[0], ROWS[3], ROWS[1]]))


def test_digest_sees_changed_or_missing_rows():
    base = checks.digest(_table(ROWS))
    assert checks.digest(_table(ROWS[:-1])) != base
    assert checks.digest(_table([ROWS[0], ROWS[1], ROWS[2], (2, 1.25, "b", [3.5])])) != base


class _FakeWorkload:
    """Op ``b`` returns a wrong result on its second run, ``c`` raises on its
    first, and ``a`` returns a result the check cannot read on its third."""

    ops = ["a", "b", "c"]

    def __init__(self):
        self.calls = {op: 0 for op in self.ops}

    def run_op(self, name, span):
        self.calls[name] += 1
        if name == "c" and self.calls[name] == 1:
            raise RuntimeError("boom")
        return {("b", 2): "wrong", ("a", 3): None}.get((name, self.calls[name]), "right")

    def check(self, name, result):
        return result.startswith("right"), result


def test_wrong_result_and_error_count_as_failed(monkeypatch):
    monkeypatch.setattr(run, "_release_quietly", lambda: None)
    runner = run.Runner(_FakeWorkload(), seed=3, rdds_left=lambda: 0)
    for i in range(3):
        runner.run_pass(f"pass{i}")
    assert run.summary(runner) == (False, 9, 3)
    assert {(f["op"], f["error"]) for f in runner.failures} == {
        ("a", "check raised AttributeError: 'NoneType' object has no attribute 'startswith'"),
        ("b", "wrong"),
        ("c", "RuntimeError: boom"),
    }


def test_persisted_rdds_left_count_as_failed(monkeypatch):
    class AlwaysRight(_FakeWorkload):
        def run_op(self, name, span):
            return "right"

    left = iter([0, 2, 0])
    runner = run.Runner(AlwaysRight(), seed=3, rdds_left=lambda: next(left))
    runner.run_pass("pass0")
    assert run.summary(runner) == (False, 3, 1)
    assert runner.passes[0]["rdds_left"] == 2


def test_peak_rss_leaves_out_the_checks():
    class BigCheck(_FakeWorkload):
        def run_op(self, name, span):
            return "right"

        def check(self, name, result):
            held = b"x" * (256 << 20)  # written, so resident
            return len(held) > 0, result

    runner = run.Runner(BigCheck(), seed=3, rdds_left=lambda: 0)
    runner.run_pass("pass0")
    assert run.summary(runner) == (True, 3, 0)
    assert 0 < runner.passes[0]["peak_rss_mb"] < run.peak_rss_mb(False) - 128


def test_traced_passes_run_in_abba_order():
    traced = [i for i in range(8) if run.traced_pass(i)]
    untraced = [i for i in range(8) if not run.traced_pass(i)]
    assert traced == [0, 3, 4, 7]
    assert sum(traced) == sum(untraced)


def test_every_declared_layer_metric_is_computed():
    computed = set(pass_layers([], [])) | {"session_start_s", "warmup_s", "rdds_left", "trace_overhead_s"}
    declared = {name for name, _ in run.declared_metrics("per_layer")}
    assert declared <= computed, declared - computed
    assert {name for name, _ in run.declared_metrics("end_to_end")} == {"pass_s", "setup_s", "py_peak_rss_mb"}


def test_merged_length_unions_overlaps():
    assert merged_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == pytest.approx(4.0)
    assert merged_length([]) == 0.0


def test_nested_fit_counts_in_build_and_fit():
    base = {"py4j_calls": 10, "jobs": 1, "job_span_s": 0.0, "trace_s": 0.0, "cpu_s": 0.1, "jvm_gc_s": 0.0}
    spans = [
        {**base, "id": 0, "parent": None, "kind": "op", "q": "x", "start": 0.0, "end": 4.0},
        {**base, "id": 1, "parent": 0, "kind": "build", "q": "x", "start": 0.0, "end": 2.0},
        {**base, "id": 2, "parent": 1, "kind": "fit", "start": 0.5, "end": 1.5},
    ]
    layers = pass_layers(spans, ["x"])
    assert layers["build_s"] == pytest.approx(2.0)
    assert layers["fit_s"] == pytest.approx(1.0)
    assert layers["build_jobs"] == 1 and layers["fit_jobs"] == 1
    assert layers["q.x.build_s"] == pytest.approx(2.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    conf = run.pin_environment(str(tmp_path_factory.mktemp("perfbench")), 2)
    from bears_spark.session import get_session

    session = get_session("perfbench-selftest", master="local[2]", **conf)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run._stop(session)


def test_traced_spans_cover_each_pass(spark):
    from tracing import Tracer, coverage

    import workloads

    workload = workloads.QueryWorkload(spark, run.DATA, ["q6_revenue_change", "q1_pricing_summary"])
    tracer = Tracer(spark)
    runner = run.Runner(workload, 7, lambda: spark.sparkContext._jsc.getPersistentRDDs().size(), tracer)
    runner.run_pass("warmup")
    for i in range(2):
        p = runner.run_pass(f"pass{i}", traced=True)
        spans = tracer.spans[slice(*p["spans"])]
        assert 0.98 <= coverage(spans, p["pass_s"]) <= 1.0 + 1e-9
        layers = pass_layers(spans, workload.ops)
        assert layers["build_s"] + layers["collect_s"] + layers["release_s"] <= p["pass_s"]
        assert layers["jobs"] >= 2
    assert run.summary(runner) == (True, 6, 0)
