"""Tests of the benchmark itself.  Run from the repository root:

    python -m pytest perfbench -q

The last two tests start a local SparkSession (about half a minute).
"""

from __future__ import annotations

import json
import os
import pickle
import random
import sys
import textwrap

import cloudpickle
import pytest

from perfbench.collect import JobRecord, driver_gap_s, spark_jobs, union_length
from perfbench.report import OpRun, end_to_end, per_layer
from perfbench.spans import Span, Tracer, innermost_span, self_times
from perfbench.workloads import END_TO_END, PER_LAYER, SMALL_DATA, WORKLOADS, pass_order

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_self_times_on_a_synthetic_span_tree():
    spans = [
        Span(1, 0, "p0:q", "inventory", "q", 0.0, 10.0),
        Span(2, 1, "p0:q", "operators", "a", 1.0, 4.0),
        Span(3, 2, "p0:q", "session", "scatter", 2.0, 3.0),
        Span(4, 1, "p0:q", "operators", "b", 3.5, 6.0),  # overlaps span 2
        Span(5, 0, "p0:q", "action", "toPandas", 10.0, 12.0),
    ]
    got = self_times(spans)
    assert got == pytest.approx({1: 10.0 - 5.0, 2: 3.0 - 1.0, 3: 1.0, 4: 2.5, 5: 2.0})
    assert innermost_span(spans, 2.5).span_id == 3
    assert innermost_span(spans, 5.0).span_id == 4
    assert innermost_span(spans, 13.0) is None


def test_interval_arithmetic():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    jobs = [JobRecord(0, 101.0, 102.0, (0,)), JobRecord(1, 101.5, 103.0, (1,))]
    assert driver_gap_s((100.0, 105.0), jobs) == pytest.approx(3.0)


def test_seed_gives_a_deterministic_operation_order():
    ops = WORKLOADS["warehouse"].ops
    a, b = random.Random(7), random.Random(7)
    first = [pass_order(ops, a) for _ in range(3)]
    assert first == [pass_order(ops, b) for _ in range(3)]
    assert all(sorted(p) == sorted(ops) for p in first)
    other = random.Random(8)
    assert first != [pass_order(ops, other) for _ in range(3)]


def test_per_layer_totals_from_synthetic_runs():
    spans = [
        Span(1, 0, "p0:q", "inventory", "q", 0.0, 2.0),
        Span(2, 1, "p0:q", "session", "scatter", 0.5, 1.0),
        Span(3, 0, "p0:q", "action", "toPandas", 2.0, 3.0),
    ]
    run = OpRun("q", 0, 3.0, 1000.0)
    run.spark.jobs = [JobRecord(0, 1000.7, 1000.8, (0,)), JobRecord(1, 1002.5, 1002.9, (1,))]
    run.spark.stages, run.spark.tasks = 2, 5
    metrics, jobs_by_span = per_layer([run], spans, 1000.0, 900.0, 1e-6)
    assert metrics["session.calls"] == 1
    assert jobs_by_span == {2: 1, 3: 1}
    assert metrics["inventory.self_s"] == pytest.approx(1.5)
    assert metrics["spark.jobs"] == 2 and metrics["spark.tasks"] == 5
    assert metrics["spark.driver_gap_s"] == pytest.approx(3.0 - 0.5)
    assert metrics["trace.overhead_s"] == pytest.approx(3e-6)
    assert metrics["proc.peak_rss_mb"] == 900.0
    assert set(metrics) == {name for name, *_ in PER_LAYER}


def test_end_to_end_from_synthetic_runs():
    runs = [
        OpRun("a", 0, 1.0, 0.0), OpRun("b", 0, 3.0, 1.0),
        OpRun("a", 1, 2.0, 4.0), OpRun("b", 1, 5.0, 6.0),
        OpRun("a", 2, 1.5, 11.0), OpRun("b", 2, 9.0, 12.5),
    ]
    got = end_to_end(8.0, runs)
    assert got == pytest.approx({"setup_s": 8.0, "pass_s": 6.5})


def test_tracer_wraps_layers_and_ships_originals(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    (pkg / "layer").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "layer" / "__init__.py").write_text("")
    (pkg / "layer" / "ops.py").write_text(textwrap.dedent("""
        def outer(x):
            return inner(x) + 1

        def inner(x):
            return x * 2

        def _private(x):
            return x
    """))
    (pkg / "user.py").write_text("from fakepkg.layer.ops import outer as alias\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    import fakepkg.user

    tracer = Tracer()
    assert tracer.install({"ops": "fakepkg.layer"}) == 2
    tracer.enabled, tracer.op = True, "p0:x"
    assert fakepkg.user.alias(3) == 7
    outer, inner = sorted(tracer.spans, key=lambda s: s.start)
    assert (outer.name, inner.name, inner.parent) == ("outer", "inner", outer.span_id)
    from fakepkg.layer import ops

    assert pickle.loads(cloudpickle.dumps(ops.outer)) is ops.outer  # by reference
    assert 0 < tracer.span_cost() < 1e-3
    assert len(tracer.spans) == 2 and tracer.enabled
    for name in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[name]


def test_benchmark_json_describes_the_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _ in PER_LAYER
    ]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


@pytest.fixture(scope="module")
def warehouse_records():
    """Spark records of the warehouse operations over two passes."""
    sys.path.insert(0, ROOT)
    from hadoop_20_warehouse_spark import inventory  # noqa: F401
    from hadoop_20_warehouse_spark.registry import QUERIES
    from hadoop_20_warehouse_spark.session import get_session

    spark = get_session(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    records = {}
    for pass_no in range(3):  # pass 0 warms up; passes 1 and 2 are compared
        for op in WORKLOADS["warehouse"].ops:
            group = f"test{pass_no}:{op}"
            spark.sparkContext.setJobGroup(group, op)
            QUERIES[op](spark, SMALL_DATA).toPandas()
            records[pass_no, op] = spark_jobs(spark, group)
    yield records
    spark.stop()


def test_spark_counts_repeat_across_warehouse_passes(warehouse_records):
    for op in WORKLOADS["warehouse"].ops:
        one, two = warehouse_records[1, op], warehouse_records[2, op]
        assert (len(one.jobs), one.stages, one.tasks) == (len(two.jobs), two.stages, two.tasks), op


def test_collector_sanity(warehouse_records):
    for (pass_no, op), rec in warehouse_records.items():
        assert rec.tasks >= rec.stages >= len(rec.jobs) >= 1, (pass_no, op)
        assert rec.failed_tasks == 0
        assert rec.executor_run_s > 0 and rec.input_bytes > 0
        assert all(j.completed_s >= j.submitted_s > 0 for j in rec.jobs)
