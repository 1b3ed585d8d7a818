"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, workloads  # noqa: E402
from perfbench.trace import (  # noqa: E402
    _TICK_S,
    CpuClock,
    Mark,
    NullTracer,
    SparkCounters,
    Tracer,
    _covered,
    _cpu_s,
    _stat,
    instrument,
    tail_percentile,
    traced,
)


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, (50.0, 10)), (39, (50.0, 20)), (40, (75.0, 30)),
     (100, (90.0, 90)), (1000, (99.0, 990)), (10_000, (99.9, 9990))],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    samples = [float(i) for i in range(n, 0, -1)]  # n..1, unsorted input
    got = tail_percentile(samples)
    if expected is None:
        assert got is None
        return
    pct, rank = expected
    assert got == (pct, float(rank))
    assert sum(1 for x in samples if x > got[1]) >= 10


def test_covered_is_the_union_length():
    assert _covered([]) == 0.0
    assert _covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (3.5, 3.6)]) == 3.0
    assert _covered([(2.0, 1.0)]) == 0.0


def test_generators_are_seeded():
    def kmeans_input(seed):
        rng = np.random.default_rng(seed)
        centers = inputs.separated_centers(rng, 1000.0)
        labels, points = inputs.blobs(rng, centers, 500, 0.1)
        return inputs.fingerprint(centers, labels, points)

    assert kmeans_input(1) == kmeans_input(1)
    assert kmeans_input(1) != kmeans_input(2)

    def churn_input(seed):
        idx = workloads._Index(seed)
        ops = [idx.batch(kind) for kind in workloads.WRITE_KINDS * 2]
        arrays = [idx.corpus] + [a for ids, v in ops for a in (ids, v) if a is not None]
        return inputs.fingerprint(*arrays), sorted(idx.live)

    assert churn_input(3) == churn_input(3)
    assert churn_input(3)[0] != churn_input(4)[0]


def test_churn_model_tracks_live_keys():
    idx = workloads._Index(5)
    n = len(idx.live)
    ids, _ = idx.batch("append")
    assert all(int(i) in idx.live for i in ids)
    ids, vecs = idx.batch("upsert")
    assert all(np.array_equal(idx.live[int(i)], v) for i, v in zip(ids, vecs))
    ids, vecs = idx.batch("delete")
    assert vecs is None and not any(int(i) in idx.live for i in ids)
    assert len(idx.live) == n


def test_cycle_plan_queries_every_second_layer():
    plan = workloads._cycle_plan()
    layers, at_query = 0, []
    for op in plan:
        if op == "query":
            at_query.append(layers)
        else:
            # the ninth write opens the ninth layer and trips the fold
            layers = 0 if layers == 8 else layers + 1
    assert sum(op != "query" for op in plan) == workloads.CYCLE_WRITES
    assert at_query == [0, 2, 4, 6, 8, 0]


def test_stat_reads_fields_after_an_odd_command_name(tmp_path):
    stat = tmp_path / "stat"
    ticks = " ".join(str(i) for i in range(3, 30))
    stat.write_text(f"42 (C2 CompilerThre) (x) S 7 {ticks}\n")
    name, fields = _stat(str(stat))
    assert name == "C2 CompilerThre) (x"
    assert fields[:2] == ["S", "7"]
    # utime, stime, cutime, cstime are fields 14-17 of the line: 12-15 here
    assert _cpu_s(fields, children=False) == pytest.approx(25 * _TICK_S)
    assert _cpu_s(fields, children=True) == pytest.approx(54 * _TICK_S)
    assert _stat(str(tmp_path / "gone")) is None


def test_cpu_clock_counts_an_exited_child():
    clock = CpuClock()
    before = clock()
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", busy], check=True)
    assert clock() - before >= 0.4
    assert clock.jit() == 0.0  # no JVM given


class _FakeCounters:
    """Counters without Spark: every span reads one job."""

    def mark(self):
        return Mark(0, 0, 1.0)

    def since(self, mark):
        return {"wall_s": 0.5, "jobs": 1}


def test_span_wrapper_returns_the_value_unchanged():
    tracer = Tracer(_FakeCounters())
    value = {"model": [1.0, 2.0]}
    wrapped = traced(
        tracer, "plans.x", lambda a, b=0: value if a == 1 and b == 2 else None,
        after=lambda pre, result, *a, **k: {"extra": 3},
    )
    assert wrapped(1, b=2) is value
    (rec,) = tracer.spans
    assert rec["name"] == "plans.x" and rec["jobs"] == 1 and rec["extra"] == 3

    def boom():
        raise KeyError("x")

    with pytest.raises(KeyError):
        traced(tracer, "plans.y", boom)()
    assert tracer.spans[-1]["name"] == "plans.y"

    fn = lambda: 7  # noqa: E731
    assert traced(NullTracer(), "plans.z", fn) is fn


def test_instrument_wraps_instance_methods_only():
    class Engine:
        def step(self, x):
            return self.inner(x) + 1

        def inner(self, x):
            return x * 2

    tracer = Tracer(_FakeCounters())
    eng = Engine()
    instrument(eng, tracer, {"step": ("outer", None, None), "inner": ("inner", None, None)})
    assert eng.step(3) == 7 and Engine().step(3) == 7
    assert [r["name"] for r in tracer.spans] == ["inner", "outer"]
    assert tracer.spans[0]["path"] == ["outer"]
    with tracer.paused():
        assert eng.step(1) == 3
    assert len(tracer.spans) == 2


def test_metric_names_match_benchmark_json():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    run = workloads.Run(None, None, NullTracer(), Path("."), 0, 0.0, 1.0)
    layer = workloads.per_layer(run)
    assert sorted(layer) == sorted(m["name"] for m in bench["per_layer"])
    for m in bench["per_layer"]:
        assert workloads.layer_unit(m["name"]) == m["unit"]
    from perfbench.run import _contract

    run.metrics = {
        "fit_s": (1.0, "s"),
        "fit_cpu_s": (3.0, "s"),
        "cycle_cpu_s": (5.0, "s"),
        "fit_jobs": (24, "count"),
    }
    run.setup_s = 30.0
    contract = _contract("reference_fit", run, 100.0)
    assert [(k, u) for k, (_, u) in contract.items()] == [
        (m["name"], m["unit"]) for m in bench["end_to_end"]
    ]
    assert all(v for v, _ in contract.values())
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_counter_diff_on_a_known_job(spark):
    counters = SparkCounters(spark)
    spark.sparkContext.parallelize(range(10), 2).count()  # an earlier job
    mark = counters.mark()
    assert spark.sparkContext.parallelize(range(1000), 4).count() == 1000
    got = counters.since(mark)
    assert got["jobs"] == 1
    assert got["tasks"] == 4
    assert got["shuffle_bytes"] == 0
    assert 0 <= got["driver_s"] <= got["wall_s"]
    assert got["exec_run_s"] >= 0 and got["exec_cpu_s"] >= 0
    assert counters.newest_job_id() == mark.job + 1

    # a shuffle: two stages, one job
    mark = counters.mark()
    spark.sparkContext.parallelize(range(1000), 4).map(lambda x: (x % 3, 1)).reduceByKey(
        lambda a, b: a + b, 2
    ).collect()
    got = counters.since(mark)
    assert got["jobs"] == 1 and got["tasks"] == 6 and got["shuffle_bytes"] > 0

    # nothing ran
    mark = counters.mark()
    assert counters.since(mark)["jobs"] == 0
