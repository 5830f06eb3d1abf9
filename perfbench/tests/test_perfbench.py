"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The Spark tests run on the smallest test scale (sf0.001) on local[2].
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import catalog  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


def test_metric_names_are_well_formed():
    names = [*catalog.END_TO_END, *catalog.DETAIL, *catalog.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert catalog.NAME_RE.match(name), name
    for unit, better, moves, workload in catalog.PER_LAYER.values():
        assert better in ("lower", "higher")
        assert moves in (*catalog.END_TO_END, "none")
        assert workload in (*workloads.WORKLOADS, "all")


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]}
    assert e2e == catalog.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == {k: v[:2] for k, v in catalog.PER_LAYER.items()}


def test_tail_percentile_needs_ten_items_beyond():
    assert catalog.tail_percentile(49) is None
    assert catalog.tail_percentile(50) == 80
    assert catalog.tail_percentile(99) == 80
    assert catalog.tail_percentile(100) == 90
    assert catalog.tail_percentile(1000) == 99


def _record(item: str, total_s: float, **extra) -> dict:
    return {"item": item, "traced": False, "total_s": total_s, "cpu_s": 1.0, "steal_s": 0.0, **extra}


def _result(records: list[dict]) -> dict:
    return {
        "records": records,
        "setup_s": 1.0,
        "setup_cpu_s": 1.0,
        "setup_steal_s": 0.0,
        "probe_s": [catalog.PROBE_REF_S],
        "peak_rss_mb": 1.0,
    }


def test_end_to_end_emits_p80_only_with_ten_items_beyond():
    def result(n):
        return _result([_record(f"q{i}", float(i + 1)) for i in range(n)])

    _, detail = catalog.end_to_end(result(49))
    assert not any(k.startswith("item_p") for k in detail)
    metrics, detail = catalog.end_to_end(result(50))
    assert detail["item_p80_s"] == 40.0  # nearest rank: 10 of 50 items lie beyond
    assert metrics["item_p50_s"] == 25.5
    assert metrics["wall_s"] == sum(range(1, 51))


def test_failed_items_count_and_are_not_timed():
    records = [_record("a", 1.0), _record("b", 9.0, error="wrong output")]
    metrics, detail = catalog.end_to_end(_result(records))
    assert metrics["wall_s"] == 1.0
    assert detail["fail_ratio"] == 0.5


def test_stolen_share_comes_off_wall_time():
    assert catalog.unstolen(10.0, 3.0, 0.0) == 10.0
    # a quarter of the CPU time asked for went to other guests
    assert catalog.unstolen(10.0, 3.0, 1.0) == 7.5
    assert catalog.unstolen(10.0, 0.0, 0.0) == 10.0
    records = [_record("a", 2.0, cpu_s=3.0, steal_s=1.0), _record("a", 4.0, cpu_s=3.0, steal_s=1.0)]
    metrics, detail = catalog.end_to_end(_result(records))
    assert metrics["wall_s"] == 2.25  # median of 1.5 and 3.0
    assert detail["raw_wall_s"] == 3.0
    assert detail["steal_share"] == 0.25


def test_times_are_scaled_to_the_reference_host_speed():
    result = _result([_record("a", 2.0), _record("b", 4.0)])
    # the host's CPUs ran at half the reference speed for the whole run
    result["probe_s"] = [2 * catalog.PROBE_REF_S, 2 * catalog.PROBE_REF_S, 9.0]
    metrics, detail = catalog.end_to_end(result)
    assert detail["host_factor"] == 2.0
    assert metrics["wall_s"] == 3.0
    assert metrics["setup_s"] == 0.5
    assert detail["raw_wall_s"] == 6.0


def test_union_length():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert tracing.union_length([], 0, 1) == 0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYTHONPATH"] = ROOT
    from cicevse2024_tfm_datapipeline_spark.session import get_spark

    return get_spark("perfbench-tests")


@pytest.fixture(scope="module")
def queries():
    from cicevse2024_tfm_datapipeline_spark.plans import load_all

    return load_all()


def _package_bindings() -> dict:
    return {
        (name, attr): value
        for name, mod in list(sys.modules.items())
        if mod is not None and name.startswith(tracing.PACKAGE)
        for attr, value in vars(mod).items()
        if callable(value)
    }


def _traced(spark, queries, name: str, tmp_path) -> dict:
    ctx = workloads.Context(spark, queries, SF_SMALL, str(tmp_path), seed=1)
    item = workloads.query_item(name)
    tracer = tracing.Tracer(spark)
    tracer.install()
    try:
        tracer.begin_item(name)
        with tracer.phase("build"):
            df = item.build(ctx)
        with tracer.phase("exec"):
            item.run(ctx, df)
        layers, spans = tracer.end_item(df)
    finally:
        tracer.uninstall()
    names = {s["name"] for s in spans}
    assert {"phase.build", "phase.exec"} <= names
    return layers


def test_tracer_restores_every_package_function(spark, queries, tmp_path):
    before = _package_bindings()
    client = spark.sparkContext._gateway._gateway_client
    layers = _traced(spark, queries, "a_kaplan_meier", tmp_path)
    assert layers["operators.scan_calls"] >= 1
    assert layers["plans.build_py4j_calls"] > 0
    after = _package_bindings()
    # the tracer may import layer modules that were not loaded yet; every
    # binding that existed before is the same object again
    assert not [k for k in before if after[k] is not before[k]]
    assert not [k for k, v in after.items() if "Tracer._wrap" in getattr(v, "__qualname__", "")]
    assert "send_command" not in vars(client)


def test_build_time_checkpoints_are_not_build_self_time(spark, queries, tmp_path):
    layers = _traced(spark, queries, "dedup_prefix_filter_jaccard", tmp_path)
    assert layers["plans.build_exec_count"] >= 1
    assert layers["plans.build_exec_s"] > 0
    assert layers["plans.build_self_s"] <= layers["plans.build_s"] - layers["plans.build_exec_s"] + 1e-6
    assert layers["spark.exec.jobs"] >= 1
