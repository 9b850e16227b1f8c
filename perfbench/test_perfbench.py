"""Fast tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import statistics
import sys
from argparse import Namespace
from concurrent.futures import Future

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import run  # noqa: E402
from tracing import Span, Tracer, self_times, union_length  # noqa: E402

from urban_traffic_data_lake_project_spark.plans.pipeline import LayerPaths  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_run(workload: str, trace: int) -> run.Run:
    """A Run with one set-up and one pass recorded, without Spark."""
    r = run.Run(Namespace(workload=workload, seed=1, trace=trace), "/nonexistent")
    r.setup_times = {"setup_s": 1.0, "session.get_spark_s": 0.6, "session.warmup_s": 0.3,
                     "sources.load_table_s": 0.1}
    root = Span(0, "pass", "bench", 0.0, 4.0, None, None)
    if trace:
        r.tracer.spans.append(root)
    names = run.PIPELINE_STAGES if workload == "medallion_pipeline" else run.ARROW_QUERIES
    ops = [{"name": n, "ok": True, "latency": 1.0, "counters": None, "build_s": 0.5, "exec_s": 0.5}
           for n in names]
    r.passes.append({"wall": 4.0, "ops": ops, "root": root, "peak_rss_mb": 100.0})
    r.attempted = len(ops)
    return r


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_emitted_metrics_match_benchmark_json(workload):
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert set(_fake_run(workload, 0).end_to_end()) == set(e2e)
    assert set(_fake_run(workload, 1).per_layer()) == set(layer)


def test_pass_order_reproduces_per_seed():
    a = run.pass_order(run.ARROW_QUERIES, 7, 1)
    assert a == run.pass_order(run.ARROW_QUERIES, 7, 1)
    assert sorted(a) == sorted(run.ARROW_QUERIES)
    assert a != run.pass_order(run.ARROW_QUERIES, 8, 1)
    assert a != run.pass_order(run.ARROW_QUERIES, 7, 2)


def test_medallion_latency_is_the_whole_pipeline_run():
    got = _fake_run("medallion_pipeline", 0).end_to_end()
    assert got["latency_p50_s"] == got["pass_s"] == 4.0
    assert _fake_run("arrow_operator_queries", 0).end_to_end()["latency_p50_s"] == 1.0


def test_median_hd():
    assert run.median_hd([2.5]) == 2.5
    assert run.median_hd(list(range(1, 11))) == pytest.approx(5.5)
    # one query slowing near the middle moves it less than the sample median
    base = [0.6, 1.1, 1.1, 1.2, 1.4, 1.5, 2.1, 2.3, 2.7, 3.9]
    slow = [0.6, 1.1, 1.1, 1.2, 2.0, 1.5, 2.1, 2.3, 2.7, 3.9]
    moved = run.median_hd(slow) - run.median_hd(base)
    assert 0 < moved < statistics.median(slow) - statistics.median(base)


def _bootstrap_result(**overrides) -> pd.DataFrame:
    rows = {c: {"column_name": c, "mean_estimate": 10.0, "std_estimate": 0.5,
                "ci_lower_95": 9.0, "ci_upper_95": 11.0} for c in checks.BOOTSTRAP_COLS}
    for c, fields in overrides.items():
        rows[c].update(fields)
    return pd.DataFrame(list(rows.values()))


@pytest.mark.parametrize("bad", [
    {},
    {"l_tax": {"mean_estimate": 10.2}},  # 0.2 off the sample mean, tolerance ~0.08
    {"l_quantity": {"ci_lower_95": 10.5}},  # CI misses the estimate
])
def test_bootstrap_invariants(bad):
    means = pd.DataFrame({c: [10.0] for c in checks.BOOTSTRAP_COLS})
    problems = checks.query_problems("bootstrap_ci", _bootstrap_result(**bad), means)
    assert bool(problems) == bool(bad)
    assert not bad or next(iter(bad)) in problems[0]
    short = _bootstrap_result().iloc[:-1]
    assert checks.query_problems("bootstrap_ci", short, means)


def test_self_time_on_synthetic_span_tree():
    spans = [
        Span(0, "pass", "bench", 0.0, 10.0, None, None),
        Span(1, "silver", "pipeline", 1.0, 7.0, 0, 1),
        Span(2, "iqr_clip", "operators", 2.0, 4.0, 1, 1),
        Span(3, "median_fill", "operators", 3.0, 5.0, 1, 1),  # overlaps its sibling
        Span(4, "gold", "pipeline", 7.0, 9.5, 0, 2),
        Span(5, "fit", "operators", 9.0, 11.0, 4, 2),  # runs past its parent's end
    ]
    got = self_times(spans)
    assert got["bench"] == pytest.approx(10.0 - 8.5)
    assert got["pipeline"] == pytest.approx((6.0 - 3.0) + (2.5 - 0.5))
    assert got["operators"] == pytest.approx(2.0 + 2.0 + 2.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_parents_and_wrappers():
    from urban_traffic_data_lake_project_spark.operators import cleaning

    orig = cleaning.mode_fill
    tr = Tracer(True)
    tr.install_operator_wrappers()
    try:
        assert cleaning.mode_fill is not orig
        with tr.span("pass", "bench"), tr.span("silver", "pipeline", op_id=3):
            with pytest.raises(Exception):
                cleaning.mode_fill(None, ["x"])
    finally:
        tr.uninstall()
    assert cleaning.mode_fill is orig
    p, s, op = tr.spans
    assert (s.parent, op.parent, op.op_id, op.name) == (p.id, s.id, 3, "operators.cleaning.mode_fill")
    assert not Tracer(False).spans


def _write(path, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _small_lake(base: str, dup_key: bool = False, null_numeric: bool = False,
                lose_key: bool = False) -> LayerPaths:
    """A few-hundred-row lake shaped like one pipeline pass's output."""
    paths = LayerPaths(base)
    n = 300
    for table, (key, numerics) in checks.SILVER_KEYS.items():
        cols = {key: list(range(n))}
        if dup_key:
            cols[key][1] = 0
        for c in numerics:
            cols[c] = [1.0] * n
        if null_numeric:
            cols[numerics[0]][5] = None
        _write(os.path.join(paths.silver, table), pa.table(cols))
    merged = list(range(n - 1 if lose_key else n))
    _write(os.path.join(paths.silver, "merged_data"), pa.table({"traffic_id": merged}))
    for table, cols in checks.GOLD_COLUMNS.items():
        _write(os.path.join(paths.gold, table), pa.table({c: [1.0] for c in sorted(cols)}))
    return paths


def test_pipeline_invariants_pass_on_a_clean_lake(tmp_path):
    assert checks.pipeline_problems(_small_lake(str(tmp_path))) == {"silver": [], "merge": [], "gold": []}


@pytest.mark.parametrize("fault,stage", [
    ({"dup_key": True}, "silver"),
    ({"null_numeric": True}, "silver"),
    ({"lose_key": True}, "merge"),
])
def test_pipeline_invariants_catch_a_wrong_result(tmp_path, fault, stage):
    problems = checks.pipeline_problems(_small_lake(str(tmp_path), **fault))
    assert problems[stage] and not any(v for k, v in problems.items() if k != stage)


@pytest.fixture(scope="module")
def spark_run(tmp_path_factory):
    """A Run on a live local session over the benchmark's query tables."""
    from urban_traffic_data_lake_project_spark.session import get_spark

    work = str(tmp_path_factory.mktemp("perfbench"))
    r = run.Run(Namespace(workload="arrow_operator_queries", seed=5, trace=0), work)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, old) if p)
    r.spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield r
    run.shutdown(r.spark)
    if old is None:
        del os.environ["PYTHONPATH"]
    else:
        os.environ["PYTHONPATH"] = old


def _done(value) -> Future:
    f = Future()
    f.set_result(value)
    return f


def test_injected_wrong_result_raises_error_rate(spark_run):
    from urban_traffic_data_lake_project_spark.queries import REGISTRY
    from urban_traffic_data_lake_project_spark.testing import duckdb_con

    name = "sketch_quantile_kmv"
    con = duckdb_con(spark_run.lake)
    try:
        right = con.execute(REGISTRY[name].oracle).df()
    finally:
        con.close()
    good, bad, mc = (spark_run.query(q, i, collect=True)
                     for i, q in enumerate((name, name, "mc_scenarios")))
    bad["result"] = bad["result"].iloc[:-1]
    spark_run.check_queries([good, bad, mc], {name: _done(right), "mc_scenarios": _done(None)})
    assert [good["ok"], bad["ok"], mc["ok"]] == [True, False, True]  # mc_scenarios: rows only
    assert (spark_run.attempted, spark_run.failed) == (3, 1)
    spark_run.setup_times = {"setup_s": 1.0}
    spark_run.passes.append({"wall": 1.0, "ops": [good, bad, mc], "peak_rss_mb": 1.0})
    assert spark_run.end_to_end()["success_rate"] == pytest.approx(2 / 3)
