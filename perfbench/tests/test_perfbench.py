"""Fast checks of the benchmark itself, on an sf0.001 cut of the fixture.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
import run  # noqa: E402


def test_seed_fixes_op_order_and_csv(tmp_path):
    assert run.op_order(7, 5) == run.op_order(7, 5)
    assert sorted(run.op_order(7, 5)) == list(range(7))
    assert any(run.op_order(7, 5) != run.op_order(7, s) for s in range(6, 12))

    a, b, c = (str(tmp_path / name) for name in ("a.csv", "b.csv", "c.csv"))
    inputs.write_co2_csv(a, 3)
    inputs.write_co2_csv(b, 3)
    inputs.write_co2_csv(c, 4)
    with open(a, "rb") as fa, open(b, "rb") as fb, open(c, "rb") as fc:
        first = fa.read()
        assert first == fb.read()
        assert first != fc.read()
    with open(a, newline="") as f:
        rows = list(csv.reader(f))
    assert len(rows) == 1 + inputs.CO2_ROWS
    assert {len(r) for r in rows} == {65} and {r[-1] for r in rows} == {""}
    cells = [v for r in rows[1:] for v in r[4:64]]
    assert 0.10 < sum(v == "" for v in cells) / len(cells) < 0.20


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("perfbench"))
    run_dir = os.path.join(base, "run")
    run.isolate(run_dir)
    import workloads

    from big_data_co2_emission_analysis_spark.session import get_session

    sf_dir = inputs.stage_tables(os.path.join(ROOT, "fixtures", "sf1"), base, fraction=0.01)
    csv_path = os.path.join(base, "co2.csv")
    inputs.write_co2_csv(csv_path, 1)
    spark = get_session(
        "perfbench-tests",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    oracle = workloads.Oracle(sf_dir)
    ops = [workloads.registry_op(q, sf_dir, oracle) for q in ("pricing_summary", "streaming_hourly_counts")]
    ops.append(workloads.co2_pipeline_op(csv_path, workloads.co2_expected(csv_path)))
    yield spark, workloads.Workload("test", ops)
    run.stop_spark(spark)


def test_traced_run_reconciles_with_untraced(bench):
    import tracing

    spark, wl = bench
    order = list(range(len(wl.ops)))
    plain = run.Runner(spark, wl)
    plain_cold = plain.run_pass("cold", order, cold=True)

    tracer = tracing.Tracer()
    assert tracer.install() > 100
    progress = tracing.StreamProgress()
    spark.streams.addListener(progress.listener)
    try:
        # UDF objects and executor kernels keep their original function
        for name, module in list(sys.modules.items()):
            if name.startswith(tracing.PACKAGE):
                for obj in vars(module).values():
                    if hasattr(obj, "evalType"):
                        assert not hasattr(obj, "__wrapped__") or hasattr(obj.__wrapped__, "evalType")
        traced = run.Runner(spark, wl, tracer, progress)
        cold = traced.run_pass("cold", order, cold=True)
        warm = traced.run_pass("warm0", order)
    finally:
        spark.streams.removeListener(progress.listener)
        tracer.uninstall()

    assert not plain.errors and not plain.problems, (plain.errors, plain.problems)
    assert not traced.errors and not traced.problems, (traced.errors, traced.problems)
    assert len(plain.hashes) == len(wl.ops) and plain.hashes == traced.hashes
    for rec in cold + warm:
        assert rec["engine.job_busy_s"] + rec["engine.driver_gap_s"] == pytest.approx(rec["wall"], abs=1e-9)
        assert rec["queries.build_s"] + rec["queries.action_s"] == pytest.approx(rec["wall"], rel=0.05)
    assert sum(r["streaming.batches"] for r in warm) >= 1
    assert sum(r["co2.calls"] for r in warm) >= 1 and sum(r["ml.jobs"] for r in warm) >= 1
    spans = tracer.dump()
    assert spans and all(
        {"name", "start", "end", "parent", "op"} <= s.keys() and s["start"] <= s["end"] for s in spans
    )

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    layer = run.per_layer([warm], 1.0, 4)
    assert {k: v["unit"] for k, v in layer.items()} == {m["name"]: m["unit"] for m in declared["per_layer"]}
    e2e = run.end_to_end(1.0, plain_cold, [plain_cold], 100.0)
    assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in declared["end_to_end"]}
