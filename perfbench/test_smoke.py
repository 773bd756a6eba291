"""Smoke test of the benchmark harness on a lake at a tenth of the benchmark's
size (about the engine's sf0.001). Run from the checkout root:

    python3 -m pytest perfbench/test_smoke.py -q

It checks that every end-to-end metric comes out with its unit, that an
injected failing query and an injected oracle mismatch are both counted and
named, that the traced run emits every per-layer metric, and that a run
whose JVM dies still prints its report and a result line counting the loss.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import host  # noqa: E402
import lake  # noqa: E402
import run  # noqa: E402


def _raises(spark, lake_path):
    raise RuntimeError("injected failure")


def _kills_jvm(spark, lake_path):
    proc = spark.sparkContext._gateway.proc
    proc.kill()
    proc.wait()
    return spark.range(1)


@pytest.fixture(scope="module")
def session():
    os.makedirs(run.WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="smoke-", dir=run.WORK)
    sizing = host.size_session(run_dir)
    run.redirect_stream_staging(run_dir)
    lake_path = lake.build_lake(os.path.join(run.WORK, "lakes"), seed=1, scale=0.1)
    from air_traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench-smoke")
    try:
        yield spark, lake_path, sizing["cpus"]
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_failures_and_trace(session):
    spark, lake_path, cores = session
    real = {name: (fn, sql) for name, fn, sql in run.workloads.resolve("noise")}
    real.update({name: (fn, sql) for name, fn, sql in run.workloads.resolve("streaming")})
    queries = [
        ("noise_grid_flagship", *real["noise_grid_flagship"]),
        ("noise_source_levels", *real["noise_source_levels"]),
        ("stream_tumbling_agg", *real["stream_tumbling_agg"]),
        ("injected_error", _raises, "SELECT 1 AS x"),
        ("injected_mismatch", real["noise_source_levels"][0], "SELECT 1 AS x"),
    ]
    r = harness.Run(spark, lake_path, queries)
    oc = harness.load_oracle_check(run.ROOT)
    con = harness.OnceConnection(oc.duck_connect(lake_path))
    try:
        warm_s = r.setup_pass(oc, con)
    finally:
        con.close()
    passes, per_query = r.timed_passes(0, deadline=math.inf)
    metrics, details = harness.end_to_end(1.0 + warm_s, passes, per_query, 1.0)

    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in metrics.items()
    }
    assert all(v["value"] > 0 for v in metrics.values())
    assert details["query_tail_s"]["unit"] == "s"
    assert details["query_tail_s"]["samples"] == 4 * len(passes)

    failed = {f["query"] for f in r.failures}
    assert failed == {"injected_error", "injected_mismatch"}
    assert r.checks["injected_mismatch"] == "SCHEMA_MISMATCH"
    # the erroring query fails in the setup pass and in every timed pass
    assert len(r.failures) == 2 + len(passes)
    assert r.attempted == len(queries) * (1 + len(passes))

    args = argparse.Namespace(workload="smoke", seed=1, seconds=0)
    layer, trace_details = run.traced(args, spark, r, cores, math.inf, 1.0, warm_s)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in layer.items()
    }
    assert layer["radius_join.candidate_pairs"]["value"] >= layer["radius_join.kept_pairs"]["value"] > 0
    assert layer["streaming.batches"]["value"] > 0
    assert layer["exec.jobs"]["value"] > 0
    assert layer["catalyst.planning_s"]["value"] > 0
    assert {"pass", "query", "plans.build", "catalyst", "exec.action"} <= set(trace_details["self_s"])


def test_lost_jvm_is_counted(session, monkeypatch, capsys):
    """Runs last: it kills the session's JVM. ``run.main`` reuses the
    module's session, whose JVM the only query kills."""
    spark, lake_path, _ = session
    monkeypatch.setattr(run, "build_lake", lambda seed: lake_path)
    monkeypatch.setattr(
        run.workloads, "resolve", lambda workload: [("kills_jvm", _kills_jvm, "SELECT 1 AS x")]
    )
    assert run.main(["--workload", "noise", "--seed", "1", "--seconds", "0"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 1, 1)
    assert "kills_jvm" in report["jvm_lost"]
    assert [f["query"] for f in report["failures"]] == ["kills_jvm"]
    assert report["failed_ratio"] == {"value": 1.0, "unit": "ratio"}
