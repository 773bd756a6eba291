"""Engine benchmark: one run of one workload.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload noise --seed 1 --seconds 15 --trace 0

It derives the input lake from ``--seed`` with DuckDB (cached per seed under
``.perfbench_work/lakes``), starts one Spark session sized from this machine,
runs a cold pass that warms up and checks every query's output against its
DuckDB oracle, then times passes over the workload's queries for
``--seconds``.

Output: detail lines, then as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the traced variant and reports the
per-layer metrics, writing its spans to ``.perfbench_work/traces``.

Exits non-zero without a result line if the engine cannot be imported or the
run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import host  # noqa: E402
import lake  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# A run is killed (JVM included) after this many seconds.
HARD_LIMIT_S = 175
# Timed passes stop early rather than run past this point of the run.
PASS_DEADLINE_S = 140


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def redirect_stream_staging(run_dir: str) -> None:
    """The streaming plans stage their micro-batch inputs, checkpoint
    locations and sinks under a fixed scratch root; keep it inside the run
    directory so every run starts cold and writes only inside the checkout."""
    from air_traffic_data_pipeline_spark.streaming import (
        documents_stream,
        events_stream,
        orders_stream,
    )

    root = os.path.join(run_dir, "stream")
    for mod in (events_stream, orders_stream, documents_stream):
        mod._STAGE_ROOT = root


def build_lake(seed: int) -> str:
    """The seed's lake, generated (or found cached) by a child process, so
    DuckDB's memory never counts in this process's resident memory."""
    root = os.path.join(WORK, "lakes")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "lake.py"), root, str(seed)],
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=120,
    )
    return lake.lake_path(root, seed)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        if proc.poll() is None:  # a lost JVM can no longer be asked to stop
            spark.stop()
            gateway.shutdown()
    finally:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def arm_watchdog(started: float) -> None:
    """Kill the JVM, if one was started, and exit once the run has lasted
    ``HARD_LIMIT_S`` seconds."""

    def expire(signum, frame):
        from pyspark import SparkContext

        sys.stderr.write(f"perfbench: run exceeded {HARD_LIMIT_S}s, aborting\n")
        if SparkContext._gateway is not None:
            SparkContext._gateway.proc.kill()
            SparkContext._gateway.proc.wait()
        os._exit(3)

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(max(1, int(HARD_LIMIT_S - (time.perf_counter() - started))))


def run(args, run_dir: str, started: float) -> dict:
    sizing = host.size_session(run_dir)
    queries = workloads.resolve(args.workload)  # fails here without an engine
    lake_path = build_lake(args.seed)
    redirect_stream_staging(run_dir)
    cores = sizing["cpus"]

    from air_traffic_data_pipeline_spark.session import get_spark

    probe_before, load_before = host.probe_s(), host.loadavg()
    arm_watchdog(started)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    r = harness.Run(spark, lake_path, queries)
    warm_s = 0.0
    result: dict = {"metrics": {}, "report": {}}
    rep = result["report"]
    try:
        oracle_check = harness.load_oracle_check(ROOT)
        con = harness.OnceConnection(oracle_check.duck_connect(lake_path))
        try:
            t_setup = time.perf_counter()
            warm_s = r.setup_pass(oracle_check, con)  # the cold pass is the warm-up
            rep["check_s"] = time.perf_counter() - t_setup - warm_s
        finally:
            con.close()
        deadline = started + PASS_DEADLINE_S
        if not args.trace:
            # the peak covers the timed passes only, not the lake, the
            # warm-up or the oracle check
            host.reset_hwm(jvm_pid)
            host.reset_hwm()
            passes, per_query = r.timed_passes(args.seconds, deadline)
            rep["rss_mb"] = {"jvm": host.hwm_mb(jvm_pid), "python": host.hwm_mb()}
            rss = sum(rep["rss_mb"].values())
            metrics, details = harness.end_to_end(start_s + warm_s, passes, per_query, rss)
            result["metrics"] = metrics
            rep.update(details)
        else:
            result["metrics"], rep["traced"] = traced(args, spark, r, cores, deadline, start_s, warm_s)
    except harness.JvmLost as e:
        rep["jvm_lost"] = str(e)
        result["metrics"] = {}
    finally:
        probe_after, load_after = host.probe_s(), host.loadavg()
        stop_spark(spark)
        signal.alarm(0)

    rep.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        lake=os.path.relpath(lake_path, ROOT),
        lake_rows=lake.SIZES,
        session=sizing,
        host={"probe_s": [probe_before, probe_after], "loadavg_1m": [load_before, load_after]},
        setup={"start_s": start_s, "warmup_s": warm_s},
        checks=r.checks,
        rows=r.rows,
        failures=r.failures,
        failed_ratio={"value": len(r.failures) / max(r.attempted, 1), "unit": "ratio"},
    )
    rep["run_s"] = time.perf_counter() - started
    result["attempted"], result["failed"] = r.attempted, len(r.failures)
    return result


def traced(args, spark, r, cores, deadline, start_s, warm_s):
    """The traced variant: untraced reference passes alternating with traced
    passes for ``--seconds``, then the kernel probes. Returns (per-layer
    metrics, trace details)."""
    r.one_pass("setup")  # the first pass after the cold one still runs slow
    tr = tracing.TracedRun(spark, cores)
    layers: list[dict] = []
    walls: list[float] = []
    refs: list[float] = []
    t0 = time.perf_counter()
    while True:
        # alternating, both kinds of pass see the same warm-up and host state
        refs.append(r.one_pass("timed")[0])
        tr.attach()
        r.trace = tr
        try:
            with tr.tracer.span("pass", tr.tracer.new_trace()):
                wall, _ = r.one_pass("traced")
        finally:
            r.trace = None
            tr.detach()
        walls.append(wall)
        layers.append(tracing.pass_layers(tr.take_pass(), tracing.stream_stats(tr.progress.take()), wall, cores))
        now = time.perf_counter()
        if now - t0 >= args.seconds or now + refs[-1] + wall > deadline:
            break
    ref_s = statistics.median(refs)
    kernels = tracing.kernel_probes(spark, tr.tracer, cores)

    values = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
    values.update(kernels)
    values["session.start_s"] = start_s
    values["session.warmup_s"] = warm_s
    values["trace.pass_s"] = statistics.median(walls)
    values["trace.overhead_s"] = values["trace.pass_s"] - ref_s
    units = {m["name"]: m["unit"] for m in _benchmark_spec()["per_layer"]}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    tr.tracer.write(path)
    details = {
        "file": os.path.relpath(path, ROOT),
        "passes_s": walls,
        "untraced_passes_s": refs,
        "self_s": tr.tracer.self_times(),
    }
    return metrics, details


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        result = run(args, run_dir, started)
    except Exception as e:
        sys.stderr.write(f"perfbench: run failed: {type(e).__name__}: {e}\n")
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report = result.pop("report")
    print(json.dumps({"report": report}, default=str))
    final = {
        "correct": result["failed"] == 0 and bool(result["metrics"]),
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
