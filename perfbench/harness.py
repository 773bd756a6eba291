"""One benchmark run of one workload on one Spark session.

Phases, in order:

1. ``setup``: the session start plus one cold pass over the workload (JVM
   start, codegen, JIT) -- what a user pays before the first results. The
   cold pass also checks every output: after a query's timed execution its
   cached rows are compared with its DuckDB oracle through
   ``tools/oracle_check.py``, outside the timing.
2. ``timed``: passes over the query list until ``seconds`` have elapsed (and
   at least ``MIN_PASSES``). Each query is timed from the registry call to
   the end of a full-row ``write.format("noop")``; engine caches are cleared
   before every execution.

Every execution counts as attempted; an exception, a lost JVM, an oracle
mismatch or a row count differing from the query's other executions counts
as failed, names the query, and the run goes on.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from pyspark.sql import Observation, functions as F

# Timed passes per run, at least; the run's pass time is their median. The
# first timed pass after the cold one still runs 15-45 % slower than the
# rest; the median leaves it out.
MIN_PASSES = 3
# Any failure status of tools/oracle_check.compare other than these fails.
PASS_STATUSES = ("OK", "FLOAT_NEAR")


def load_oracle_check(root: str):
    """``tools/oracle_check.py`` of the checkout under test, as a module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OnceConnection:
    """A DuckDB connection whose ``sql(query)`` evaluates each query once.

    ``oracle_check.compare`` runs the oracle SQL twice (values, then dtypes);
    the first call stores the result in a temp table with the same column
    names and types and every later call reads it back."""

    def __init__(self, con) -> None:
        self._con = con
        self._tables: dict[str, str] = {}

    def sql(self, query: str):
        table = self._tables.get(query)
        if table is None:
            table = f"oracle_{len(self._tables)}"
            self._con.execute(f"CREATE TEMP TABLE {table} AS {query}")
            self._tables[query] = table
        return self._con.sql(f"SELECT * FROM {table}")

    def close(self) -> None:
        self._con.close()


def clear_engine_caches(spark) -> None:
    from air_traffic_data_pipeline_spark.operators import checkpoints
    from air_traffic_data_pipeline_spark.plans import llm

    llm.clear_caches()
    checkpoints.clear_all(spark)


def tail(samples: list[float]) -> dict:
    """Highest percentile of ``samples`` that still has at least ten samples
    above it (the eleventh largest); the largest when there are ten or fewer."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 10 if n > 10 else n  # 1-based rank of the reported sample
    return {"value": xs[k - 1], "unit": "s", "percentile": 100.0 * k / n, "samples": n, "above": n - k}


class JvmLost(RuntimeError):
    pass


class Run:
    """Executes a workload's queries and records latencies and failures."""

    def __init__(self, spark, lake: str, queries: list) -> None:
        self.spark = spark
        self.lake = lake
        self.queries = queries
        self.trace = None  # a tracing.TracedRun while the traced passes run
        self.attempted = 0
        self.failures: list[dict] = []
        self.rows: dict[str, int] = {}
        self.checks: dict[str, str] = {}

    # -- failure bookkeeping ---------------------------------------------
    def _jvm_alive(self) -> bool:
        proc = self.spark.sparkContext._gateway.proc
        return proc.poll() is None

    def _fail(self, name: str, phase: str, why: str) -> None:
        self.failures.append({"query": name, "phase": phase, "error": why[:300]})
        if not self._jvm_alive():
            raise JvmLost(f"JVM lost during {name} ({phase})")

    def _rows_agree(self, name: str, phase: str, n: int) -> bool:
        """Record ``n`` rows for ``name``; a count differing from an earlier
        execution's fails this one."""
        expected = self.rows.setdefault(name, n)
        if n != expected:
            self._fail(name, phase, f"row count {n} differs from earlier {expected}")
        return n == expected

    # -- executions --------------------------------------------------------
    def execute(self, name: str, fn, phase: str) -> float | None:
        """One timed execution; returns its latency, or None if it failed."""
        clear_engine_caches(self.spark)
        self.attempted += 1
        obs = Observation()
        try:
            if self.trace is not None:
                latency, n = self.trace.execute(self.spark, self.lake, name, fn, obs)
            else:
                t0 = time.perf_counter()
                df = fn(self.spark, self.lake)
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                    "overwrite"
                ).save()
                latency = time.perf_counter() - t0
                n = obs.get["rows"]
        except Exception as e:  # a failing query is recorded; the run goes on
            self._fail(name, phase, f"{type(e).__name__}: {e}")
            return None
        return latency if self._rows_agree(name, phase, n) else None

    def setup_pass(self, oracle_check, con) -> float:
        """The cold pass, which is also the output check: each query is built
        and fully materialized (persist + count) inside the timing, then its
        cached rows are compared with its DuckDB oracle outside it. Returns
        the summed execution time."""
        total = 0.0
        for name, fn, sql in self.queries:
            clear_engine_caches(self.spark)
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = fn(self.spark, self.lake).persist()
                n = df.count()
                total += time.perf_counter() - t0
                status, notes, _, _ = oracle_check.compare(name, df, con, sql)
            except Exception as e:  # a failing query is recorded; the run goes on
                self.checks[name] = "ERROR"
                self._fail(name, "setup", f"{type(e).__name__}: {e}")
                continue
            self.checks[name] = status
            if status not in PASS_STATUSES:
                self._fail(name, "setup", f"{status}: {notes}")
            else:
                self._rows_agree(name, "setup", n)
        return total

    def one_pass(self, phase: str) -> tuple[float, dict[str, float]]:
        t0 = time.perf_counter()
        lat = {}
        for name, fn, _ in self.queries:
            x = self.execute(name, fn, phase)
            if x is not None:
                lat[name] = x
        return time.perf_counter() - t0, lat

    def timed_passes(self, seconds: float, deadline: float) -> tuple[list[float], dict[str, list[float]]]:
        """Passes until ``seconds`` have elapsed and ``MIN_PASSES`` are done,
        or until ``deadline`` (a perf_counter value) would be overrun."""
        passes: list[float] = []
        per_query: dict[str, list[float]] = {name: [] for name, _, _ in self.queries}
        t0 = time.perf_counter()
        while True:
            wall, lat = self.one_pass("timed")
            passes.append(wall)
            for name, x in lat.items():
                per_query[name].append(x)
            now = time.perf_counter()
            if now - t0 >= seconds and len(passes) >= MIN_PASSES:
                break
            if now + wall > deadline:
                break
        return passes, per_query


def end_to_end(setup_s: float, passes: list[float], per_query: dict[str, list[float]], rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics of a run, plus the details they come from.

    ``query_tail_s`` is a detail, not a metric: a run's 12-20 latencies put
    the percentile with ten samples above it at the 17th-50th, on whichever
    query sits at that rank; over ten-run sets of ``noise`` it spread by
    0.21 to 0.63 of its median, past the largest bound allowed (0.25)."""
    medians = {q: statistics.median(v) for q, v in per_query.items() if v}
    every = [x for v in per_query.values() for x in v]
    geo = math.exp(sum(math.log(m) for m in medians.values()) / len(medians)) if medians else 0.0
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(passes), "unit": "s"},
        "query_geomean_s": {"value": geo, "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }
    details = {"query_median_s": medians, "query_tail_s": tail(every) if every else None, "passes_s": passes}
    return metrics, details
