"""Tracing for the benchmark's traced run: spans, Spark status-store readers,
a streaming progress listener, radius-join SQL metrics and kernel probes.

Everything here is read from the benchmark's side of the engine's public
entry points and from Spark's in-process status stores (which exist with the
UI disabled); no engine code is instrumented.

- Spans (name, start, end, parent id, trace id) are held in memory and written
  out once, when the run ends.
- Jobs and stages are attributed to a span by job-id range: the driver's job
  counter is read at the span's start and end, and every job id in between
  belongs to it. Unlike a job group this also catches jobs started from other
  threads, such as a streaming query's micro-batches.
- Catalyst phase times come from the query execution that the noop write
  itself plans and runs, handed over by a ``QueryExecutionListener``; they
  are recorded as a ``catalyst`` span inside ``exec.action``.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder; spans nest as the blocks they wrap do."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_trace = 0

    def new_trace(self) -> int:
        self._next_trace += 1
        return self._next_trace

    @contextmanager
    def span(self, name: str, trace_id: int = 0, **attrs):
        """A span around the block, child of the innermost open span (whose
        trace id it inherits unless given one). An exception leaving the
        block is recorded on the span and re-raised."""
        parent = self._stack[-1] if self._stack else None
        if parent is not None and not trace_id:
            trace_id = self.spans[parent]["trace"]
        s = {"id": len(self.spans), "parent": parent, "trace": trace_id, "name": name}
        s.update(attrs, start=time.perf_counter(), end=None)
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        except BaseException as e:
            s["error"] = type(e).__name__
            raise
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, parent: int, start: float, end: float, **attrs) -> None:
        """A span timed elsewhere, as a child of span ``parent``."""
        s = {"id": len(self.spans), "parent": parent, "trace": self.spans[parent]["trace"], "name": name}
        s.update(attrs, start=start, end=end)
        self.spans.append(s)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it that
        child spans cover (children of one span never overlap here)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class StatusReader:
    """Job, stage, persisted-RDD and SQL-execution data from Spark's status
    stores, serialized JVM-side with Jackson so each read is one round trip."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = jsc.dagScheduler()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def job_counter(self) -> int:
        """Id the next submitted job will get."""
        return self._dag.numTotalJobs()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the stores hold the final state of every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_stats(self, first: int, last: int, cores: int) -> dict:
        """Aggregate stage metrics over jobs ``first <= id < last``."""
        stage_ids: set[int] = set()
        n_jobs = 0
        for jid in range(first, last):
            try:
                job = self._json(self._store.job(jid))
            except Py4JJavaError:  # evicted from the store or never registered
                continue
            n_jobs += 1
            stage_ids.update(job["stageIds"])
        st = {
            "jobs": n_jobs,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
            "output_mb": 0.0,
            "stage_wall_s": 0.0,
            "starved_wall_s": 0.0,
        }
        for sid in sorted(stage_ids):
            try:
                sd = self._json(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # evicted from the store
                continue
            if sd["status"] == "SKIPPED":
                continue
            st["stages"] += 1
            st["tasks"] += sd["numTasks"]
            st["executor_run_s"] += sd["executorRunTime"] / 1e3
            st["executor_cpu_s"] += sd["executorCpuTime"] / 1e9
            st["gc_s"] += sd["jvmGcTime"] / 1e3
            st["shuffle_write_mb"] += sd["shuffleWriteBytes"] / MB
            st["shuffle_read_mb"] += sd["shuffleReadBytes"] / MB
            st["spill_mb"] += (sd["memoryBytesSpilled"] + sd["diskBytesSpilled"]) / MB
            st["input_mb"] += sd["inputBytes"] / MB
            st["output_mb"] += sd["outputBytes"] / MB
            t0, t1 = sd.get("submissionTime"), sd.get("completionTime")
            if t0 is not None and t1 is not None:
                wall = max(0, t1 - t0) / 1e3
                st["stage_wall_s"] += wall
                if sd["numTasks"] < cores:
                    st["starved_wall_s"] += wall
        return st

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}

    def rdd_mb(self, ids: set[int]) -> float:
        total = 0
        for info in self._jsc.getRDDStorageInfo():
            if info.id() in ids:
                total += info.memSize() + info.diskSize()
        return total / MB

    def sql_execution_ids(self) -> list[int]:
        n = self._sql.executionsCount()
        tail = self._sql.executionsList(max(0, n - 16), 16)
        it = tail.iterator()
        out = []
        while it.hasNext():
            out.append(it.next().executionId())
        return out

    def radius_pairs(self, execution_id: int) -> tuple[int, int] | None:
        """(candidate pairs, kept pairs) of the radius join in one SQL
        execution, or None if it has none.

        The radius predicate is the haversine ``ASIN(SQRT(...))`` compared
        against R. Binned equi-join: candidates are the equi-join's output
        rows and kept pairs the output of the filter above it holding the
        predicate. Broadcast nested loop (small grids): the predicate is
        the join condition, so kept pairs are the join's output and
        candidates the product of its two inputs' row counts.
        """
        graph = self._sql.planGraph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        nodes: dict[int, dict] = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            nd = it.next()
            rows = None
            mit = nd.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows = int(str(v.get()).replace(",", ""))
            nodes[nd.id()] = {"name": nd.name(), "desc": nd.desc(), "rows": rows}
        children: dict[int, list[int]] = {}
        eit = graph.edges().iterator()
        while eit.hasNext():
            e = eit.next()
            children.setdefault(e.toId(), []).append(e.fromId())

        def input_rows(nid: int) -> int | None:
            # nearest descendant along the first-child chain that counts rows
            while True:
                if nodes[nid]["rows"] is not None:
                    return nodes[nid]["rows"]
                kids = children.get(nid)
                if not kids:
                    return None
                nid = kids[0]

        for nid, nd in nodes.items():
            if "ASIN(SQRT" not in nd["desc"]:
                continue
            if nd["name"] == "Filter":
                kids = children.get(nid, [])
                if kids and nd["rows"] is not None:
                    cand = input_rows(kids[0])
                    if cand is not None:
                        return cand, nd["rows"]
            elif nd["name"] == "BroadcastNestedLoopJoin" and nd["rows"] is not None:
                kids = children.get(nid, [])
                sides = [input_rows(k) for k in kids]
                if len(sides) == 2 and None not in sides:
                    return sides[0] * sides[1], nd["rows"]
        return None


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress report (registered only in the
    traced run). Callbacks arrive on the callback-server thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run": str(p.runId),
            "batch": p.batchId,
            "ms": dict(p.durationMs or {}),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self._events.append(rec)

    def take(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out


def stream_stats(events: list[dict]) -> dict:
    trig = [e["ms"].get("triggerExecution", 0) for e in events]
    add = sum(e["ms"].get("addBatch", 0) for e in events)
    commit = sum(e["ms"].get("walCommit", 0) + e["ms"].get("commitOffsets", 0) for e in events)
    last: dict[str, dict] = {}
    for e in events:
        last[e["run"]] = e  # the final state of each query run
    return {
        "batches": len(events),
        "batch_s_p50": statistics.median(trig) / 1e3 if trig else 0.0,
        "add_batch_share": add / sum(trig) if sum(trig) else 0.0,
        "commit_s": commit / 1e3,
        "state_rows": sum(e["state_rows"] for e in last.values()),
        "state_mb": sum(e["state_bytes"] for e in last.values()) / MB,
    }


CATALYST_PHASES = ("analysis", "optimization", "planning")


class PlanningPhases:
    """``QueryExecutionListener`` holding the Catalyst phase summaries of
    every named query execution that finishes (actions and commands, such as
    the noop write). Callbacks arrive on the callback-server thread once the
    listener bus delivers the execution's end."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        rec = {}
        for phase in CATALYST_PHASES:
            opt = phases.get(phase)
            if opt.isDefined():
                summary = opt.get()
                rec[phase] = (summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3)
        with self._lock:
            self._events.append(rec)

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        self._record(qe)

    def take(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _kernels() -> dict[str, tuple[object, int]]:
    """Kernel name -> (column over ``spark.range``'s ``id``, rows to time).
    Row counts put each timing near a few hundred milliseconds on 4 cores."""
    from air_traffic_data_pipeline_spark.functions.geo import haversine_m
    from air_traffic_data_pipeline_spark.functions.hashes import hex4_to_int
    from air_traffic_data_pipeline_spark.functions.noise import attenuated_power
    from air_traffic_data_pipeline_spark.functions.text import shingles
    from air_traffic_data_pipeline_spark.functions.vectors import cosine

    i = F.col("id")
    lat = F.lit(47.0) + (i % 1000) * F.lit(0.0001)
    lon = F.lit(-1.9) + (i % 997) * F.lit(0.0001)
    text = F.concat_ws(" ", F.lit("spark scan"), (i % 1009).cast("string"), F.lit("join key row"))
    vec_a = F.array(*[((i + j) % 17).cast("float") for j in range(16)])
    vec_b = F.array(*[((i * 3 + j) % 13).cast("float") for j in range(16)])
    return {
        "functions.scan_ns": (i, 8_000_000),
        "functions.geo.haversine_m_ns": (
            haversine_m(lat, lon, F.lit(47.2), F.lit(-1.6)),
            4_000_000,
        ),
        "functions.noise.attenuated_power_ns": (
            attenuated_power(F.lit(60.0) + (i % 40), F.lit(100.0) + (i % 5000)),
            4_000_000,
        ),
        "functions.hashes.md5_hex4_ns": (hex4_to_int(F.md5(i.cast("string"))), 1_000_000),
        "functions.text.shingles_ns": (F.size(shingles(text)), 100_000),
        "functions.vectors.cosine_ns": (cosine(vec_a, vec_b), 100_000),
    }


def kernel_probes(spark, tracer: Tracer, cores: int, reps: int = 3) -> dict[str, float]:
    """ns per row per core of each kernel on a ``spark.range`` frame written
    to the noop sink, median of ``reps`` timings after one warm-up; every
    kernel figure is net of the bare scan's ns per row."""
    ns: dict[str, float] = {}
    for name, (col, rows) in _kernels().items():
        frame = spark.range(rows).select(col.alias("k"))
        frame.write.format("noop").mode("overwrite").save()  # codegen, JIT
        samples = []
        for _ in range(reps):
            with tracer.span("functions.probe", tracer.new_trace(), kernel=name) as span:
                frame.write.format("noop").mode("overwrite").save()
            samples.append(span["end"] - span["start"])
        ns[name] = statistics.median(samples) * 1e9 * cores / rows
    scan = ns["functions.scan_ns"]
    return {k: (v if k == "functions.scan_ns" else max(v - scan, 0.0)) for k, v in ns.items()}


# Queries whose radius join the traced run reads from SQL metrics.
RADIUS_QUERIES = ("noise_grid_flagship", "noise_grid_dense")


class TracedRun:
    """Per-query spans ``query`` -> ``plans.build`` / ``exec.action`` (->
    ``catalyst``) and the layer counters read between them. ``Run`` calls
    :meth:`execute` in place of its untraced timing. The listeners run only
    between :meth:`attach` and :meth:`detach`."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.tracer = Tracer()
        self.status = StatusReader(spark)
        self.cores = cores
        self.records: list[dict] = []  # one per query of the current pass
        self.planning = PlanningPhases()
        self.progress = StreamProgress()
        # perf_counter() - time.time(): places the tracker's wall-clock
        # phase times on the spans' clock
        self._clock = time.perf_counter() - time.time()

    def attach(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self.planning)
        self.spark.streams.addListener(self.progress)

    def detach(self) -> None:
        """Remove the listeners once the listener bus has delivered every
        event so far."""
        self.status.drain()
        self.spark._jsparkSession.listenerManager().unregister(self.planning)
        self.spark.streams.removeListener(self.progress)

    def execute(self, spark, lake: str, name: str, fn, obs) -> tuple[float, int]:
        tr, st = self.tracer, self.status
        rec = {"query": name}
        j0 = st.job_counter()
        rdds0 = st.persistent_rdds()
        with tr.span("query", tr.new_trace(), query=name, jobs=[j0, None]) as q:
            with tr.span("plans.build", jobs=[j0, None]) as b:
                df = fn(spark, lake)
            j1 = b["jobs"][1] = st.job_counter()
            pinned = st.persistent_rdds() - rdds0
            sql0 = max(st.sql_execution_ids(), default=-1)
            st.drain()
            self.planning.take()  # executions run while building the query
            with tr.span("exec.action", jobs=[j1, None]) as a:
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                    "overwrite"
                ).save()
            j2 = q["jobs"][1] = a["jobs"][1] = st.job_counter()
        latency = q["end"] - q["start"]
        n = obs.get["rows"]

        # counters, read outside the spans
        st.drain()
        planned = self.planning.take()  # the write's own query execution(s)
        for ex in planned:
            phases = [ex[p] for p in CATALYST_PHASES if p in ex]
            if phases:
                start = min(t0 for t0, _ in phases) + self._clock
                tr.add("catalyst", a["id"], start, max(t1 for _, t1 in phases) + self._clock)
        catalyst_s = 0.0
        for phase in CATALYST_PHASES:
            rec[f"catalyst.{phase}_s"] = sum(ex[phase][1] - ex[phase][0] for ex in planned if phase in ex)
            catalyst_s += rec[f"catalyst.{phase}_s"]
        rec["wall_s"] = latency
        rec["build_s"] = b["end"] - b["start"]
        rec["action_s"] = a["end"] - a["start"] - catalyst_s
        rec["build_jobs"] = st.jobs_stats(j0, j1, self.cores)["jobs"]
        rec["exec"] = st.jobs_stats(j0, j2, self.cores)
        rec["pinned"] = len(pinned)
        rec["pinned_mb"] = st.rdd_mb(pinned)
        rec["radius"] = None
        if name in RADIUS_QUERIES:
            for eid in st.sql_execution_ids():
                if eid > sql0:
                    pairs = st.radius_pairs(eid)
                    if pairs is not None:
                        rec["radius"] = pairs
        self.records.append(rec)
        return latency, n

    def take_pass(self) -> list[dict]:
        out, self.records = self.records, []
        return out


def pass_layers(recs: list[dict], stream: dict, pass_s: float, cores: int) -> dict[str, float]:
    """Per-layer figures of one traced pass."""

    def total(key):
        return sum(r[key] for r in recs)

    def ex(key):
        return sum(r["exec"][key] for r in recs)

    wall = total("wall_s")
    stage_wall = ex("stage_wall_s")
    cand = sum(r["radius"][0] for r in recs if r["radius"])
    kept = sum(r["radius"][1] for r in recs if r["radius"])
    out = {
        "plans.build_s": total("build_s"),
        "plans.build_jobs": total("build_jobs"),
        "plans.build_share": total("build_s") / pass_s if pass_s else 0.0,
        "checkpoints.pinned": total("pinned"),
        "checkpoints.mb": total("pinned_mb"),
        "catalyst.analysis_s": total("catalyst.analysis_s"),
        "catalyst.optimization_s": total("catalyst.optimization_s"),
        "catalyst.planning_s": total("catalyst.planning_s"),
        "exec.action_s": total("action_s"),
        "exec.parallel_eff": ex("executor_run_s") / (wall * cores) if wall else 0.0,
        "exec.starved_share": ex("starved_wall_s") / stage_wall if stage_wall else 0.0,
        "radius_join.candidate_pairs": cand,
        "radius_join.kept_pairs": kept,
        "radius_join.kept_ratio": kept / cand if cand else 0.0,
    }
    for key in (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "shuffle_write_mb",
        "shuffle_read_mb",
        "spill_mb",
        "input_mb",
        "output_mb",
    ):
        out[f"exec.{key}"] = ex(key)
    out.update({f"streaming.{k}": v for k, v in stream.items()})
    return out
