"""Per-operator SQL metrics for one query (diagnostic, guide §7.1).

Usage: python tools/sql_profile.py <sf_dir> <name>

Runs the named query once (noop sink) in the engine session
(``get_spark``) and prints the executed-plan node metrics of that run —
operator name plus its reported timing/row metrics — read from the
in-process SQL status store (no UI needed), so stage-level ambiguity
(AQE re-use, fused stages) can be resolved to actual operators.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def main() -> None:
    sf_dir = sys.argv[1]
    name = sys.argv[2]

    import __spark_entry__ as ent
    from air_traffic_data_pipeline_spark.session import get_spark
    from bench import _clear_engine_caches

    spark = get_spark("sql-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    _clear_engine_caches(spark)
    qs[name](spark, os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")).write.format("noop").mode(
        "overwrite"
    ).save()
    _clear_engine_caches(spark)
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    store = spark._jsparkSession.sharedState().statusStore()
    # the status listener records an execution's end asynchronously: give
    # the timed run (the last execution) a few seconds to be marked done
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and not _seq(store.executionsList())[-1].completionTime().isDefined():
        time.sleep(0.1)
    done = [
        e
        for e in _seq(store.executionsList())
        if e.completionTime().isDefined()
        and not (e.errorMessage().isDefined() and e.errorMessage().get())
    ]
    if not done:
        print("no COMPLETED SQL execution found")
        return
    ex = done[-1]
    eid = ex.executionId()
    nodes = _seq(store.planGraph(eid).allNodes())
    duration = ex.completionTime().get().getTime() - ex.submissionTime()
    print(f"duration={duration}ms nodes={len(nodes)}")
    values = {}
    it = store.executionMetrics(eid).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = kv._2().removeprefix("\n")
    rows = []
    for node in nodes:
        mets = {
            m.name().strip(): values[m.accumulatorId()]
            for m in _seq(node.metrics())
            if m.accumulatorId() in values
        }
        t = 0.0
        for k, v in mets.items():
            if "total time" in k or "time in" in k or k == "time to build hash map":
                # values like "341 ms", or "total (min, med, max ...)" with
                # the total leading the next line: "2.1 s (0.1 s, ...)"
                first = v.splitlines()[-1].split("(")[0].strip()
                try:
                    num, unit = first.split()[:2]
                    mult = {"ms": 1, "s": 1000, "m": 60000, "us": 0.001}.get(
                        unit.rstrip(","), 0
                    )
                    t += float(num.replace(",", "")) * mult
                except ValueError:
                    pass
        rows.append((t, node.id(), node.name().strip(), mets))
    rows.sort(reverse=True)
    for t, nid, nname, mets in rows[:25]:
        out = {k: v.split("\n")[0] for k, v in mets.items() if "rows" in k or "time" in k}
        print(f"[{nid:>3}] {t/1000:7.2f}s {nname[:40]:40s} {out}")


if __name__ == "__main__":
    main()
