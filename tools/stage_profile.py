"""Per-stage runtime profile for one query (diagnostic, guide §1.1/§7.1).

Usage: python tools/stage_profile.py <sf_dir> <name> [reps]

Runs the named query in the engine session (``get_spark``), executes it
once warm + ``reps`` times timed with the noop sink, then prints every
completed stage of the timed runs sorted by executor run time, with
shuffle read/write bytes and task counts — the poor man's Stages tab,
read from the in-process status store (no UI needed).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    name = sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    import __spark_entry__ as ent
    from air_traffic_data_pipeline_spark.session import get_spark
    from bench import _clear_engine_caches

    spark = get_spark("stage-profile")
    qs = ent.queries()
    # warm codegen on the small lake
    _clear_engine_caches(spark)
    qs[name](spark, os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")).write.format("noop").mode(
        "overwrite"
    ).save()

    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)

    def stages() -> list:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        seq = store.stageList(None, False, False, no_quantiles, None)
        return [
            s
            for s in (seq.apply(i) for i in range(seq.size()))
            if s.status().toString() == "COMPLETE"
        ]

    n0 = {s.stageId() for s in stages()}
    best = None
    for _ in range(reps):
        _clear_engine_caches(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    print(f"{name}: wall min={best:.3f}s over {reps} rep(s)")

    rows = [s for s in stages() if s.stageId() not in n0]
    rows.sort(key=lambda s: -s.executorRunTime())
    tot_run = sum(s.executorRunTime() for s in rows)
    print(
        f"{len(rows)} stages, executorRunTime total {tot_run/1000:.2f}s"
        f" (all reps)\n"
        f"{'stage':>6} {'runTime':>8} {'cpuTime':>8} {'gcTime':>8} {'tasks':>5}"
        f" {'in':>9} {'shR':>9} {'shW':>9}  name"
    )
    for s in rows[:40]:
        print(
            f"{s.stageId():>6} {s.executorRunTime()/1000:>7.2f}s"
            f" {s.executorCpuTime()/1e9:>7.2f}s"
            f" {s.jvmGcTime()/1000:>7.2f}s"
            f" {s.numCompleteTasks():>5}"
            f" {s.inputBytes():>9} {s.shuffleReadBytes():>9}"
            f" {s.shuffleWriteBytes():>9}  {s.name()[:60]}"
        )


if __name__ == "__main__":
    main()
