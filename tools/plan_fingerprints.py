"""Normalized plan fingerprint per registered query (diagnostic).

Usage: PYTHONPATH=<tree> python tools/plan_fingerprints.py <sf_dir> <out.json>

Builds every registered query's DataFrame against <sf_dir> and records the
md5 of its NORMALIZED formatted plan (expression ids, plan ids, codegen
stage ids and absolute paths stripped). Diffing two trees' fingerprint
files yields the exact set of queries whose physical plan changed — the
mechanical input for registry._FORCE_RECHECK after a shared-helper edit
(QUERY_HASHES only tracks each query function's OWN source).

Iterative queries execute their localCheckpoint ladders during
construction; a failed build is recorded as "BUILD_ERROR: ..." so the diff
still covers it.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import re
import sys
from contextlib import redirect_stdout


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+[L]?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    # checkpoint scans name their RDD, whose id counts every RDD built
    # earlier in the process — it depends on which queries ran before
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)
    plan = re.sub(r"\[id=#\]", "", plan)
    plan = re.sub(r"file:[^\],\s]*", "file:", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics()", plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]

    sys.path.insert(0, os.environ.get("TREE", "/root/repo"))
    import __spark_entry__ as ent
    from air_traffic_data_pipeline_spark.session import get_spark
    from bench import _clear_engine_caches

    spark = get_spark("plan-fp")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    fps: dict[str, str] = {}
    for name in sorted(qs):
        _clear_engine_caches(spark)
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            fps[name] = hashlib.md5(
                normalize(buf.getvalue()).encode()
            ).hexdigest()
        except Exception as exc:  # noqa: BLE001 — record, keep going
            fps[name] = f"BUILD_ERROR: {type(exc).__name__}: {exc}"[:200]
    with open(out_path, "w") as fh:
        json.dump(fps, fh, indent=0, sort_keys=True)
    print(f"{len(fps)} fingerprints -> {out_path}")


if __name__ == "__main__":
    main()
