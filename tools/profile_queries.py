"""Per-query phase profiler (optimization round tooling, guide §1).

For each named query measure, separately:
  build_s    Python-side DataFrame construction (py4j + catalog reads)
  plan_s     analysis + optimization + physical planning (explain)
  exec_s     noop-sink execution, best of N (guide §1.4)
  jobs/stages/tasks  counts from the status tracker for the best run

Usage: python tools/profile_queries.py query [query ...] [--repeat=N]
Writes one JSON line per query to stdout; labels jobs (guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not names:
        sys.exit(__doc__)
    repeat = 3
    for a in sys.argv[1:]:
        if a.startswith("--repeat"):
            repeat = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from cardano_spark.session import get_spark

    spark = get_spark("profile")
    sc = spark.sparkContext
    qs = entrymod.queries()

    # warm JVM/codegen path once
    qs[names[0]](spark, sf_dir).write.mode("overwrite").format("noop").save()

    for name in names:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        build_s = time.time() - t0

        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        t0 = time.time()
        df._jdf.queryExecution().explainString(mode)
        plan_s = time.time() - t0

        best, best_meta = None, {}
        for i in range(repeat):
            sc.setJobDescription(f"profile:{name}#{i}")
            tracker = sc.statusTracker()
            before_ids = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.time()
            dfr = qs[name](spark, sf_dir)
            dfr.write.mode("overwrite").format("noop").save()
            dt = time.time() - t0
            after = [
                j for j in (sc.statusTracker().getJobIdsForGroup(None) or [])
                if j not in before_ids
            ]
            n_stages = n_tasks = 0
            for jid in after:
                ji = sc.statusTracker().getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = sc.statusTracker().getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        n_stages += 1
                        n_tasks += si.numTasks
            if best is None or dt < best:
                best = dt
                best_meta = {
                    "jobs": len(after), "stages": n_stages, "tasks": n_tasks
                }
            sc.setJobDescription(None)
        print(
            json.dumps(
                {
                    "q": name,
                    "build_s": round(build_s, 3),
                    "plan_s": round(plan_s, 3),
                    "exec_best_s": round(best, 3),
                    **best_meta,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
