"""Per-query bench profiler for the optimization rounds: for each
headline (bench=True) query — or an explicit subset — time the noop-sink
execution exactly like bench.py, and additionally record:

- the number of Spark jobs and stages the query launched (trainer-bound
  queries are job-count-bound, not data-bound, at bench SF);
- ``explain("formatted")`` of the returned frame (written under
  ``plans/<tag>/<query>.txt``);
- Exchange / BatchEvalPython / ArrowEvalPython node counts in the plan.

Run:  python tools/bench_profile.py [--tag r15_before] [query ...]

Output: one JSON line per query on stdout plus the plan files.
This tool is measurement-only; it never changes what a query computes.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    tag = "profile"
    if args and args[0] == "--tag":
        tag = args[1]
        args = args[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark_deduplication_spark.plans.inspect import explain_str
    from pyspark_deduplication_spark.queries import CATALOG
    from pyspark_deduplication_spark.session import get_spark

    spark = get_spark("bench_profile")
    sc = spark.sparkContext

    names = args or [n for n, q in CATALOG.items() if q.bench]

    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag)
    os.makedirs(plan_dir, exist_ok=True)

    # warm pass (same as bench.py default)
    if os.environ.get("BENCH_WARM", "1") != "0":
        for name in names:
            try:
                CATALOG[name].fn(spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as e:  # pragma: no cover
                print(f"WARM FAIL {name}: {e}", file=sys.stderr)

    def _clean() -> None:
        import gc

        gc.collect()
        sc._jvm.System.gc()

    tracker = sc.statusTracker()
    for name in names:
        _clean()
        jobs_before = len(tracker.getJobIdsForGroup() or [])
        sc.setJobGroup(f"profile:{name}", name)
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        df = CATALOG[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        job_ids = tracker.getJobIdsForGroup(f"profile:{name}") or []
        n_jobs = len(job_ids)
        sc.setJobGroup("idle", "idle")

        plan = explain_str(df)
        with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        counts = {
            "exchange": len(re.findall(r"\bExchange\b", plan)),
            "batch_py": len(re.findall(r"BatchEvalPython", plan)),
            "arrow_py": len(re.findall(r"ArrowEvalPython|MapInPandas|"
                                       r"MapInArrow|FlatMapGroupsInPandas",
                                       plan)),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
            "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
            "cartesian": len(re.findall(r"CartesianProduct", plan)),
        }
        print(json.dumps({"query": name, "sec": round(sec, 3),
                          "jobs": n_jobs, **counts}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
