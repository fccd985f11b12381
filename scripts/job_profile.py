#!/usr/bin/env python
"""Per-query job/stage breakdown under the shuffle gate's session
(scripts/check_shuffle_bytes.py: warmed bench tables, working-set AQE
policy): how many Spark jobs a query launches, each job's wall time and
stage shape, plus the Python-side plan-construction time (fn call) vs
execution time.

Guide §1 ("measure first"): for sub-second local queries the job-launch
floor (~0.05-0.15 s/job) and eager-materialization jobs (localCheckpoint,
count, collect) often dominate — this splits a query's wall into those
components so shape work targets the right one.

Usage: python scripts/job_profile.py <query> [<query>...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_shuffle_bytes import (  # noqa: E402
    persistent_ids,
    release_transients,
    run_query,
    warm_bench_tables,
)
from weather_data_data_pipeline_spark import registry  # noqa: E402
from weather_data_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(app_name="job_profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_bench_tables(spark, SF_DIR)
    keep = persistent_ids(spark)
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()

    for name in names:
        fn = registry.get_query(name).fn
        # JIT warmup: a plan shape's generated code runs interpreted
        # until C2 finishes, which takes several executions
        for _ in range(3):
            run_query(spark, fn, SF_DIR)
            release_transients(spark, keep)
        group = f"profile_{name}"
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t_build = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        t_total = time.perf_counter() - t0
        spark.sparkContext.setJobGroup(None, None)
        jobs = []
        for j in sorted(st.getJobIdsForGroup(group)):
            info = st.getJobInfo(j)
            if info is None:
                continue
            jdata = store.job(j)
            dur = None
            try:
                sub = jdata.submissionTime().get()
                comp = jdata.completionTime().get()
                dur = (comp.toInstant().toEpochMilli()
                       - sub.toInstant().toEpochMilli()) / 1000.0
            except Exception:
                pass
            n_tasks = jdata.numTasks()
            stages = list(info.stageIds)
            jobs.append({
                "job": j, "sec": dur, "tasks": n_tasks,
                "stages": len(stages),
            })
        print(json.dumps({
            "query": name,
            "build_sec": round(t_build, 3),
            "exec_sec": round(t_total - t_build, 3),
            "total_sec": round(t_total, 3),
            "n_jobs": len(jobs),
            "jobs": jobs,
        }))
        release_transients(spark, keep)
    spark.stop()


if __name__ == "__main__":
    main()
