#!/usr/bin/env python
"""Capture `.explain("formatted")` output for named queries to files.

Usage: python scripts/capture_plans.py <outdir> <suffix> <query> [...]
Writes <outdir>/<query>_<suffix>.txt for each query, built at
$SPARK_GRAFT_SF_DIR (default sf0.1) under the shuffle gate's session
(scripts/check_shuffle_bytes.py: warmed bench tables, stats-tuned AQE
policy), so the plans match what that gate measures.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_shuffle_bytes import warm_bench_tables  # noqa: E402
from weather_data_data_pipeline_spark import registry  # noqa: E402
from weather_data_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    warm_bench_tables(spark, SF_DIR)
    for name in names:
        fn = registry.get_query(name).fn
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
