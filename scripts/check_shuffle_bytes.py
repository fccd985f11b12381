#!/usr/bin/env python
"""Shuffle-VOLUME regression gate: run every bench-tagged query once at
sf0.1, measure its shuffle-write bytes and compare them with the
recorded baseline (scripts/shuffle_bytes_baseline.json).

The plan audit (scripts/explain_audit.py) catches structural
regressions — a query growing Exchanges. This catches VOLUME
regressions the plan shape cannot see: a filter no longer pushed below
a shuffle, a truncation (WindowGroupLimit, map-side combine) silently
disabled, a broadcast flipping to shuffle — all show up as the same
Exchange count but more bytes on the wire.

Usage:
    python scripts/check_shuffle_bytes.py            # gate
    python scripts/check_shuffle_bytes.py --update   # accept

Session: the bench tables are warmed into the engine's cache (documents
at ``tables.DOC_FANOUT`` partitions) and ``session.tune_for_working_set``
sets the AQE policy, which at sf0.1 turns AQE off and fixes the shuffle
width. Each query runs once into a ``noop`` sink under its own job
group, and its bytes are the sum of that group's stages'
``shuffleWriteBytes``. The gate is pinned to sf0.1, the scale of its
baseline.

Bytes are deterministic per (plan, SF) modulo compression jitter; the
gate flags growth beyond 1.30x + 1 MB slack. New queries and stale
baseline entries are reported as info; new queries enter the baseline
only under --update. Nothing is written unless --update is given.

The session helpers here (``warm_bench_tables``, ``run_query``,
``run_in_group``, ``release_transients``) are shared with
scale_stress.py, job_profile.py and capture_plans.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

from py4j.protocol import Py4JJavaError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weather_data_data_pipeline_spark import registry  # noqa: E402
from weather_data_data_pipeline_spark.session import (  # noqa: E402
    get_spark,
    tune_for_working_set,
)
from weather_data_data_pipeline_spark.sources.tables import (  # noqa: E402
    DOC_FANOUT,
    warm_cache,
)

SF_DIR = "/root/testdata/sf0.1"
BASELINE = os.path.join(os.path.dirname(__file__), "shuffle_bytes_baseline.json")
GROWTH = 1.30
SLACK = 1 << 20  # compression/AQE jitter floor

# Tables the bench queries touch. The driver's raw files hold a single
# parquet row group each, which a cold scan reads on ONE core; warming
# repartitions them across all cores, the layout that scales.
WARM_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings",
)


def warm_bench_tables(spark, sf_dir: str) -> bool:
    """Warm the bench tables (documents, which expand ~10× in their
    first map stage, at DOC_FANOUT partitions) and apply the
    working-set AQE policy. Returns whether AQE stays on."""
    warm_cache(spark, sf_dir, WARM_TABLES)
    warm_cache(spark, sf_dir, ("documents",), partitions=DOC_FANOUT)
    working_set = sum(
        os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        for t in (*WARM_TABLES, "documents")
    )
    return tune_for_working_set(spark, working_set)


def run_query(spark, fn, sf_dir: str) -> float:
    """Build and execute a query into a noop sink (the whole plan runs,
    nothing is collected); returns wall seconds."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def shuffle_bytes_for_group(spark, group: str) -> int:
    """Total shuffle-write bytes of every job in a job group, from the
    AppStatusStore."""
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                total += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Py4JJavaError:
                pass  # stage evicted from the store or never ran
    return total


def run_in_group(spark, fn, sf_dir: str, group: str) -> tuple[float, int]:
    """``run_query`` under job group ``group``: (wall seconds, shuffle
    bytes)."""
    spark.sparkContext.setJobGroup(group, group)
    try:
        wall = run_query(spark, fn, sf_dir)
    finally:
        spark.sparkContext.setJobGroup(None, None)
    return wall, shuffle_bytes_for_group(spark, group)


def persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(rid) for rid in jmap.keySet()}


def release_transients(spark, keep_ids: set[int]) -> None:
    """Unpersist every cached RDD not in ``keep_ids`` (query-local
    localCheckpoints of signature/index tables) and ask the driver JVM
    to collect. Left in place, that state accumulates across a long run
    of queries and shows up as multi-second GC spikes on unrelated
    queries; Spark's ContextCleaner reclaims shuffle files and
    broadcasts only after the driver GC drops their references."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet()):
        if int(rid) not in keep_ids:
            jmap.get(rid).unpersist(False)
    spark.sparkContext._jvm.System.gc()


def compare(
    now: dict[str, int], base: dict[str, int] | None, update: bool
) -> tuple[list[str], list[str]]:
    """The gate's verdict as (failures, infos). ``base`` is None when
    there is no baseline file; then nothing is accepted unless
    ``update``."""
    if base is None:
        if update:
            return [], []
        return [f"no shuffle-bytes baseline; --update accepts all "
                f"{len(now)} queries"], []
    failures, infos = [], []
    for name, b in sorted(now.items()):
        prev = base.get(name)
        if prev is None:
            if not update:  # being accepted right now — not news
                infos.append(f"{name}: new query, no shuffle-bytes baseline")
        elif b > prev * GROWTH + SLACK:
            failures.append(
                f"{name}: shuffle bytes regressed {prev:,} → {b:,} "
                f"({b / max(prev, 1):.2f}x; gate {GROWTH}x + 1MB)"
            )
    for stale in sorted(set(base) - set(now)):
        infos.append(f"{stale}: in baseline but not bench-tagged")
    return failures, infos


def measure() -> dict[str, int]:
    """Shuffle-write bytes of one run of every bench-tagged query."""
    spark = get_spark(app_name="check_shuffle_bytes")
    spark.sparkContext.setLogLevel("ERROR")
    warm_bench_tables(spark, SF_DIR)
    keep = persistent_ids(spark)  # the warmed tables stay cached
    now: dict[str, int] = {}
    for name in registry.query_names():
        q = registry.get_query(name)
        if "bench" in q.tags:
            _, now[name] = run_in_group(spark, q.fn, SF_DIR, f"shuffle_{name}")
            release_transients(spark, keep)
    spark.stop()
    return now


def main() -> int:
    args = sys.argv[1:]
    if args not in ([], ["--update"]):
        print("usage: check_shuffle_bytes.py [--update]")
        return 2
    update = bool(args)
    try:
        with open(BASELINE) as f:
            base = json.load(f)
    except FileNotFoundError:
        base = None
    now = measure()
    failures, infos = compare(now, base, update)
    if update:
        with open(BASELINE, "w") as f:
            json.dump(now, f, indent=1, sort_keys=True)
        print(f"baseline updated: {len(now)} queries")
    for i in infos:
        print(f"  i {i}")
    for w in failures:
        print(f"  ⚠ {w}")
    print(f"{len(now)} queries checked, {len(failures)} volume regressions")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
