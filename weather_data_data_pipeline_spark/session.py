"""SparkSession factory tuned for the engine.

Scale posture: these configs are the local[*] analogues of what we would set
on a 1000-executor cluster — AQE for runtime re-planning and skew joins,
sane shuffle partitioning, Arrow for any pandas interop, UTC everywhere so
timestamp semantics are deployment-independent.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

from weather_data_data_pipeline_spark import py4j_fastpath

# Driver-side reflection cache for py4j (see py4j_fastpath module doc):
# installed at import so every entry path — perfbench, the driver's own
# harness importing __spark_entry__, scripts — builds plans with one
# round trip per F.* call instead of three. Pure process-local lookup
# caching of immutable JVM handles; no Spark semantics change.
py4j_fastpath.install()

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# Parent dir of this package — Python workers unpickle UDF closures by
# re-importing the module, so executors need it on PYTHONPATH even when
# the driver process was launched from elsewhere. (Cluster deploys ship
# the package via --py-files / pip instead.)
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def _ensure_worker_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pp + os.pathsep if pp else "") + _PKG_PARENT


def get_spark(
    app_name: str = "weather_data_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    _ensure_worker_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {
        # Runtime adaptivity: coalesce post-shuffle partitions, split skewed
        # ones, convert to broadcast joins when runtime stats allow.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Arrow for every pandas/Pandas-UDF boundary crossing.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Cost-based optimization: consume ANALYZE TABLE stats
        # (sources/catalog.py:analyze_tables) for join reordering and
        # build-side selection at plan time; complements AQE's runtime
        # re-planning.
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        # Deterministic, deployment-independent timestamp semantics.
        "spark.sql.session.timeZone": "UTC",
        # The driver-generated events table stores TIMESTAMP(NANOS) which
        # vanilla Spark rejects; read as long and normalize in tables.py.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Local-mode memory headroom; harmless on a cluster submit.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        # Python DataSource filter pushdown (weatherapi source prunes
        # fetched cities from query predicates).
        "spark.sql.python.filterPushdown.enabled": "true",
        # Disable PySpark's per-API-call call-site capture (DataFrame
        # debugging context): it adds 2+ py4j round-trips to EVERY
        # Column/DataFrame operation — measured ~60% of plan-construction
        # wall time (0.58s of 0.96s over 5 builds of TPC-H Q1). Error
        # messages lose the Python call-site line, nothing else; turn it
        # back on when debugging a plan, not in production paths.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # worker_daemon: 0.28 → 0.05 s of worker CPU per task (CPython 3.11).
        "spark.python.daemon.module": "weather_data_data_pipeline_spark.worker_daemon",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Below this working-set size, AQE's stage-by-stage materialize/re-plan
# loop is pure latency (measured 70-190 ms per query at sf0.1, 20-35% of
# sub-second queries) with nothing to adapt: every shuffle is already
# tiny and skew-free. Above it, AQE earns its keep (coalescing, skew
# splits, runtime broadcast flips) and stays on — the 100 TB posture.
SMALL_WORKING_SET_BYTES = 4 << 30


def tune_for_working_set(spark: SparkSession, working_set_bytes: int) -> bool:
    """Stats-driven AQE policy: disable adaptive re-planning when the
    ENTIRE known working set is small enough that no runtime re-plan can
    pay for its own latency; keep it on otherwise. Returns whether AQE
    is enabled after tuning. This is the same compile-time-stats
    reasoning a cost-based optimizer applies — at 100 TB the branch
    always keeps AQE on."""
    enabled = working_set_bytes >= SMALL_WORKING_SET_BYTES
    spark.conf.set("spark.sql.adaptive.enabled", str(enabled).lower())
    if not enabled:
        # Without AQE coalescing, size the shuffle by bytes-per-partition
        # (~64 MB target) instead of a per-core constant: a tiny shuffle
        # split 32 ways is 32 tasks of scheduling overhead. Floor of 8
        # keeps the join/agg probe sides spread. (Measured at sf0.1:
        # total 6.3s at 8 partitions vs 7.2s at 32.)
        cpus = spark.sparkContext.defaultParallelism
        parts = max(8, min(cpus, working_set_bytes // (64 << 20) or 1))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return enabled


def apply_runtime_conf(spark: SparkSession) -> None:
    """Set the runtime-mutable engine confs on an externally-created session.

    The correctness driver hands us its own SparkSession; queries must not
    depend on that session having been built by :func:`get_spark`. Only
    runtime-settable confs belong here. Such a session keeps pyspark's
    default Python worker daemon, because ``spark.python.daemon.module``
    is static: its workers re-read ``pyspark.zip`` and the Spark jar on
    every task (slower, not wrong).
    """
    _ensure_worker_pythonpath()  # before the first python worker spawns
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        # See get_spark: call-site capture costs py4j round-trips per op.
        # pyspark caches the flag on first use, so also reset the cache.
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
        import pyspark.errors.utils as _peu

        _peu._enable_debugging_cache = None
    except Exception:
        pass
    # Needed before any read of the nanos-timestamp events table.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static in some builds; tables.py has a fallback
