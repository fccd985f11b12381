"""In-flight pipeline metrics via ``DataFrame.observe`` (CollectMetrics).

`operators/quality.py: constraint_report` is the standalone validation
JOB; this module is the zero-extra-pass variant: metrics accumulate ON
the production action itself (the write), so a 100 TB load emits row
counts, null rates, and freshness bounds without a second scan. This is
the mechanism behind write-audit-publish gates: observe on the write,
check the metrics, then publish/rollback.

CollectMetrics aggregates on the executors and merges per-task partials
on the driver — cost is one tiny accumulator per task, independent of
data volume.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def audit_metrics(
    count_col: str | None = None,
    null_cols: Sequence[str] = (),
    ts_col: str | None = None,
    value_col: str | None = None,
) -> list[Column]:
    """Canned metric bundle: row count, per-column null counts, event-time
    freshness bounds (min/max of ``ts_col``), and value totals."""
    out = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols:
        out.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls_{c}")
        )
    if ts_col is not None:
        out.append(F.min(ts_col).alias("min_ts"))
        out.append(F.max(ts_col).alias("max_ts"))
    if value_col is not None:
        out.append(F.sum(value_col).alias(f"sum_{value_col}"))
    if count_col is not None:
        out.append(F.count(count_col).alias(f"present_{count_col}"))
    return out


def with_observation(
    df: DataFrame, name: str, metrics: Sequence[Column]
) -> tuple[DataFrame, Observation]:
    """Attach an Observation; read ``obs.get`` AFTER the first action on
    the returned frame (it blocks until the action finishes)."""
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def observed_append(
    df: DataFrame,
    path: str,
    metrics: Sequence[Column],
    fmt: str = "parquet",
    name: str = "write_audit",
    partition_by: Sequence[str] = (),
) -> dict:
    """Write-audit: append ``df`` (partitioned by ``partition_by``) while
    collecting ``metrics`` on the same pass; returns the observed metric
    dict for the gate decision."""
    observed, obs = with_observation(df, name, metrics)
    observed.write.format(fmt).mode("append").partitionBy(*partition_by).save(path)
    return dict(obs.get)


def load_record(offered: dict, appended: dict) -> dict:
    """The metrics record of one idempotent load, from two observations
    that ride the load's own passes: ``offered`` on the pass that
    materialises the batch (``audit_metrics(ts_col=...)``), ``appended``
    on the write of the rows that survived the dedup
    (``audit_metrics()``). Rejected rows are the difference."""
    return {
        "rows_offered": offered["n_rows"],
        "rows_appended": appended["n_rows"],
        "rows_rejected": offered["n_rows"] - appended["n_rows"],
        "min_ts": offered["min_ts"],
        "max_ts": offered["max_ts"],
    }
