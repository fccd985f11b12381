"""Unit tests for distributed global ranking (operators/ranking.py):
global row_number must equal the single-partition window formulation,
partition-count independent; ntile must match SQL ntile semantics."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from weather_data_data_pipeline_spark.operators.ranking import (
    global_ntile,
    global_row_number,
)


def _df(spark, n: int, parts: int):
    # values deliberately collide (v = i % 7) so the unique id tie-break
    # is load-bearing; scattered input partitioning exercises the
    # range-repartition step.
    rows = [(i, float(i % 7)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v double").repartition(parts)


@contextmanager
def _aqe(spark, enabled: str):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", enabled)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


# (3, 2, 8) leaves at least five of the eight range partitions empty.
@pytest.mark.parametrize("n,parts,rank_parts", [(40, 1, 4), (40, 5, 8), (3, 2, 8)])
def test_global_row_number_matches_window(spark, n, parts, rank_parts):
    df = _df(spark, n, parts)
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["rank"]
        for r in df.select("id", F.row_number().over(w).alias("rank")).collect()
    }
    for aqe in ("false", "true"):
        with _aqe(spark, aqe):
            got = {
                r["id"]: r["rank"]
                for r in global_row_number(
                    df, ["v", "id"], num_partitions=rank_parts
                ).collect()
            }
        assert got == want, f"AQE {aqe}"


# (7, 10): fewer rows than buckets, and some of the six range partitions empty.
@pytest.mark.parametrize("n,k", [(40, 10), (43, 10), (7, 10), (10, 3)])
def test_global_ntile_matches_window(spark, n, k):
    df = _df(spark, n, parts=4)
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: r["bucket"]
        for r in df.select(
            "id", F.ntile(k).over(w).cast("long").alias("bucket")
        ).collect()
    }
    for aqe in ("false", "true"):
        with _aqe(spark, aqe):
            got = {
                r["id"]: r["bucket"]
                for r in global_ntile(df, ["v", "id"], k, num_partitions=6).collect()
            }
        assert got == want, f"AQE {aqe}"


def _ntile4(df, sort_cols, num_partitions):
    return global_ntile(df, sort_cols, 4, num_partitions=num_partitions)


@pytest.mark.parametrize(
    "rank", [global_row_number, _ntile4], ids=["row_number", "ntile"]
)
@pytest.mark.parametrize("aqe", ["false", "true"], ids=["aqe_off", "aqe_on"])
def test_global_rank_starts_no_python_worker(spark, rank, aqe):
    with _aqe(spark, aqe):
        out = rank(_df(spark, 40, 3), ["v", "id"], num_partitions=4)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert not any(
        node in plan for node in ("MapInPandas", "PythonMapInArrow", "EvalPython")
    ), plan


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_global_rank_column_is_non_nullable_long(spark, ansi):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = _df(spark, 10, 2)
        ranked = global_row_number(df, ["v", "id"], num_partitions=3)
        assert ranked.schema["rank"] == StructField("rank", LongType(), False)
        assert ranked.schema.fields[:-1] == df.schema.fields
        bucketed = _ntile4(df, ["v", "id"], num_partitions=3)
        assert bucketed.schema["bucket"].dataType == LongType()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_global_row_number_is_dense_and_unique(spark):
    df = _df(spark, 101, parts=7)
    ranks = [
        r["rank"]
        for r in global_row_number(df, ["v", "id"], num_partitions=9).collect()
    ]
    assert sorted(ranks) == list(range(1, 102))


def test_global_running_sum_matches_window(spark):
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 37 + 1).alias("v")
    )
    got = {
        r["id"]: r["rt"]
        for r in global_running_sum(
            df, ["id"], "v", out_col="rt", num_partitions=5
        ).collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["rt"]
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_running_sum_carries_across_arrow_batches(spark):
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(100).select(F.col("id"), F.lit(1).alias("v"))
        out = global_running_sum(
            df, ["id"], "v", out_col="rt", num_partitions=2
        ).collect()
        # With v≡1 the running sum must equal id+1 — any per-batch reset
        # of the carry would show as a sawtooth.
        assert all(r["rt"] == r["id"] + 1 for r in out)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_global_running_sum_null_values_sql_semantics(spark):
    """NULLs are skipped (SQL SUM-over-window): a NULL row receives the
    running sum of preceding non-nulls, leading NULLs yield NULL, and a
    batch/partition ending in NULL must not poison the carry."""
    from weather_data_data_pipeline_spark.operators.ranking import (
        global_running_sum,
    )

    rows = [(0, None), (1, 10), (2, None), (3, 5), (4, None), (5, None), (6, 2)]
    df = spark.createDataFrame(rows, "id long, v long")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = {
            r["id"]: r["rt"]
            for r in global_running_sum(
                df, ["id"], "v", out_col="rt", num_partitions=2
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # window twin: sum(v) over (order by id rows unbounded preceding)
    from pyspark.sql import Window

    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: r["rt"]
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == want
    assert got[0] is None and got[2] == 10 and got[6] == 17


def test_grouped_topk_equals_plain_window_and_prunes_shuffle(spark):
    from weather_data_data_pipeline_spark.operators.ranking import grouped_topk
    from weather_data_data_pipeline_spark.sources.tables import load
    from tests.conftest import SF_DIR
    from pyspark.sql import Window

    ev = load(spark, SF_DIR, "events").repartition(8)
    got = grouped_topk(
        ev, ["user_id"], "value", k=3, tiebreak_cols=["event_id"]
    ).select("user_id", "event_id", "value", "rn")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    want = (
        ev.withColumn("rn", F.row_number().over(w).cast("int"))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # The map-side truncation is Catalyst's rank-limit pushdown
    # (SPARK-37099): the executed plan must contain a PARTIAL
    # WindowGroupLimit (map side, before the Exchange). If a conf or
    # version change silently disables it, the hot-group reducer goes
    # back to receiving the whole group — fail loudly here instead.
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_grouped_topk_warns_when_rule_excluded(spark):
    """ADVICE r3: consumers on a runtime without WindowGroupLimit must
    get a warning, not a silent unbounded shuffle."""
    import warnings

    from weather_data_data_pipeline_spark.operators import ranking

    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "g int, v int"
    )
    prev = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    try:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            # the real Spark >= 3.5 rule (verified against the installed
            # spark-catalyst jar); a wrong name here would leave the rule
            # ACTIVE and the test would only be checking the warning path
            "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit",
        )
        ranking._WGL_WARNED = False
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ranking.grouped_topk(df, ["g"], "v", 1).collect()
        assert any("WindowGroupLimit" in str(x.message) for x in w)
        # once per process: a second call stays quiet
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            ranking.grouped_topk(df, ["g"], "v", 1).collect()
        assert not any("WindowGroupLimit" in str(x.message) for x in w2)
    finally:
        if prev:
            spark.conf.set("spark.sql.optimizer.excludedRules", prev)
        else:
            spark.conf.unset("spark.sql.optimizer.excludedRules")
        ranking._WGL_WARNED = False
