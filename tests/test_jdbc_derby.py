"""Live JDBC round-trip (VERDICT r1 "What's missing" #2) against Apache
Derby — the embedded SQL database that SHIPS IN the Spark distribution's
own jars (derby-10.16.1.1.jar is on every Spark classpath), so the JDBC
read/write paths are exercised against a real database engine with zero
extra dependencies. Semantics mirrored from the reference pipeline:
append sink ×2 + anti-join dedup idempotency
(ref: weather_report_data_full_load_pipeline.py:146-171)."""

from __future__ import annotations

import json
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from tests.test_weather_pipeline import YEAR_BOUNDARY_EPOCH, _files_per_day, _payload
from weather_data_data_pipeline_spark.operators.joins import anti_join_dedup
from weather_data_data_pipeline_spark.pipeline import weather as W
from weather_data_data_pipeline_spark.sources import jdbc


def _derby_available() -> bool:
    import glob
    import os

    from pyspark.find_spark_home import _find_spark_home

    return bool(glob.glob(os.path.join(_find_spark_home(), "jars", "derby-*.jar")))


pytestmark = pytest.mark.skipif(
    not _derby_available(), reason="derby jar not in this Spark distribution"
)

PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _url(tmp_path, name="wxdb"):
    return f"jdbc:derby:{tmp_path}/{name};create=true"


def test_jdbc_write_read_roundtrip(spark, tmp_path):
    url = _url(tmp_path)
    df = spark.createDataFrame(
        [("IN", "Hyderabad", 31.5, 62), ("US", "Houston", 28.25, 55)],
        "country string, city string, temperature double, humidity int",
    )
    jdbc.append(df, url, "weather_report_data", PROPS)
    back = jdbc.read_table(spark, url, "weather_report_data", PROPS)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # types survive the trip (Derby DOUBLE/INTEGER → Spark double/int)
    assert dict(back.dtypes)["temperature"] == "double"
    assert dict(back.dtypes)["humidity"] == "int"


def test_jdbc_read_query_wraps_subquery(spark, tmp_path):
    """The reference passed a bare SELECT string as the table arg (its
    bug, SURVEY §0); read_query must wrap it the way Spark requires."""
    url = _url(tmp_path, "qdb")
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    jdbc.append(df, url, "t1", PROPS)
    # Spark creates the table with QUOTED (case-preserved) column names;
    # Derby folds unquoted identifiers to uppercase, so the passthrough
    # query must quote them — engine-specific, exactly what read_query's
    # subquery wrapper exists to pass through verbatim.
    got = jdbc.read_query(
        spark, url, 'SELECT "k", "v" FROM t1 WHERE "v" >= 20.0', PROPS
    )
    assert sorted(map(tuple, got.collect())) == [(2, 20.0), (3, 30.0)]


def test_jdbc_anti_join_append_idempotent(spark, tmp_path):
    """The reference's core contract: re-running the load must not
    duplicate destination rows (anti-join on the composite key before
    the append — ref full:163-171)."""
    url = _url(tmp_path, "idemdb")
    batch = spark.createDataFrame(
        [("IN", "Hyderabad", "2024-01-01 00:00:00", 31.5)],
        "country string, city string, weatherDate string, temperature double",
    )
    keys = ["country", "city", "weatherDate"]
    jdbc.append(batch, url, "dest", PROPS)
    for _ in range(2):  # replay the same batch twice
        dest = jdbc.read_table(spark, url, "dest", PROPS)
        fresh = anti_join_dedup(batch, dest, keys)
        if fresh.count():
            jdbc.append(fresh, url, "dest", PROPS)
    assert jdbc.read_table(spark, url, "dest", PROPS).count() == 1

    # a genuinely new key still lands
    batch2 = spark.createDataFrame(
        [("IN", "Hyderabad", "2024-01-01 03:00:00", 30.0)], batch.schema
    )
    dest = jdbc.read_table(spark, url, "dest", PROPS)
    jdbc.append(anti_join_dedup(batch2, dest, keys), url, "dest", PROPS)
    assert jdbc.read_table(spark, url, "dest", PROPS).count() == 2


def test_jdbc_predicate_pushdown_reaches_derby(spark, tmp_path):
    """Catalyst pushes filters into the JDBC source (PushedFilters in the
    scan) so Derby — not Spark — evaluates them: the reference's scan
    shape with the free pushdown the engine design promises."""
    url = _url(tmp_path, "pushdb")
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    jdbc.append(df, url, "nums", PROPS)
    scan = jdbc.read_table(spark, url, "nums", PROPS).where(F.col("k") > 90)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "k" in plan
    assert scan.count() == 9


def test_full_load_sinks_hold_the_same_rows(spark, tmp_path):
    """One batch, two sinks: the fact run_full_load returns (default
    job_ts, i.e. current_timestamp()) appended to Derby holds exactly the
    rows the parquet sink got, jobdate included — the returned frame is
    the materialised batch, not a recompute with a later clock."""
    payloads = [
        _payload("Houston", "US", 29.76, -95.37, YEAR_BOUNDARY_EPOCH),
        _payload("Berlin", "DE", 52.52, 13.40, YEAR_BOUNDARY_EPOCH),
    ]
    dest = str(tmp_path / "dest")
    fact = W.run_full_load(spark, payloads, dest, "2023-12-28", "2023-12-29")["fact"]
    url = _url(tmp_path, "sinkdb")
    jdbc.append(fact, url, "weather_report_data", PROPS)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*W.FACT_COLUMNS).collect())

    parquet = rows(spark.read.parquet(f"{dest}/weather_report_data"))
    derby = rows(jdbc.read_table(spark, url, "weather_report_data", PROPS))
    assert len(parquet) == 80
    assert parquet == derby


def _group_shape(spark, group: str) -> tuple[int, int]:
    """(stages, tasks) that ran for a job group, from the status store,
    once the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    stages = tasks = 0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        for sid in sc.statusTracker().getJobInfo(job).stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += st.numCompleteTasks()
    return stages, tasks


def _batch(b: int) -> list[dict]:
    """16 cities' forecasts from slot ``b``: each batch shifts one
    three-hour slot, so it adds one row per city, as the hourly feed."""
    return [
        _payload(f"City{i}", "US", 30.0 + i, -95.0, YEAR_BOUNDARY_EPOCH + b * 3 * 3600)
        for i in range(16)
    ]


def _load(spark, b: int, dest: str, url: str):
    """Batch ``b`` into both sinks as the hourly job does: parquet inside
    ``run_full_load``, then Derby, whole on the first batch and through
    ``rows_to_append`` after it. Returns the batch's fact."""
    fact = W.run_full_load(spark, _batch(b), dest, "2023-12-28", "2023-12-29")["fact"]
    new = fact
    if b:
        derby = jdbc.read_table(spark, url, "weather_report_data", PROPS)
        new = W.rows_to_append(fact, derby)
    jdbc.append(new, url, "weather_report_data", PROPS)
    return fact


def test_small_batch_runs_in_one_partition_end_to_end(spark, tmp_path):
    """A batch under 64 MB is one partition from the fact checkpoint to
    the JDBC sink: the checkpoint, each report and the fact write run
    one task per stage, the destination-key broadcast one per scan
    split, and the Derby anti-join append one per side and one for the
    join. Sized by the session's width instead (8 cores, 4 shuffle
    partitions), the same batch ran 11 stages and 58 tasks."""
    dest, url = str(tmp_path / "dest"), _url(tmp_path, "shapedb")
    _load(spark, 0, dest, url)
    sc = spark.sparkContext
    group = f"batch-shape-{tmp_path.name}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # the static plan: tune_for_working_set turns AQE off for a batch this size
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "batch shape test")
    try:
        _load(spark, 1, dest, url)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    stages, tasks = _group_shape(spark, group)
    assert stages <= 9 and tasks <= 13, (stages, tasks)
    assert jdbc.read_table(spark, url, "weather_report_data", PROPS).count() == 16 * 41


@pytest.mark.parametrize("parts", [3, 10])
def test_wide_batch_keeps_its_partitions_to_the_sinks(spark, tmp_path, monkeypatch, parts):
    """A batch of several partition targets is checkpointed into that
    many partitions, merged from the payload scan's without a shuffle
    (3), or keeps the scan's width when it asks for more (10). Each day
    partition still gets one file per batch, the JDBC append gets no
    more partitions than the batch, and both sinks hold the same rows."""
    size = sum(len(json.dumps(p)) for p in _batch(1))
    monkeypatch.setattr(W, "PARTITION_BYTES", -(-size // parts))
    assert W.batch_partitions(size) == parts
    dest, url = str(tmp_path / "dest"), _url(tmp_path, f"wide{parts}db")
    _load(spark, 0, dest, url)
    files = _files_per_day(f"{dest}/weather_report_data")
    assert set(files.values()) == {1}

    fact = _load(spark, 1, dest, url)
    assert 1 < fact.rdd.getNumPartitions() <= parts
    derby = jdbc.read_table(spark, url, "weather_report_data", PROPS)
    assert W.rows_to_append(fact, derby).rdd.getNumPartitions() <= parts
    # batch 1's one new slot per city falls on 2024-01-02, a new day
    assert _files_per_day(f"{dest}/weather_report_data") - files == Counter(
        {"weather_day=2024-01-02": 1}
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select(*W.FACT_COLUMNS).collect())

    parquet = rows(spark.read.parquet(f"{dest}/weather_report_data"))
    assert len(parquet) == 16 * 41
    assert parquet == rows(jdbc.read_table(spark, url, "weather_report_data", PROPS))
