"""Live JDBC round-trip (VERDICT r1 "What's missing" #2) against Apache
Derby — the embedded SQL database that SHIPS IN the Spark distribution's
own jars (derby-10.16.1.1.jar is on every Spark classpath), so the JDBC
read/write paths are exercised against a real database engine with zero
extra dependencies. Semantics mirrored from the reference pipeline:
append sink ×2 + anti-join dedup idempotency
(ref: weather_report_data_full_load_pipeline.py:146-171)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_weather_pipeline import YEAR_BOUNDARY_EPOCH, _payload
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
