"""Weather-domain queries through the driver contract: the reference's
own pipeline (EP1, full_load:118-182) run end-to-end on deterministic
canned payloads (FIXTURES.md A4 shape, no network), hash-checked against
DuckDB oracles that regenerate the same payload arithmetic with range().

The driver's synthetic tables carry no weather columns, so these queries
embed their input: two cities × 40 three-hourly forecast entries with
formulaic temperatures/humidity — exactly what tests/test_weather_pipeline.py
uses, now visible to the correctness gate as well.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.pipeline.weather import (
    calculate_avg_humidity,
    flatten_forecast,
    payloads_to_df,
    transform_weather,
)
from weather_data_data_pipeline_spark.registry import register
from weather_data_data_pipeline_spark.session import apply_runtime_conf

# 2023-12-28 00:00 UTC: the 5-day span crosses the ISO year boundary, so
# weekofyear exercises the week-52 → week-1 edge the reference never tested.
_START_EPOCH = 1703721600
_CITIES = (("Houston", "US", 29.76, -95.37, 290.0), ("Berlin", "DE", 52.52, 13.4, 270.0))


def _payload(city: str, country: str, lat: float, lon: float, temp0: float) -> dict:
    return {
        "list": [
            {
                "dt": _START_EPOCH + i * 3 * 3600,
                "main": {"temp": temp0 + (i % 7), "humidity": 40 + (i % 50)},
                "wind": {"speed": 1.5 + (i % 10)},
                "weather": [{"description": f"desc{i % 5}"}],
            }
            for i in range(40)
        ],
        "city": {"name": city, "country": country, "coord": {"lat": lat, "lon": lon}},
    }


def _fact(spark: SparkSession) -> DataFrame:
    apply_runtime_conf(spark)  # UTC — weekofyear/to_date must not float
    raw = payloads_to_df(spark, [json.dumps(_payload(*c)) for c in _CITIES])
    return transform_weather(
        raw.transform(flatten_forecast),
        job_ts=F.lit("2024-01-02 00:00:00").cast("timestamp"),
    )


# DuckDB twin of the canned payloads: same arithmetic, executor-free.
_RAW_CTE = f"""
    WITH cities(city, country, temp0) AS (
      VALUES ('Houston', 'US', 290.0), ('Berlin', 'DE', 270.0)),
    raw AS (
      SELECT country, city,
             make_timestamp(({_START_EPOCH} + i * 10800) * 1000000) AS wd,
             round((temp0 + (i % 7)) - 273.15, 2) AS temp_c,
             40 + (i % 50) AS humidity
      FROM cities CROSS JOIN range(40) t(i))
"""


@register(
    "weather_weekly_avg_temp",
    oracle=_RAW_CTE
    + """
    SELECT country, city,
           CAST(weekofyear(wd) AS INTEGER) AS week,
           round(CAST(sum(CAST(temp_c AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 2) AS average_temperature
    FROM raw GROUP BY country, city, week
    """,
    doc="EP1/A1 (ref full_load:86-94) end-to-end on canned payloads: "
    "JSON flatten -> K->C -> 2dp round -> ISO-week average per city, "
    "spanning the week-52/week-1 year boundary. Averages go through "
    "exact decimal sums on both engines so the hash match is "
    "partitioning-independent.",
    tags=("weather", "reference", "aggregate"),
)
def weather_weekly_avg_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _fact(spark)
    return fact.groupBy(
        "country", "city", F.weekofyear("weatherDate").alias("week")
    ).agg(
        F.round(
            F.sum(F.col("Temperature_in_Celsius").cast("decimal(18,2)")).cast(
                "double"
            )
            / F.count("*"),
            2,
        ).alias("average_temperature")
    )


@register(
    "weather_avg_humidity_range",
    oracle=_RAW_CTE
    + """
    SELECT country, city,
           round(avg(humidity), 2) AS average_humidity,
           DATE '2023-12-29' AS start_date,
           DATE '2023-12-31' AS end_date
    FROM raw
    WHERE CAST(wd AS DATE) BETWEEN DATE '2023-12-29' AND DATE '2023-12-31'
    GROUP BY country, city
    """,
    doc="EP1/A2+P7+P8 (ref full_load:97-115) end-to-end on canned "
    "payloads: inclusive typed-date range filter (the reference compared "
    "strings lexicographically), average humidity, constant range "
    "columns surfaced.",
    tags=("weather", "reference", "aggregate", "filter"),
)
def weather_avg_humidity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calculate_avg_humidity(_fact(spark), "2023-12-29", "2023-12-31")
