"""The weather ETL pipeline, re-expressed Spark-first.

Reference parity (cites into /root/reference/src/weather_report_pipeline/
weather_report_data_full_load_pipeline.py, "full"):

- ingest + flatten (full:15-60): the reference loops over the JSON on the
  driver and round-trips through pandas. Here the payloads cross to the
  JVM once, as Arrow, and are flattened with from_json + explode + struct
  field access — executor-side, columnar, scales to millions of payloads.
- transforms (full:63-83): K→°C, m/s→km/h, round 2dp, audit timestamp,
  10-column projection — same column names, typed weatherDate
  (TimestampType; the reference carried strings, a defect per SURVEY §0).
- weekly avg temperature (full:86-94), range avg humidity (full:97-115).
- idempotent append via composite-key left-anti join (full:163-171).
- incremental variant (inc_load:86-95) corrected: the reference's
  last-hour filter compared now() to an audit column set to now() two
  lines earlier (always ≈0); the intent — trailing-window on the audit
  timestamp — is what recency_filter implements.

A batch does each piece of work once (``run_full_load``): one job parses,
flattens and transforms the payloads and local-checkpoints the fact with
a single ``jobdate``; the reports, the append and the caller's other
sinks read those rows until the caller drops the returned frames. The
append reads only the destination's day partitions the batch covers.

A batch is sized by its bytes, not by the cluster's width: the fact is
checkpointed into one partition per ``session.PARTITION_BYTES`` (64 MB)
of payload JSON (``batch_partitions``), at most the payload scan's
width, and every later step takes its width from that. A batch under
64 MB is one partition, so both reports aggregate it without a shuffle,
the fact append writes from one task, and ``rows_to_append`` hands a
JDBC sink one partition, i.e. one connection.

Sinks: parquet (partitioned by weather date — partition pruning at
scale, one file per day and batch) as primary, JDBC (full:146-171) as
the compatibility sink.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from weather_data_data_pipeline_spark.operators.joins import anti_join_dedup
from weather_data_data_pipeline_spark.session import PARTITION_BYTES
from weather_data_data_pipeline_spark.sources.observability import (
    audit_metrics,
    load_record,
    observed_append,
    with_observation,
)

# OpenWeatherMap /data/2.5/forecast payload schema (FIXTURES.md A4;
# shape per full:19-45). Declared, not inferred: at scale, schema
# inference is a full extra pass.
OWM_FORECAST_SCHEMA = StructType(
    [
        StructField(
            "list",
            ArrayType(
                StructType(
                    [
                        StructField("dt", LongType()),
                        StructField(
                            "main",
                            StructType(
                                [
                                    StructField("temp", DoubleType()),
                                    StructField("humidity", IntegerType()),
                                ]
                            ),
                        ),
                        StructField(
                            "wind", StructType([StructField("speed", DoubleType())])
                        ),
                        StructField(
                            "weather",
                            ArrayType(
                                StructType([StructField("description", StringType())])
                            ),
                        ),
                    ]
                )
            ),
        ),
        StructField(
            "city",
            StructType(
                [
                    StructField("name", StringType()),
                    StructField("country", StringType()),
                    StructField(
                        "coord",
                        StructType(
                            [
                                StructField("lat", DoubleType()),
                                StructField("lon", DoubleType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)

FACT_COLUMNS = (
    "country",
    "city",
    "latitude",
    "longitude",
    "weatherDate",
    "Temperature_in_Celsius",
    "WindSpeed_km_per_hour",
    "Humidity",
    "WeatherDescription",
    "jobdate",
)

DEDUP_KEYS = ["country", "city", "weatherDate"]  # full:164


def batch_partitions(batch_bytes: int) -> int:
    """Partitions of a weather batch of ``batch_bytes`` payload JSON
    bytes: one per ``PARTITION_BYTES``, and one for a batch under it."""
    return max(1, -(-batch_bytes // PARTITION_BYTES))


def payloads_to_df(spark: SparkSession, payloads: Iterable[str]) -> DataFrame:
    """Stage raw payloads, one JSON document each (the text an API
    response carries), as a one-column DataFrame of those strings.

    This is the driver/executor boundary: a fleet fetcher (or a files/
    Kafka source) would produce exactly this frame; everything after is
    distributed. Replaces the reference's driver-side loop (full:22-37).
    The strings cross to the JVM as Arrow batches (``get_spark`` turns
    Arrow on), so evaluating the frame starts no Python worker.
    """
    strings = pd.Series(list(payloads), dtype=object)
    return spark.createDataFrame(
        pd.DataFrame({"payload": strings}), schema="payload string"
    )


def fetch_forecasts(
    cities: DataFrame,
    transport,
    api_key: str = "",
    city_col: str = "city",
) -> DataFrame:
    """S1 at scale (full:8-12, SURVEY §2.1): executor-parallel fetch
    fan-out — the fleet-fetcher twin of the reference's driver-side
    single-city HTTP GET.

    ``cities`` is a DataFrame of city names (one fetch per row, spread
    across the cluster by its partitioning); ``transport(api_key, city)
    -> dict`` is the injectable HTTP layer (``requests.get(...).json()``
    in production, a canned-payload fake in tests — the engine never
    hard-codes a network dependency). Returns the same
    ``(city, payload)`` JSON-string frame ``payloads_to_df`` produces,
    so everything downstream (flatten → transform → reports → append)
    is identical for 1 city or 1 million.

    Failures surface per-row as a NULL payload with the error message
    in ``fetch_error`` instead of killing the job — at fleet scale some
    endpoints are always down, and a poison row must not fail the batch.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for name in pdf[city_col]:
                try:
                    out.append((name, json.dumps(transport(api_key, name)), None))
                except Exception as exc:  # noqa: BLE001 — per-row isolation
                    out.append((name, None, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(
                out, columns=["city", "payload", "fetch_error"]
            )

    return cities.select(F.col(city_col)).mapInPandas(
        run, "city string, payload string, fetch_error string"
    )


def flatten_forecast(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """S2 (full:15-60) executor-side: parse with the declared schema,
    explode the forecast list, extract nested fields with dot paths.

    Output matches the reference's pre-transform frame (full:48-58):
    country, city, weatherDate, Temperature, Humidity, WindSpeed,
    WeatherDescription, latitude, longitude — with weatherDate typed
    (full:26 stored strings; SURVEY §0 flags the resulting silent
    MySQL truncation).
    """
    parsed = raw.select(
        F.from_json(F.col(payload_col), OWM_FORECAST_SCHEMA).alias("p")
    )
    fc = parsed.select("p.city", F.explode("p.list").alias("f"))
    return fc.select(
        F.col("city.country").alias("country"),
        F.col("city.name").alias("city"),
        F.timestamp_seconds(F.col("f.dt")).alias("weatherDate"),  # full:25-26, typed
        F.col("f.main.temp").alias("Temperature"),
        F.col("f.main.humidity").alias("Humidity"),
        F.col("f.wind.speed").alias("WindSpeed"),
        # full:30; F.get (not [0]): ANSI mode throws on an empty weather
        # array, and real payloads do ship them — NULL is the right result.
        F.get("f.weather", 0)["description"].alias("WeatherDescription"),
        F.col("city.coord.lat").alias("latitude"),
        F.col("city.coord.lon").alias("longitude"),
    )


def transform_weather(df: DataFrame, job_ts: Column | None = None) -> DataFrame:
    """P1-P6 (full:63-83): unit conversions, 2dp rounding, audit column,
    canonical 10-column projection. ``job_ts`` injectable for
    deterministic tests (the reference hardwires current_timestamp)."""
    return (
        df.withColumn("Temperature", F.col("Temperature") - 273.15)  # full:67
        .withColumn("WindSpeed", F.col("WindSpeed") * 3.6)  # full:67-68
        .withColumn("jobdate", job_ts if job_ts is not None else F.current_timestamp())
        .withColumn("Temperature_in_Celsius", F.round("Temperature", 2))  # full:72
        .withColumn("WindSpeed_km_per_hour", F.round("WindSpeed", 2))  # full:73
        .drop("Temperature", "WindSpeed")
        .select(*FACT_COLUMNS)  # full:73-81
    )


def calculate_avg_temperature(df: DataFrame) -> DataFrame:
    """A1 (full:86-94): weekly average temperature per (country, city)."""
    return df.groupBy(
        "country", "city", F.weekofyear("weatherDate").alias("week")
    ).agg(F.round(F.avg("Temperature_in_Celsius"), 2).alias("average_temperature"))


def calculate_avg_humidity(df: DataFrame, start_date: str, end_date: str) -> DataFrame:
    """A2+P7+P8 (full:97-115): inclusive-range average humidity with the
    range surfaced as constant columns. Typed date comparison replaces
    the reference's lexicographic string compare (SURVEY §0)."""
    d = F.to_date("weatherDate")
    return (
        df.filter(
            (d >= F.lit(start_date).cast("date")) & (d <= F.lit(end_date).cast("date"))
        )
        .groupBy("country", "city")
        .agg(F.round(F.avg("Humidity"), 2).alias("average_humidity"))
        .withColumn("start_date", F.lit(start_date).cast("date"))
        .withColumn("end_date", F.lit(end_date).cast("date"))
    )


def incremental_filter(
    df: DataFrame, hours: int = 1, now: Column | None = None
) -> DataFrame:
    """P9-P11 (inc_load:86-95) corrected: keep rows whose audit timestamp
    falls in the trailing window. See module docstring for the
    reference's self-comparison bug."""
    anchor = now if now is not None else F.current_timestamp()
    return df.filter(
        (F.col("jobdate") >= anchor - F.expr(f"INTERVAL {int(hours)} HOURS"))
        & (F.col("jobdate") <= anchor)
    )


def rows_to_append(new_rows: DataFrame, destination: DataFrame) -> DataFrame:
    """J1 (full:163-167): :func:`anti_join_dedup` on the composite
    natural key — only rows not already in the destination are
    appended, making the hourly re-run idempotent.

    The result has no more partitions than ``new_rows``: a shuffled join
    would otherwise spread a one-partition batch over every shuffle
    partition, and a JDBC sink opens one connection per partition.
    ``new_rows`` is meant to be materialised, as ``run_full_load``'s
    fact is: its partition count comes from its RDD, and with AQE on,
    building the RDD of a frame that shuffles runs those shuffles."""
    return anti_join_dedup(new_rows, destination, DEDUP_KEYS).coalesce(
        new_rows.rdd.getNumPartitions()
    )


def append_idempotent(
    new_rows: DataFrame,
    dest_path: str,
    spark: SparkSession,
    days: tuple[dt.date | None, dt.date | None],
) -> dict:
    """Parquet twin of full:160-171: anti-join against the destination,
    append; returns the write's observed ``audit_metrics`` (``n_rows`` =
    rows appended).

    ``days`` is the batch's first and last ``weather_day``. A key holds
    its day, so it can only collide inside those partitions: the
    destination is read with the fact's own schema (no inference job)
    and pruned to them, which makes the read cost per batch rather than
    per history, and that batch-bounded key set is broadcast into the
    anti join. The rows are repartitioned by ``weather_day`` into the
    batch's days or its partitions, whichever is fewer, so each day
    partition gets one file and a one-partition batch is written by one
    task.
    """
    first, last = days
    path = spark._jvm.org.apache.hadoop.fs.Path(dest_path)
    if path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        keys = (
            spark.read.schema(
                StructType([*new_rows.schema, StructField("weather_day", DateType())])
            )
            .parquet(dest_path)
            .where(F.col("weather_day").between(first, last))
            .select(*DEDUP_KEYS)
        )
        out = rows_to_append(new_rows, F.broadcast(keys))
    else:  # first load
        out = new_rows
    n_days = (last - first).days + 1 if first is not None else 1
    return observed_append(
        out.withColumn("weather_day", F.to_date("weatherDate")).repartition(
            min(n_days, new_rows.rdd.getNumPartitions()), "weather_day"
        ),
        dest_path,
        audit_metrics(),
        name="weather_appended",
        partition_by=["weather_day"],
    )


def run_full_load(
    spark: SparkSession,
    payloads: Iterable[dict],
    dest_dir: str,
    start_date: str,
    end_date: str,
    job_ts: Column | None = None,
) -> dict:
    """EP1 (full:118-182) end-to-end: ingest → transform → two report
    sinks → idempotent fact append.

    Materialise once: the fact is parsed, flattened and transformed in
    one Spark job, with one ``jobdate``, and local-checkpointed into
    ``batch_partitions`` of the payloads' JSON bytes, merged from the
    payload scan's partitions without a shuffle (a batch that asks for
    more than the scan has keeps the scan's width). A one-partition
    checkpoint reports a single partition, so the report aggregates
    plan no shuffle. One task then parses a whole batch under 64 MB,
    which saves CPU but lengthens the wall time of batches from about
    10 MB up (README, weather section). The
    reports, the append and any sink the caller writes the returned
    ``fact`` to all read those rows, so every sink of a batch holds the
    same rows (the reference recomputed the lineage for each action,
    SURVEY §4). The checkpoint lives in executor storage for as long as
    the returned frames do; once the caller drops them, Spark's context
    cleaner frees it.

    Returns the ``fact``, the ``avg_temp`` and ``avg_humidity`` report
    frames, and ``metrics``: rows offered, appended and rejected and the
    min/max ``weatherDate`` (``observability.load_record``), observed on
    the materialising job and the fact write, with no job of its own.
    """
    strings = [json.dumps(p) for p in payloads]
    parts = batch_partitions(sum(map(len, strings)))  # ASCII: chars are bytes
    day = F.to_date("weatherDate")
    fact, offered = with_observation(
        transform_weather(flatten_forecast(payloads_to_df(spark, strings)), job_ts),
        "weather_offered",
        [*audit_metrics(ts_col="weatherDate"),
         F.min(day).alias("first_day"), F.max(day).alias("last_day")],
    )
    fact = fact.coalesce(parts).localCheckpoint()
    batch = offered.get
    avg_temp = calculate_avg_temperature(fact)
    avg_humidity = calculate_avg_humidity(fact, start_date, end_date)
    # reports are one small file per batch, not one per shuffle partition
    avg_temp.coalesce(1).write.mode("append").parquet(
        f"{dest_dir}/weekly_avg_temp_report_data"
    )
    avg_humidity.coalesce(1).write.mode("append").parquet(
        f"{dest_dir}/weather_avg_humidity_report_data"
    )
    appended = append_idempotent(
        fact,
        f"{dest_dir}/weather_report_data",
        spark,
        (batch["first_day"], batch["last_day"]),
    )
    return {
        "fact": fact,
        "avg_temp": avg_temp,
        "avg_humidity": avg_humidity,
        "metrics": load_record(batch, appended),
    }
