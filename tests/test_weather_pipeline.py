"""End-to-end tests of the weather pipeline on canned OpenWeatherMap
payloads (FIXTURES.md A4) — no network. Covers reference parity
(column names, conversions, rounding, aggregates) and the core
contract: double-run idempotency of the anti-join append."""

from __future__ import annotations

import datetime as dt
import gc
import json
import re
import time
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from weather_data_data_pipeline_spark.pipeline import weather as W


def _payload(city: str, country: str, lat: float, lon: float, start_epoch: int,
             n: int = 40, temp0: float = 290.0):
    return {
        "list": [
            {
                "dt": start_epoch + i * 3 * 3600,  # 3-hourly steps
                "main": {"temp": temp0 + (i % 7), "humidity": 40 + (i % 50)},
                "wind": {"speed": 1.5 + (i % 10)},
                "weather": [{"description": f"desc{i % 5}"}],
            }
            for i in range(n)
        ],
        "city": {"name": city, "country": country, "coord": {"lat": lat, "lon": lon}},
    }


# 2023-12-28 00:00:00 UTC — spans the ISO year boundary (week 52 → week 1)
YEAR_BOUNDARY_EPOCH = 1703721600


def _raw(spark, payloads: list[dict]):
    """The payload frame of ``payloads``, serialised as a fetcher's
    responses arrive: one JSON document each."""
    return W.payloads_to_df(spark, [json.dumps(p) for p in payloads])


@pytest.fixture(scope="module")
def payloads():
    return [
        _payload("Houston", "US", 29.76, -95.37, YEAR_BOUNDARY_EPOCH),
        _payload("Berlin", "DE", 52.52, 13.40, YEAR_BOUNDARY_EPOCH, temp0=270.0),
    ]


@pytest.fixture(scope="module")
def fact(spark, payloads):
    raw = _raw(spark, payloads)
    return W.transform_weather(
        W.flatten_forecast(raw), job_ts=F.lit("2024-01-02 00:00:00").cast("timestamp")
    ).cache()


def test_flatten_shape_and_types(spark, payloads):
    flat = W.flatten_forecast(_raw(spark, payloads))
    assert flat.count() == 80  # 40 forecasts × 2 cities
    types = dict(flat.dtypes)
    assert types["weatherDate"] == "timestamp"
    assert types["Temperature"] == "double"
    assert types["Humidity"] == "int"
    first = flat.where(
        (F.col("city") == "Houston")
        & (F.col("weatherDate") == dt.datetime(2023, 12, 28, 0, 0))
    ).collect()
    assert len(first) == 1
    assert first[0]["WeatherDescription"] == "desc0"
    assert first[0]["country"] == "US"


def test_transform_matches_reference_semantics(fact):
    assert list(fact.columns) == list(W.FACT_COLUMNS)
    row = fact.where(
        (F.col("city") == "Houston")
        & (F.col("weatherDate") == dt.datetime(2023, 12, 28, 0, 0))
    ).collect()[0]
    # K→°C rounded 2dp (full:67,72): 290.0 - 273.15 = 16.85
    assert row["Temperature_in_Celsius"] == 16.85
    # m/s→km/h rounded 2dp (full:67-68,73): 1.5 * 3.6 = 5.4
    assert row["WindSpeed_km_per_hour"] == 5.4


def test_weekly_avg_temperature_iso_week_boundary(fact):
    out = W.calculate_avg_temperature(fact)
    weeks = {r["week"] for r in out.where(F.col("city") == "Houston").collect()}
    # 2023-12-28 is ISO week 52; 2024-01-01+ is ISO week 1
    assert weeks == {52, 1}
    hou52 = out.where((F.col("city") == "Houston") & (F.col("week") == 52)).collect()[0]
    # week 52 = Dec 25-31 → i in 0..31 (32 three-hourly rows from Dec 28):
    # avg(16.85 + i%7) = 16.85 + 90/32 = 19.6625 → 19.66
    assert hou52["average_temperature"] == pytest.approx(19.66, abs=0.005)
    assert set(out.columns) == {"country", "city", "week", "average_temperature"}


def test_avg_humidity_range_inclusive(fact):
    out = W.calculate_avg_humidity(fact, "2023-12-28", "2023-12-29")
    rows = {r["city"]: r for r in out.collect()}
    assert set(rows) == {"Houston", "Berlin"}
    # inclusive both ends: 16 rows of 3-hourly steps over the 2 days
    sub = fact.where(
        (F.to_date("weatherDate") >= "2023-12-28")
        & (F.to_date("weatherDate") <= "2023-12-29")
        & (F.col("city") == "Houston")
    )
    expected = round(
        sum(r["Humidity"] for r in sub.collect()) / sub.count(), 2
    )
    assert rows["Houston"]["average_humidity"] == pytest.approx(expected, abs=0.01)
    assert rows["Houston"]["start_date"] == dt.date(2023, 12, 28)


def _days(df):
    """(first, last) weather_day of a batch, by direct aggregate."""
    d = F.to_date("weatherDate")
    return tuple(df.agg(F.min(d), F.max(d)).first())


def _append(fact, dest, spark) -> int:
    return W.append_idempotent(fact, dest, spark, _days(fact))["n_rows"]


def _keys(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*W.DEDUP_KEYS).collect())


def _files_per_day(dest) -> Counter:
    return Counter(f.parent.name for f in Path(dest).glob("weather_day=*/*.parquet"))


def _executions(spark) -> list:
    """The session's SQL executions (status-store entries), oldest
    first, once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i) for i in range(execs.size())]


def _last_scan(spark) -> tuple[str, dict[str, str]]:
    """Physical plan text and metric values of the session's latest SQL
    execution that scanned parquet."""
    last = next(
        e for e in reversed(_executions(spark))
        if "Scan parquet" in e.physicalPlanDescription()
    )
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(last.executionId())
    metrics = {}
    for i in range(last.metrics().size()):
        m = last.metrics().apply(i)
        v = values.get(m.accumulatorId())
        if v.isDefined():
            metrics[m.name()] = v.get()
    return last.physicalPlanDescription(), metrics


def _held(spark, fact, held: str):
    """Rows the destination holds before the batch lands."""
    if held == "days around the batch":
        # both cities over 2023-12-26 .. 2024-01-03, less Houston on the
        # 29th: two days on each side of the batch, one batch day short
        wide = W.transform_weather(
            W.flatten_forecast(_raw(spark, [
                _payload(c, k, 0.0, 0.0, YEAR_BOUNDARY_EPOCH - 2 * 86400, n=72)
                for c, k in (("Houston", "US"), ("Berlin", "DE"))
            ])),
            job_ts=F.lit("2024-01-01 00:00:00").cast("timestamp"),
        )
        return wide.where(
            (F.col("city") != "Houston") | (F.to_date("weatherDate") != "2023-12-29")
        )
    if held == "duplicate keys":
        berlin = fact.where(F.col("city") == "Berlin")
        return berlin.unionByName(berlin)
    return None


def test_append_is_idempotent(spark, fact, tmp_path):
    for held in ("nothing", "days around the batch", "duplicate keys"):
        _check_append(spark, fact, str(tmp_path / held.replace(" ", "_")), held)


def _check_append(spark, fact, root: str, held: str) -> None:
    dest = f"{root}/weather_report_data"
    planted = _held(spark, fact, held)
    before = Counter()
    if planted is not None:
        planted.withColumn("weather_day", F.to_date("weatherDate")).write.partitionBy(
            "weather_day"
        ).parquet(dest)
        before = _keys(planted)
    files = _files_per_day(dest)
    # exactly the batch keys the destination lacks land, each once,
    # however often the destination holds the others
    new = Counter(k for k in _keys(fact) if k not in before)
    assert _append(fact, dest, spark) == sum(new.values())
    assert _keys(spark.read.parquet(dest)) - before == new
    # one new file in each day partition the batch added rows to
    assert _files_per_day(dest) - files == Counter(
        {f"weather_day={day}": 1 for day in {k[2].date() for k in new}}
    )

    # Second run with the same batch: anti-join must keep everything out,
    # and the dedup scan reads only the batch's weather_day partitions.
    first, last = _days(fact)
    batch_files = [
        f for f in Path(dest).glob("weather_day=*/*.parquet")
        if first <= dt.date.fromisoformat(f.parent.name.split("=")[1]) <= last
    ]
    assert _append(fact, dest, spark) == 0, "double-run appended duplicates"
    plan, metrics = _last_scan(spark)
    assert re.search(
        rf"PartitionFilters: \[.*\(weather_day#\d+ >= {first}\), "
        rf"\(weather_day#\d+ <= {last}\)\]", plan
    ), plan
    assert int(metrics["number of partitions read"]) == (last - first).days + 1
    assert int(metrics["number of files read"]) == len(batch_files)
    assert _keys(spark.read.parquet(dest)) - before == new

    # A genuinely new batch still lands.
    extra = W.transform_weather(
        W.flatten_forecast(
            _raw(
                spark,
                [_payload("Paris", "FR", 48.85, 2.35, YEAR_BOUNDARY_EPOCH, n=5)],
            )
        ),
        job_ts=F.lit("2024-01-02 01:00:00").cast("timestamp"),
    )
    assert _append(extra, dest, spark) == 5


def test_anti_join_no_destination_keys_survive(spark, fact):
    dest = fact.limit(30)
    out = W.rows_to_append(fact, dest)
    # property: appended keys ∩ destination keys = ∅
    inter = out.join(dest, on=W.DEDUP_KEYS, how="inner")
    assert inter.count() == 0
    assert out.count() == fact.count() - 30


def test_incremental_filter_trailing_window(spark, payloads):
    raw = W.flatten_forecast(_raw(spark, payloads))
    old = W.transform_weather(raw, job_ts=F.lit("2024-01-01 00:00:00").cast("timestamp"))
    new = W.transform_weather(raw, job_ts=F.lit("2024-01-01 10:30:00").cast("timestamp"))
    both = old.unionByName(new)
    kept = W.incremental_filter(
        both, hours=1, now=F.lit("2024-01-01 11:00:00").cast("timestamp")
    )
    assert kept.count() == new.count()
    assert kept.select(F.min("jobdate")).collect()[0][0] == dt.datetime(2024, 1, 1, 10, 30)


def test_flatten_survives_corrupt_payloads(spark, payloads):
    import json

    rows = [(json.dumps(payloads[0]),), ("{not valid json",), (None,),
            ('{"city": {"name": "X"}}',)]
    raw = spark.createDataFrame(rows, "payload string")
    out = W.flatten_forecast(raw)
    # corrupt/null/list-less payloads contribute zero rows (from_json →
    # NULL → explode drops), valid ones flatten fully — a bad document
    # never poisons the batch
    assert out.count() == 40
    assert out.where(F.col("city") == "Houston").count() == 40


def test_full_load_runs_end_to_end(spark, payloads, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("weather_e2e"))
    W.run_full_load(
        spark, payloads, dest, "2023-12-28", "2023-12-29",
        job_ts=F.lit("2024-01-02 00:00:00").cast("timestamp"),
    )
    assert spark.read.parquet(f"{dest}/weather_report_data").count() == 80
    assert spark.read.parquet(f"{dest}/weekly_avg_temp_report_data").count() == 4
    hum = spark.read.parquet(f"{dest}/weather_avg_humidity_report_data")
    assert hum.count() == 2
    # re-run: reports append (by design, audit-stamped), fact does not duplicate
    W.run_full_load(
        spark, payloads, dest, "2023-12-28", "2023-12-29",
        job_ts=F.lit("2024-01-02 02:00:00").cast("timestamp"),
    )
    assert spark.read.parquet(f"{dest}/weather_report_data").count() == 80


def test_full_load_metrics_match_direct_counts(spark, payloads, tmp_path):
    """The load's metrics record rides the batch's own jobs, which it
    does not add to: one job parses the payloads, and a batch into an
    existing destination runs five (materialise, two reports, broadcast
    of the destination keys, write)."""
    dest = str(tmp_path)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    for run, offered_before in enumerate((0, 80)):
        # job counts of the static plan (AQE would add a job per stage),
        # the posture tune_for_working_set picks for a batch this size
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        group = f"full-load-{run}-{tmp_path.name}"
        sc.setJobGroup(group, "metrics test")
        try:
            out = W.run_full_load(spark, payloads, dest, "2023-12-28", "2023-12-29")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        store = sc._jsc.sc().statusStore()
        names = [store.job(j).name() for j in jobs]
        assert sum(n.startswith("localCheckpoint") for n in names) == 1, names
        assert len(jobs) == (4 if run == 0 else 5), names

        fact = out["fact"]
        d = fact.agg(F.count("*"), F.min("weatherDate"), F.max("weatherDate")).first()
        total = spark.read.parquet(f"{dest}/weather_report_data").count()
        assert out["metrics"] == {
            "rows_offered": d[0],
            "rows_appended": total - offered_before,
            "rows_rejected": d[0] - (total - offered_before),
            "min_ts": d[1],
            "max_ts": d[2],
        }
    assert out["metrics"]["rows_rejected"] == 80


def test_batch_partitions_follow_batch_bytes():
    """One partition per 64 MB of payload JSON, and one for a batch
    under it, empty included."""
    mb64 = 64 << 20
    assert W.batch_partitions(0) == 1
    assert W.batch_partitions(mb64) == 1
    assert W.batch_partitions(mb64 + 1) == 2


def test_report_writes_plan_no_shuffle(spark, payloads, tmp_path):
    """A batch under 64 MB is checkpointed into one partition, so both
    report aggregates read it where it lies: neither write shuffles."""
    before = {e.executionId() for e in _executions(spark)}
    W.run_full_load(spark, payloads, str(tmp_path), "2023-12-28", "2023-12-29")
    new = [
        e.physicalPlanDescription()
        for e in _executions(spark) if e.executionId() not in before
    ]
    for report in ("weekly_avg_temp_report_data", "weather_avg_humidity_report_data"):
        plans = [p for p in new if report in p]
        assert len(plans) == 1, report
        assert "Exchange" not in plans[0], plans[0]


def test_payloads_cross_to_the_jvm_as_arrow(spark, payloads):
    """The payload frame is JVM-resident rows (a local table scan), so
    evaluating it starts no Python worker."""
    raw = _raw(spark, payloads)
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert W.payloads_to_df(spark, []).count() == 0


def test_batches_leave_no_materialised_state(spark, payloads, tmp_path):
    """The fact's checkpoint lives only as long as the returned frames:
    with earlier results dropped, persisted RDDs stay flat over
    repeated batches."""
    sc = spark.sparkContext

    def persisted() -> set[int]:
        # storage info copies ids; getPersistentRDDs() would hand back a
        # map holding the RDDs themselves, keeping them alive while polled
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    held = set()
    for _ in range(3):
        before = persisted()
        out = W.run_full_load(spark, payloads, str(tmp_path), "2023-12-28", "2023-12-29")
        mine = persisted() - before
        assert len(mine) == 1  # the fact's checkpoint, nothing else
        out["fact"].count()  # still readable while the result is held
        held |= mine
        del out
        # the context cleaner unpersists asynchronously after a JVM GC
        for _ in range(40):
            gc.collect()
            sc._jvm.System.gc()
            if not held & persisted():
                break
            time.sleep(0.25)
        assert not held & persisted()


def test_fetch_forecasts_executor_fanout(spark, payloads):
    """S1 at scale: per-city fetch via mapInPandas with an injectable
    transport; failures isolate to their row instead of failing the job."""
    canned = {p["city"]["name"]: p for p in payloads}

    def transport(api_key, city):
        if city == "Atlantis":
            raise ConnectionError("no such city")
        return canned[city]

    cities = spark.createDataFrame(
        [("Houston",), ("Berlin",), ("Atlantis",)], "city string"
    ).repartition(3)
    fetched = W.fetch_forecasts(cities, transport).cache()
    ok = fetched.filter(F.col("fetch_error").isNull())
    bad = fetched.filter(F.col("fetch_error").isNotNull()).collect()
    assert ok.count() == 2
    assert len(bad) == 1 and bad[0]["city"] == "Atlantis"
    assert "ConnectionError" in bad[0]["fetch_error"]
    # The fetched frame feeds the standard flatten unchanged.
    flat = W.flatten_forecast(ok)
    assert flat.count() == sum(
        len(canned[r["city"]]["list"]) for r in ok.select("city").collect()
    )
    assert set(flat.select("city").distinct().toPandas()["city"]) == {
        "Houston",
        "Berlin",
    }
    fetched.unpersist()


def test_weatherapi_python_datasource_end_to_end(spark):
    """Spark 4 Python DataSource for the REST source (S1): one input
    partition per city, per-city failure isolation, and the resulting
    frame flows through the standard flatten → transform pipeline."""
    from weather_data_data_pipeline_spark.pipeline.weather import (
        flatten_forecast,
        transform_weather,
    )
    from weather_data_data_pipeline_spark.sources import weather_datasource as W

    W.register(spark)
    df = (
        spark.read.format("weatherapi")
        .option("cities", "Hyderabad, Houston ,Berlin")
        .option(
            "transport",
            "weather_data_data_pipeline_spark.sources.weather_datasource:canned_transport",
        )
        .load()
    )
    # fetch fan-out: the task layout is one partition per city
    assert df.rdd.getNumPartitions() == 3
    rows = {r["city"]: r for r in df.collect()}
    assert set(rows) == {"Hyderabad", "Houston", "Berlin"}
    assert all(r["fetch_error"] is None for r in rows.values())

    flat = flatten_forecast(df.where(F.col("payload").isNotNull()))
    fact = transform_weather(flat, job_ts=F.lit("2024-01-01 00:00:00").cast("timestamp"))
    assert fact.count() == 3 * 8  # 8 forecast entries per city
    got = {
        (r["city"], r["Temperature_in_Celsius"])
        for r in fact.where(F.col("weatherDate") == F.timestamp_seconds(F.lit(1700000000))).collect()
    }
    # K→°C conversion on the canned temps: 273.15 + h − 273.15 = h
    import json as _json

    for city in ("Hyderabad", "Houston", "Berlin"):
        h = sum(city.encode()) % 40
        assert (city, float(h)) in got


def test_weatherapi_datasource_isolates_failures(spark):
    from weather_data_data_pipeline_spark.sources import weather_datasource as W

    W.register(spark)
    df = (
        spark.read.format("weatherapi")
        .option("cities", "Good, __BOOM__")
        .option(
            "transport",
            "tests.failing_transport:transport",
        )
        .load()
    )
    rows = {r["city"]: r for r in df.collect()}
    assert rows["Good"]["fetch_error"] is None
    assert rows["__BOOM__"]["payload"] is None
    assert "RuntimeError" in rows["__BOOM__"]["fetch_error"]


def test_weatherapi_filter_pushdown_prunes_fetches(spark):
    """city = 'X' pushes into the source: only X's endpoint is fetched,
    visible as a single-partition scan (one partition per fetched city)."""
    from weather_data_data_pipeline_spark.sources import weather_datasource as W

    W.register(spark)
    df = (
        spark.read.format("weatherapi")
        .option("cities", "Hyderabad,Houston,Berlin")
        .option(
            "transport",
            "weather_data_data_pipeline_spark.sources.weather_datasource:canned_transport",
        )
        .load()
    )
    flt = df.where(F.col("city") == "Houston")
    assert [r["city"] for r in flt.collect()] == ["Houston"]
    assert flt.rdd.getNumPartitions() == 1


def test_weatherapi_stream_reader_polls(spark, tmp_path):
    from weather_data_data_pipeline_spark.sources import weather_datasource as W

    W.register(spark)
    stream = (
        spark.readStream.format("weatherapi")
        .option("cities", "Hyderabad,Houston")
        .option(
            "transport",
            "weather_data_data_pipeline_spark.sources.weather_datasource:canned_transport",
        )
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("weather_poll")
        .option("checkpointLocation", str(tmp_path / "ckpt_wx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("weather_poll")
    assert sorted(r["city"] for r in got.collect()) == ["Houston", "Hyderabad"]
    assert got.where(F.col("payload").isNull()).count() == 0
