"""Job-runner CLI: list/run/full-load smoke (in-process, reuses the
session fixture via getOrCreate)."""

from __future__ import annotations

from weather_data_data_pipeline_spark.__main__ import main


def test_list_names_every_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "[oracle]" in out


def test_list_tag_filter(capsys):
    assert main(["list", "--tag", "bench"]) == 0
    out = capsys.readouterr().out
    assert "minhash_dedup_pairs" in out
    assert "weather_weekly_avg_temp" not in out


def test_run_unknown_query_is_error(capsys):
    assert main(["run", "no_such_query"]) == 2


def test_run_query(spark, capsys):
    assert main(["run", "cross_join_region_nation", "--show", "2"]) == 0
    assert "25 rows" in capsys.readouterr().out


def test_full_load_idempotent(spark, tmp_path, capsys):
    assert main(["full-load", "--dest", str(tmp_path)]) == 0
    assert "idempotent" in capsys.readouterr().out


def test_tune_for_working_set_policy(spark):
    from weather_data_data_pipeline_spark.session import (
        SMALL_WORKING_SET_BYTES,
        tune_for_working_set,
    )

    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert tune_for_working_set(spark, SMALL_WORKING_SET_BYTES - 1) is False
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 8
        assert tune_for_working_set(spark, 100 << 40) is True
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", before_parts)


def test_tune_policy_test_restores_the_confs_it_found(spark):
    """The policy test runs on the suite's shared session, so it must
    leave AQE as it found it: every test file after it would otherwise
    run with the value the test last set."""
    found = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for start in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", start)
            test_tune_for_working_set_policy(spark)
            assert spark.conf.get("spark.sql.adaptive.enabled") == start
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", found)
