"""Shared fixtures: one local SparkSession per test run + a DuckDB oracle
harness that mirrors the driver's correctness gate (row count, schema
width, order-insensitive value comparison)."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import settings
from hypothesis.configuration import set_hypothesis_home_dir

from weather_data_data_pipeline_spark.session import get_spark
from weather_data_data_pipeline_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"

# Hypothesis otherwise keeps its example database in .hypothesis/ in the
# checkout; the suite writes nothing there.
settings.register_profile("no-database", database=None)
settings.load_profile("no-database")


@pytest.fixture(scope="session", autouse=True)
def _hypothesis_storage(tmp_path_factory):
    # Even without a database, Hypothesis caches its unicode tables under
    # .hypothesis/unicode_data in the working directory.
    set_hypothesis_home_dir(str(tmp_path_factory.mktemp("hypothesis")))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # local[8] (r16, VERDICT r15 #9 suite-wall cut): the box has ≥32
    # cores and the suite is wall-bound on many small Spark jobs;
    # shuffle_partitions stays 4 so every partition-count-sensitive
    # assertion (and all determinism pins) sees the same layout as
    # before — only idle-core task slots changed. Env-overridable for
    # same-box A/Bs of the fixture width itself.
    import os

    cores = os.environ.get("SPARK_GRAFT_TEST_CORES", "8")
    # The session's warehouse and Derby home live in a temp dir, so the
    # suite writes nothing into the checkout and stale state there (a
    # leftover spark-warehouse/layout_test.db) cannot fail a test.
    home = tmp_path_factory.mktemp("session")
    spark = get_spark(
        app_name="engine-tests",
        master=f"local[{cores}]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": str(home / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={home} "
                f"-Dderby.stream.error.file={home}/derby.log"
            ),
            # AQE off for the suite (r16 wall cut): every sub-second
            # assertion query otherwise pays AQE's stage-by-stage
            # re-plan latency (measured 70-190 ms/query at sf0.1) for
            # shuffles that are all tiny and skew-free here. Values are
            # AQE-independent; AQE mechanics keep dedicated coverage in
            # test_layout.py::test_aqe_splits_skewed_join_partitions
            # (explicitly enables it) and the posture-dependent guard
            # test in test_winnow.py. Driver/mirror correctness
            # sessions are separate and keep their own defaults.
            "spark.sql.adaptive.enabled": "false",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _cells_equal(a, b, rel=1e-9, abs_tol=1e-9) -> bool:
    a, b = _norm_cell(a), _norm_cell(b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_tol)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def assert_matches_oracle(spark_df, duck_con, sql: str, exact: bool = False):
    """Driver-gate mirror: sort columns by name, sort rows, compare —
    including ARROW-LEVEL types (VERDICT r3 ask #2: the driver hashes
    typed values, so DuckDB widening sum(BIGINT)→HUGEINT must FAIL here
    even though fetchall() flattens both sides to Python int).

    ``exact=False`` allows 1e-9 float tolerance for local iteration; the
    real gate hashes values, so queries are designed to be bit-identical
    anyway (decimal sums, explicit rounding).
    """
    from weather_data_data_pipeline_spark.oracle_types import type_mismatches

    cols = sorted(spark_df.columns)
    s_rows = [tuple(r[c] for c in cols) for r in spark_df.collect()]

    o_schema = duck_con.execute(sql).arrow().schema
    tmis = type_mismatches(spark_df.schema, o_schema, cols)
    assert not tmis, f"oracle type mismatch (driver hash would fail): {tmis}"
    o = duck_con.execute(sql)
    o_cols = [d[0] for d in o.description]
    assert sorted(o_cols) == cols, f"column mismatch: spark={cols} oracle={sorted(o_cols)}"
    idx = [o_cols.index(c) for c in cols]
    o_rows = [tuple(r[i] for i in idx) for r in o.fetchall()]

    assert len(s_rows) == len(o_rows), f"row count: spark={len(s_rows)} oracle={len(o_rows)}"

    key = lambda row: tuple(  # noqa: E731
        (str(type(v)), str(_norm_cell(v))) for v in row
    )
    s_rows.sort(key=key)
    o_rows.sort(key=key)
    mismatches = []
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        for c, sv, ov in zip(cols, sr, orow):
            ok = (sv == ov) if exact else _cells_equal(sv, ov)
            if not ok:
                mismatches.append((i, c, sv, ov))
                if len(mismatches) >= 5:
                    break
        if len(mismatches) >= 5:
            break
    assert not mismatches, f"value mismatches (row, col, spark, oracle): {mismatches}"
