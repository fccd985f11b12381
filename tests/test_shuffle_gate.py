"""The shuffle-volume gate (scripts/check_shuffle_bytes.py). Its verdict
(``compare``) is pinned without a Spark session: growth beyond 1.30x +
1 MB fails, new and stale queries are info, and a missing baseline
accepts nothing unless --update. Its measurement is pinned on the test
session: a query measures the same bytes however often it runs, and a
stage that two jobs list counts once."""

import importlib.util
from pathlib import Path

import pytest

from tests.conftest import SF_DIR
from weather_data_data_pipeline_spark import registry

_PATH = Path(__file__).resolve().parent.parent / "scripts" / "check_shuffle_bytes.py"
_spec = importlib.util.spec_from_file_location("check_shuffle_bytes", _PATH)
gate = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gate)

PREV = 10_000_000
BOUND = 14_048_576  # 10 MB * 1.30 + 1 MiB


def test_growth_just_over_the_bound_fails():
    failures, infos = gate.compare({"q": BOUND + 1}, {"q": PREV}, update=False)
    assert len(failures) == 1 and failures[0].startswith("q:")
    assert infos == []


def test_growth_exactly_at_the_bound_passes():
    assert gate.compare({"q": BOUND}, {"q": PREV}, update=False) == ([], [])


def test_new_and_stale_queries_are_info_only():
    failures, infos = gate.compare(
        {"kept": PREV, "new_q": 5 * PREV}, {"kept": PREV, "gone_q": PREV},
        update=False,
    )
    assert failures == []
    assert len(infos) == 2
    assert infos[0].startswith("new_q:") and infos[1].startswith("gone_q:")


def test_update_does_not_report_the_queries_it_accepts():
    failures, infos = gate.compare({"new_q": PREV}, {}, update=True)
    assert (failures, infos) == ([], [])


def test_missing_baseline_accepts_only_under_update():
    now = {"a": PREV, "b": 0}
    failures, _ = gate.compare(now, None, update=False)
    assert len(failures) == 1
    assert gate.compare(now, None, update=True) == ([], [])


def test_a_rerun_measures_the_same_shuffle_bytes(spark):
    """``release_transients`` drops the cache entry a query added (here
    the range-partitioned input ``operators.ranking`` persists), so a
    second run shuffles again instead of reading the first run's
    cached rows and measuring next to nothing."""
    fn = registry.get_query("event_value_global_deciles").fn
    keep = gate.persistent_ids(spark)
    measured = []
    for run in range(2):
        _, shuffled = gate.run_in_group(spark, fn, SF_DIR, f"gate-rerun-{run}")
        gate.release_transients(spark, keep)
        measured.append(shuffled)
    # the same bytes, up to compression jitter
    assert measured[0] > 0 and measured[1] == pytest.approx(measured[0], rel=0.01), measured


def test_a_stage_two_jobs_list_counts_once(spark):
    """Two jobs that run at the same time over one shuffle share its map
    stage: both list the same stage id, and its bytes were written once.
    So the group measures what one job over that shuffle measures."""
    import threading
    import time

    sc = spark.sparkContext

    def slow(rows):
        time.sleep(1.5)  # keeps the map stage running while job 2 starts
        return rows

    def run_group(group, jobs):
        shuffled = (
            sc.parallelize(range(2000), 4)
            .mapPartitions(slow)
            .map(lambda x: (x % 7, x))
            .reduceByKey(lambda a, b: a + b, 3)
        )

        def action():
            sc.setJobGroup(group, group)
            shuffled.count()

        threads = [threading.Thread(target=action) for _ in range(jobs)]
        for t in threads:
            t.start()
            time.sleep(0.5)
        for t in threads:
            t.join()
        st = sc.statusTracker()
        stage_lists = [
            list(st.getJobInfo(j).stageIds) for j in st.getJobIdsForGroup(group)
        ]
        return gate.shuffle_bytes_for_group(spark, group), stage_lists

    one, _ = run_group("gate-shared-stage-1", 1)
    two, stage_lists = run_group("gate-shared-stage-2", 2)
    listed = [sid for stages in stage_lists for sid in stages]
    assert len(listed) > len(set(listed)), stage_lists  # a shared stage
    assert one > 0 and two == one, (one, two)
