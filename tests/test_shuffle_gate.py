"""The shuffle-volume gate's verdict (scripts/check_shuffle_bytes.py:
``compare``), pinned without a Spark session: growth beyond 1.30x + 1 MB
fails, new and stale queries are info, and a missing baseline accepts
nothing unless --update."""

import importlib.util
from pathlib import Path

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
