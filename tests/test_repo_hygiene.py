"""Repository hygiene: no per-round outputs or one-off harnesses.

Measurements and one-off A/B scripts named after a development round
(``BENCH_r16.json``, ``r15_variants.py``) accumulate at the repo root and
under ``scripts/`` and go stale; git history keeps them instead.
"""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ROUND_NUMBERED = re.compile(r"_r\d|^r\d+_")


def test_no_round_numbered_files():
    offenders = [
        str(p.relative_to(ROOT))
        for d in (ROOT, ROOT / "scripts")
        for p in d.iterdir()
        if ROUND_NUMBERED.search(p.name)
    ]
    assert not offenders, f"round-numbered files: {sorted(offenders)}"
