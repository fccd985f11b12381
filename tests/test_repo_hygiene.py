"""Repository hygiene: no per-round outputs or one-off harnesses.

Measurements and one-off A/B scripts named after a development round
(``BENCH_r16.json``, ``r15_variants.py``) accumulate at the repo root and
under ``scripts/`` and go stale; git history keeps them instead. The
same holds for round-numbered runners inside a script (``def runr5``,
``QUERIES_R14``) and for a second timing harness beside ``perfbench/``.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ROUND_NUMBERED = re.compile(r"_r\d|^r\d+_")
ROUND_NAME = re.compile(r"(?:^run|_)r\d+[a-z]?$", re.IGNORECASE)


def _scripts():
    for d in (ROOT, ROOT / "scripts"):
        for p in sorted(d.glob("*.py")):
            yield p.relative_to(ROOT), ast.parse(p.read_text())


def test_no_round_numbered_files():
    offenders = [
        str(p.relative_to(ROOT))
        for d in (ROOT, ROOT / "scripts")
        for p in d.iterdir()
        if ROUND_NUMBERED.search(p.name)
    ]
    assert not offenders, f"round-numbered files: {sorted(offenders)}"


def test_no_round_numbered_names():
    offenders = []
    for rel, tree in _scripts():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            offenders += [f"{rel}: {n}" for n in names if ROUND_NAME.search(n)]
    assert not offenders, f"round-numbered names: {offenders}"


def test_no_bench_harness_import():
    offenders = []
    for rel, tree in _scripts():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                mods = [node.module or ""]
            else:
                continue
            offenders += [
                f"{rel}: {m}" for m in mods if m.split(".")[0] == "bench"
            ]
    assert not offenders, f"imports of the retired bench harness: {offenders}"
