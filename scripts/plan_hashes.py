#!/usr/bin/env python
"""Plan-hash gate: normalized ANALYZED-plan fingerprints per query.

This script analyzes every ORACLE-BEARING registered query at sf0.01,
normalizes its ANALYZED logical plan (see ``formatted_plan`` for why
not the physical plan), compares the fingerprints with
``scripts/plan_hashes.json``::

    {query: sha256-hex}

and reports which plans changed and which queries are new. A changed
hash means the authored query changed: run it through
``scripts/driver_mirror.py`` and say so in CHANGES.md, then rewrite the
file (run without ``--dry-run``).

Normalization (what makes a fingerprint stable across sessions):
- expression IDs  ``#123`` / ``#123L``          → ``#x``
- plan ids        ``plan_id=42``                 → ``plan_id=x``
- filesystem paths ``file:/...`` and ``[...parquet...]`` location blobs
  (index-building queries write to per-run temp dirs) → ``<path>``
- byte/row statistics ``Statistics(...)``        → elided
- global-rank partition offsets ``array(0, 316, …)[SPARK_PARTITION_ID()]``
  (data-derived per run, operators/ranking.py) → ``array(<offsets>)``
Queries whose plan embeds genuinely run-varying content (random temp
table names inside SQL text, literal timestamps) report CHANGED on
every run.

SCOPE CAVEAT — checkpoint-truncated plans (ADVICE r15 #5): a query that
eagerly localCheckpoints an intermediate (span_dedup_profile,
winnowing_overlap_pairs, the _pair_overlap family, minhash pair
queries) hashes a plan whose upstream lineage is a LogicalRDD stub, so
the fingerprint does NOT attest the checkpointed helper's lineage —
exactly the blindness the snapshot_* write side has (their plan is a
post-write scan). A change to one of those HELPERS is invisible here:
list it in CHANGES.md and run its queries through
``scripts/driver_mirror.py``.

SCOPE CAVEAT — AQE-posture-dependent plans (ADVICE r16):
``functions/winnow.py:hot_cut_side`` reads the session's AQE conf at
plan build and hints the join only when AQE is off. This script's
session is ``get_spark``'s default (AQE on), so the file fingerprints
only the unhinted variant of the winnow queries; the hinted plan that
runs under ``tune_for_working_set``'s small-data posture (AQE off) is
never fingerprinted. A change to the hinted side is invisible here
too; treat it like the checkpointed helpers above.

(The physical-plan protocol this replaced had two measured leaks —
CBO statistics from predecessors' eager actions, and a cached-table
flap on ``embedding_drift_by_label`` — both gone under analyzed-plan
hashing with cold per-query state.)

The file was written with 32 shuffle partitions. Analyzed plans that
embed the partition count (``repartitionByRange(n, ...)`` in
operators/ranking.py, the semantic-dedup and packing queries) hash
differently under any other ``SPARK_GRAFT_CPUS``, so pin it.

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/plan_hashes.py            # report, rewrite the file
    SPARK_GRAFT_CPUS=32 python scripts/plan_hashes.py --dry-run  # report, no write
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
import sys

sys.path.insert(0, ".")

from weather_data_data_pipeline_spark import registry  # noqa: E402
from weather_data_data_pipeline_spark.session import get_spark  # noqa: E402

import os

HASH_FILE = os.path.join(os.path.dirname(__file__), "plan_hashes.json")
SF_DIR = "/root/testdata/sf0.01"

_NORM = (
    (re.compile(r"#\d+L?"), "#x"),
    # higher-order-function lambda variables are named from a
    # session-GLOBAL counter (x_35, y_96, ...) — the value depends on
    # how many lambdas earlier queries created, so it must not
    # fingerprint
    (re.compile(r"\blambda ([A-Za-z])\w*_\d+"), r"lambda \1_"),
    (re.compile(r"\b([a-z])_\d+#"), r"\1_#"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"file:/[^\s,\]\)]+"), "<path>"),
    (re.compile(r"\[[^\[\]]*\.parquet[^\[\]]*\]"), "[<path>]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(<elided>)"),
    (re.compile(r"Location: \S+ \[<path>?[^\]]*\]?"), "Location: <path>"),
    # operators/ranking.py:_ranked writes each range partition's row
    # offset into the plan; the range bounds come from a sample, so the
    # offsets differ from run to run on unchanged data
    (
        re.compile(r"array\([^()]*\)\[SPARK_PARTITION_ID\(\)\]"),
        "array(<offsets>)[SPARK_PARTITION_ID()]",
    ),
)


def normalize(plan: str) -> str:
    for pat, rep in _NORM:
        plan = pat.sub(rep, plan)
    return plan


def formatted_plan(spark, df) -> str:
    """The ANALYZED logical plan — the gate's question is "did the
    author change this query", and the analyzed plan is a pure function
    of the query expression + input schemas. The PHYSICAL plan is not:
    it folds in cache state and CBO statistics that other queries'
    eager actions (index builds, seed collects) mutate mid-sweep, so a
    code change to one operator re-fingerprinted ~97 untouched queries
    (r14). Physical-shape regressions are separately gated by
    scripts/explain_audit.py (Exchange counts) and
    scripts/check_shuffle_bytes.py (volume)."""
    return df._jdf.queryExecution().analyzed().toString()


def compute_hashes() -> dict[str, str]:
    """Fingerprint every oracle-bearing query under an ORDER-INVARIANT
    protocol: COLD session state per query (caches cleared before each
    explain), alphabetical sweep. Query fns make plan choices off
    session state (cache substitution, ``load_fanout``'s
    getNumPartitions branch), so any shared warmth would make a
    fingerprint depend on which queries ran before it — one new query
    would then spuriously re-fingerprint untouched ones."""
    from weather_data_data_pipeline_spark.sources.tables import clear_cache

    spark = get_spark(app_name="plan_hashes")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, str] = {}
    for name in sorted(registry.query_names()):
        q = registry.get_query(name)
        if q.oracle is None:
            continue  # rows-only: no oracle twin, checked by their closures
        # COLD state per query: fns make plan choices off session state
        # (load_fanout's getNumPartitions branch reads the table cache),
        # so any shared warmth makes a fingerprint depend on which
        # queries ran before it — one new alphabetically-early query
        # re-fingerprinted dozens of untouched ones until this reset
        clear_cache()
        spark.catalog.clearCache()
        try:
            plan = formatted_plan(spark, q.fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            print(f"  ! {name}: explain failed: {e}", file=sys.stderr)
            continue
        out[name] = hashlib.sha256(
            normalize(plan).encode("utf-8")
        ).hexdigest()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()

    try:
        with open(HASH_FILE) as f:
            prev = json.load(f)
    except FileNotFoundError:
        prev = {}

    now = compute_hashes()
    new = sorted(set(now) - set(prev))
    changed = sorted(n for n in set(now) & set(prev) if now[n] != prev[n])
    for name in sorted(set(prev) - set(now)):
        print(f"  dropped (no longer oracle-bearing): {name}")

    print(
        f"stable: {len(now) - len(changed) - len(new)}  "
        f"changed: {len(changed)}  new: {len(new)}"
    )
    for name in changed:
        print(f"  plan CHANGED: {name}")
    if not args.dry_run:
        with open(HASH_FILE, "w") as f:
            json.dump(now, f, indent=1, sort_keys=True)
        print(f"wrote {HASH_FILE} ({len(now)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
