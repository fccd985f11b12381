#!/usr/bin/env python3
"""Regenerate perfbench/golden.json: the expected result fingerprint of
every query in the benchmark's query mixes, computed by the DuckDB
oracle (``registry.oracle_sql()``) over the benchmark's generated tables.

    python3 perfbench/make_golden.py

Run from the root of a checkout. Every run of ``run.py`` compares each
timed query with these fingerprints, so one run per query workload
verifies a regenerated file against Spark.
"""

from __future__ import annotations

import json
import sys

import run as bench

sys.path[:0] = [str(bench.ROOT), str(bench.ROOT / "scripts")]

import datagen  # noqa: E402


def main() -> int:
    import duckdb

    from weather_data_data_pipeline_spark import registry

    bench.WORK.mkdir(exist_ok=True)
    data = datagen.ensure(str(bench.WORK / "data"), bench.SF, bench.DATA_SEED)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracles = registry.oracle_sql()
    golden = {}
    for name in sorted({*bench.RELATIONAL_MIX, *bench.LLM_MIX}):
        tbl = con.execute(oracles[name]).arrow()
        golden[name] = bench.fingerprint(tbl.to_pylist(), tbl.schema.names)
    out = {"sf": bench.SF, "data_seed": bench.DATA_SEED, "queries": golden}
    (bench.HERE / "golden.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(golden)} fingerprints")
    return 0


if __name__ == "__main__":
    sys.exit(main())
