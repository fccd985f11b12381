"""Shared on-disk index IO for the serving probes.

Since r13 the persisted index layouts use CANONICAL column names —
``postings`` = (id[, pos], h), ``sizes`` = (id, n_fp) — regardless of
what the build-side frame called its id column (ADVICE r12). Indexes
persisted BEFORE that change carry the build frame's own id column name
(e.g. ``doc_id``), and a probe reading one used to fail with an opaque
unresolved-column ``id`` AnalysisException (ADVICE r13 #3). This module
is the one place probes read postings through: it recognizes the legacy
layout and falls back (renaming the stray column to ``id``), and raises
a clear rebuild message when the schema is neither.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def read_postings(
    spark, path: str, expected: tuple[str, ...]
) -> DataFrame:
    """Read ``<path>/postings`` with canonical columns ``expected``
    (``("id", "h")`` for winnow, ``("id", "pos", dedup.MEM_HASH_COL)``
    for MEM). A MEM index that stores its hash as ``h`` holds the older
    gram-string hash, which the current probe cannot match, so it falls
    through to the rebuild error below.

    Legacy fallback: a pre-r13 index has every expected column except
    ``id`` plus exactly ONE extra column (the build frame's id name) —
    that column is renamed to ``id``. Anything else raises a clear
    "rebuild the index" error instead of an unresolved-column
    AnalysisException deep inside the probe plan.
    """
    df = spark.read.parquet(f"{path}/postings")
    cols = set(df.columns)
    want = set(expected)
    if want <= cols:
        return df.select(*expected)
    rest = set(expected) - {"id"}
    extra = cols - rest
    if rest <= cols and len(extra) == 1:
        legacy = next(iter(extra))
        return df.withColumnRenamed(legacy, "id").select(*expected)
    raise ValueError(
        f"postings at {path!r} have columns {sorted(cols)}, expected "
        f"{list(expected)} or a single legacy id column in place of "
        "'id' — this index predates the current layout; rebuild it "
        "with build_mem_index / build_winnow_index"
    )
