"""Join operators (SURVEY.md §2.3).

The reference's only join is the composite-key left-anti dedup join
(J1, ref full_load:163-167); an engine needs the whole family. These are
thin, intention-revealing wrappers that also encode the scale posture:
broadcast small sides explicitly, leave big joins to Catalyst/AQE.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join_dedup(
    new_rows: DataFrame, destination: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J1: keep only rows whose composite key is absent from destination.

    This is the reference's idempotent-append primitive. Physical plan:
    Catalyst picks broadcast-hash anti when the destination key set fits
    under the broadcast threshold, else shuffled hash / sort-merge; AQE can
    flip to broadcast at runtime. At 100 TB the destination side should be
    pre-bucketed on the key so the anti join co-locates without a shuffle.
    """
    dest_keys = destination.select(*keys).dropDuplicates(list(keys))
    return new_rows.join(dest_keys, on=list(keys), how="left_anti")


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on: Sequence[str] | None = None, how: str = "inner"
) -> DataFrame:
    """Star-schema fact⋈dimension with an explicit broadcast hint —
    the dimension never shuffles the fact table."""
    return fact.join(F.broadcast(dim), on=list(on) if on else None, how=how)
