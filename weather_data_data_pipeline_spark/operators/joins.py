"""Join operators (SURVEY.md §2.3).

The reference's only join is the composite-key left-anti dedup join
(J1, ref full_load:163-167). Every other join in the engine is a plain
``DataFrame.join`` at its call site: broadcast small sides explicitly,
leave big joins to Catalyst/AQE.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def anti_join_dedup(
    new_rows: DataFrame, destination: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J1: keep only rows whose composite key is absent from destination.

    This is the reference's idempotent-append primitive. A left-anti
    join emits each left row at most once however often its key repeats
    on the right, so the destination keys need no dedup first.

    Physical plan: Catalyst picks broadcast-hash anti when the
    destination key set fits under the broadcast threshold, else
    shuffled hash / sort-merge; AQE can flip to broadcast at runtime. At
    100 TB the destination side should be pre-bucketed on the key so the
    anti join co-locates without a shuffle.
    """
    return new_rows.join(
        destination.select(*keys), on=list(keys), how="left_anti"
    )
