"""Distributed global ranking: row_number / ntile over a TOTAL order.

Spark's own ``Window.orderBy(...)`` without a ``partitionBy`` collapses
the whole input into ONE partition (Catalyst even warns), which is a
dead end at 100 TB. These operators produce the same answer with the
sort distributed:

1. ``repartitionByRange`` on the sort key — Spark range-partitions via
   reservoir sampling, so partition *p* holds a contiguous key range and
   every key in partition *p* sorts before every key in partition *p+1*.
2. ``sortWithinPartitions`` — each partition sorts locally (spillable).
3. A tiny count-per-partition aggregate (one row per partition crosses
   the driver) yields the global offset of each partition.
4. A JVM expression over the cached scan assigns
   ``offset[pid] + local_index + 1``: the offset is looked up by
   ``spark_partition_id()`` in a literal array, and the local index is
   the low 33 bits of ``monotonically_increasing_id()``. No Python
   worker starts (``global_running_sum`` still uses ``mapInPandas``:
   its NULL carries have no shuffle-free JVM form).

The input is persisted between steps 3 and 4: range boundaries come from
sampling, so the two jobs MUST observe the same partitioning and the
same row order. It is persisted rather than checkpointed: a
``localCheckpoint`` would cut the analyzed plan down to a ``LogicalRDD``
stub that ``scripts/plan_hashes.py`` cannot fingerprint. On speed the
two are close (``doc_quality_deciles`` at sf0.1 on 4 vCPUs, medians of
five: 1.32–1.53 s wall with ``persist``, 1.20–1.28 s with
``localCheckpoint(eager=False)``).

With a unique tie-breaker in ``sort_cols`` the rank is fully
deterministic, so results hash-match a single-node oracle's
``row_number() OVER (ORDER BY ...)`` exactly.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# monotonically_increasing_id() = partition index << 33 | row within partition.
_LOCAL_ROW_MASK = (1 << 33) - 1


def _ranked(
    df: DataFrame, sort_cols: list[str], out_col: str, num_partitions: int | None
) -> tuple[DataFrame, int]:
    """Shared core: returns (df + 1-based global row number, total rows)."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    ranged = (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # One tiny job: rows per partition (n rows total to the driver).
    counts = dict(
        ranged.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    offsets = []
    acc = 0
    for pid in range(n):
        offsets.append(acc)
        acc += counts.get(pid, 0)

    # Evaluated in a Project directly over the cached scan, so
    # spark_partition_id() is the range partition and the low 33 bits of
    # monotonically_increasing_id() count rows in sorted order. Both are
    # nondeterministic, which keeps the optimizer from pushing a filter
    # below this Project. coalesce keeps the column non-nullable when
    # ANSI is off (an array subscript is nullable there); pid < n always.
    offsets_sql = ",".join(f"{o}L" for o in offsets)
    rank = F.expr(
        f"coalesce(array({offsets_sql})[spark_partition_id()], 0L)"
        f" + (monotonically_increasing_id() & {_LOCAL_ROW_MASK}L) + 1L"
    )
    return ranged.withColumn(out_col, rank), acc


def global_row_number(
    df: DataFrame,
    sort_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a 1-based global row number under ORDER BY ``sort_cols``.

    Distributed equivalent of
    ``row_number() OVER (ORDER BY sort_cols)`` — same result, but the
    sort runs range-partitioned across the cluster instead of on one
    task. ``sort_cols`` must include a unique tie-breaker for a
    deterministic result.
    """
    out, _ = _ranked(df, sort_cols, out_col, num_partitions)
    return out


def global_ntile(
    df: DataFrame,
    sort_cols: list[str],
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL ``ntile(k) OVER (ORDER BY sort_cols)``, distributed.

    Standard ntile semantics: with n rows, the first ``n % k`` buckets
    get ``n // k + 1`` rows, the rest ``n // k`` — derived arithmetically
    from the global row number, all JVM-side (the total row count falls
    out of the offsets pass for free).
    """
    ranked, n = _ranked(df, sort_cols, "__rn", num_partitions)
    size, rem = divmod(n, k)
    boundary = rem * (size + 1)  # ranks 1..boundary live in the big buckets
    rn0 = F.col("__rn") - 1
    if size == 0:
        bucket = rn0 + 1  # fewer rows than buckets: row i → bucket i+1
    else:
        bucket = F.when(rn0 < boundary, F.floor(rn0 / (size + 1)) + 1).otherwise(
            rem + F.floor((rn0 - boundary) / size) + 1
        )
    return ranked.withColumn(out_col, bucket.cast("long")).drop("__rn")


def global_running_sum(
    df: DataFrame,
    sort_cols: list[str],
    value_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
) -> DataFrame:
    """``sum(value) OVER (ORDER BY sort_cols ROWS UNBOUNDED PRECEDING)``,
    distributed — the global prefix sum single-partition windows can't do
    at scale.

    Same three-step shape as :func:`global_row_number`: range-partition
    on the sort key, one tiny per-partition SUM job to compute each
    partition's starting offset (one row per partition to the driver),
    then a vectorized cumsum per partition with the offset added.
    ``sort_cols`` must include a unique tie-breaker for determinism.
    Sums accumulate in int64 when the input is integral (exact);
    float inputs get per-partition-deterministic ordering, so results
    are reproducible under a fixed partition count.

    NULL handling matches SQL SUM-over-window exactly: NULLs are
    skipped by the accumulation (a NULL row still receives the running
    sum of the preceding non-null values), and the output is NULL only
    while the frame has seen no non-null value at all. The cross-batch
    and cross-partition carries use null-filled cumsums plus a
    non-null-count carry, so a batch or partition ending in NULL cannot
    poison later ones (pandas ``cumsum`` alone would propagate NaN into
    the carry).
    """
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    ranged = (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = {
        r["pid"]: (r["s"], r["c"])
        for r in ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum(value_col).alias("s"), F.count(value_col).alias("c"))
        .collect()
    }
    offsets = {}
    acc, seen = 0, 0
    for pid in range(n):
        offsets[pid] = (acc, seen)
        s, c = totals.get(pid, (0, 0))
        acc += s or 0
        seen += c

    field = df.schema[value_col].dataType
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, field, True)]
    )
    integral = field.simpleString() in ("tinyint", "smallint", "int", "bigint")

    def assign(batches):
        from pyspark import TaskContext

        base, nn_base = offsets.get(TaskContext.get().partitionId(), (0, 0))
        for b in batches:
            v = b[value_col]
            cs = v.fillna(0).cumsum() + base
            nn = v.notna().cumsum() + nn_base
            out = cs.where(nn > 0)
            if integral:
                out = out.astype("Int64")  # nullable int → long, no NaN cast
            b[out_col] = out
            if len(b):
                base = cs.iloc[-1]  # carries are NaN-proof by construction
                nn_base = nn.iloc[-1]
            yield b

    return ranged.mapInPandas(assign, out_schema)


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group with MAP-SIDE TRUNCATION before the shuffle.

    A naive per-group rank shuffles EVERY row of every group to that
    group's reducer — at 100 TB a hot group (one user with 10⁹ events)
    funnels through one task. The truncation that fixes it: each map
    partition ships at most k rows per group, because a group's global
    top-k is contained in the union of its per-partition top-k.

    Implementation note (round 3, measured): Spark ≥3.5's rank-limit
    pushdown (SPARK-37099) performs exactly this truncation NATIVELY —
    the physical plan of `row_number() OVER (PARTITION BY g ORDER BY v)
    <= k` shows `WindowGroupLimit(..., Partial)` above the map-side
    Sort, below the Exchange. Round 2's manual two-phase variant (local
    window over (spark_partition_id, group), then the global window)
    was strictly WORSE here: the optimizer cannot know data is already
    distributed by its own partition id, so the phase-1 window inserted
    an extra Exchange on (spark_partition_id, group) — a full-data
    shuffle the declarative form never pays. Measured in
    scripts/skew_demo.py on 5M rows with a 10%-hot key: the manual form
    shuffled 1.06× the bytes of the plain window and ran 1.27× slower;
    disabling WindowGroupLimit entirely (the pre-3.5 world) shuffled
    42× the bytes (157 MB vs 3.7 MB) at 3.2× the wall time. So this
    wrapper IS the plain window — "declare the
    plan, let Catalyst truncate" — and pins the contract (deterministic
    total order via ``tiebreak_cols``, int ``rank_col``, k filter);
    tests/test_ranking.py asserts WindowGroupLimit(Partial) is present
    in the executed plan so a conf/version regression cannot silently
    restore the unbounded shuffle.
    """
    from pyspark.sql import Window

    _warn_if_no_window_group_limit(df.sparkSession)
    tb = tiebreak_cols or []
    direction = F.asc if ascending else F.desc
    order = [direction(order_col)] + [F.asc(c) for c in tb]
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("int"))
        .where(F.col(rank_col) <= k)
    )


_WGL_WARNED = False


def _warn_if_no_window_group_limit(spark) -> None:
    """ADVICE r3: grouped_topk's scale contract rests entirely on
    SPARK-37099 (WindowGroupLimit, Spark ≥ 3.5). On an older runtime —
    or with the rule excluded via ``spark.sql.optimizer.excludedRules``
    — the same plan silently reverts to shuffling WHOLE groups. Warn
    once per process so library consumers outside this repo's test
    suite (which pins the executed plan) aren't silently unprotected."""
    global _WGL_WARNED
    if _WGL_WARNED:
        return
    _WGL_WARNED = True
    import warnings

    try:
        major, minor = (int(x) for x in spark.version.split(".")[:2])
        old = (major, minor) < (3, 5)
    except Exception:
        old = False
    excluded = (
        spark.conf.get("spark.sql.optimizer.excludedRules", "") or ""
    )
    if old or "WindowGroupLimit" in excluded:
        warnings.warn(
            "grouped_topk: WindowGroupLimit (SPARK-37099) is unavailable "
            f"(spark={spark.version}, excludedRules={excluded!r}); the "
            "rank-limit window will shuffle entire groups instead of "
            "map-side-truncating to k rows per group. Upgrade to Spark "
            ">= 3.5 or re-enable the rule before running at scale.",
            RuntimeWarning,
            stacklevel=3,
        )
