"""Distributed k-means (Lloyd's algorithm) over embedding columns.

Complements the sampled driver-side quantizer in ``similarity.py``
(`train_ivf_centroids`, which trains on a bounded sample): here every
iteration aggregates over the FULL corpus, so the result is the true
Lloyd's fixed point, not a sample approximation.

Scale shape (the part that matters at 100 TB):
- Centroids are broadcast as literal column expressions — no join, no
  shuffle of the corpus for assignment; distance math is JVM-side
  higher-order functions in double precision.
- Each iteration is ONE map-side-combinable HashAggregate producing
  k rows of (count, sse, per-dimension running sums). Only
  k × (dim + 2) doubles ever reach the driver per iteration.
- Ties break to the lowest cluster id (struct array_min ordering), so
  assignment is deterministic under any partitioning.

The reference has no clustering operator; this extends the engine for
the training-data-pipeline north star (corpus bucketing / topic
stratification before sampling).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _centroid_lit(vec: list[float]) -> Column:
    # ONE from_json string literal instead of F.array(*[F.lit(x) ...]):
    # the per-element form costs dim py4j round trips at plan build AND
    # hands Catalyst a dim-child CreateArray that every analyzer/
    # optimizer traversal walks until constant folding (k centroids ×
    # 64 dims ≈ 0.4 s of pure driver time per embedding_outlier_zscores
    # build, measured r15). json.dumps emits shortest-round-trip float
    # reprs, so the folded array<double> Literal is value-identical.
    import json
    import math

    vals = [float(x) for x in vec]
    # fail LOUDLY at plan build on a non-finite component (ADVICE r15):
    # json.dumps would emit NaN/Infinity tokens, which from_json in
    # PERMISSIVE mode silently turns into a NULL ARRAY — every distance
    # downstream would go NULL instead of erroring like the old
    # per-element F.lit form did.
    if not all(math.isfinite(v) for v in vals):
        raise ValueError(f"non-finite centroid component in {vals!r}")
    return F.from_json(F.lit(json.dumps(vals)), "array<double>")


def _sq_dist(vec: Column, cent: Column) -> Column:
    """Squared L2 distance, summed in index order (double precision)."""
    return F.aggregate(
        F.zip_with(vec, cent, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def nearest_centroid(
    vec: Column | str, centroids: list[list[float]]
) -> Column:
    """struct(dist2, cluster) of the nearest centroid; ties → lowest id.

    k distance expressions evaluated inline per row, argmin via
    array_min's struct ordering — no join, no UDF. The stage around
    them is whole-stage codegen, but the ``zip_with``/``aggregate``
    lambdas are higher-order functions, which Spark interprets: each
    row walks the expression tree once per centroid and dimension.

    Pass the vector column by NAME to get the single-parse build (r16,
    guide §4 applied to the driver): composing the k zip_with/aggregate
    lambdas through the Column API costs hundreds of py4j round trips
    per build (measured 2.8k commands on embedding_outlier_zscores);
    one F.expr string parses the identical expression tree in one
    round trip. The Column path remains for computed vectors.
    """
    if isinstance(vec, str):
        import json
        import math

        if not all(
            math.isfinite(float(x)) for c in centroids for x in c
        ):
            raise ValueError("non-finite centroid component")
        branches = ", ".join(
            "named_struct('dist2', aggregate(zip_with(`{v}`, "
            "from_json('{j}', 'array<double>'), (x, y) -> "
            "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0.0D, "
            "(acc, v) -> acc + v), 'cluster', {i})".format(
                v=vec, j=json.dumps([float(x) for x in c]), i=i
            )
            for i, c in enumerate(centroids)
        )
        return F.expr(f"array_min(array({branches}))")
    return F.array_min(
        F.array(
            *[
                F.struct(
                    _sq_dist(vec, _centroid_lit(c)).alias("dist2"),
                    F.lit(i).alias("cluster"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist2): nearest-centroid assignment for every row.

    One narrow projection over the corpus — the centroid table rides
    along as literals, so nothing shuffles and nothing is collected.
    """
    best = nearest_centroid(vec_col, centroids)
    return df.select(
        F.col(id_col),
        best["cluster"].alias("cluster"),
        best["dist2"].alias("dist2"),
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float]]:
    """Full-corpus Lloyd's k-means; returns (centroids, inertia_history).

    Init is deterministic: the embeddings of the ``k`` lowest ids.
    Each iteration runs one aggregation job; ``inertia_history[i]`` is
    the SSE under the centroids used for iteration i's assignment, so
    the sequence is non-increasing (monotone convergence, the Lloyd
    invariant the unit tests check). Empty clusters keep their previous
    centroid.
    """
    init = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r["_v"]] for r in init]
    dim = len(cents[0])
    history: list[float] = []
    for _ in range(iters):
        best = nearest_centroid(vec_col, cents)
        assigned = df.select(
            F.col(vec_col).alias("_v"),
            best["cluster"].alias("cluster"),
            best["dist2"].alias("dist2"),
        )
        stats = (
            assigned.groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                F.sum("dist2").alias("sse"),
                *[
                    F.sum(F.col("_v").getItem(i).cast("double")).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        history.append(float(sum(r["sse"] for r in stats)))
        by_cluster = {r["cluster"]: r for r in stats}
        for c in range(k):
            r = by_cluster.get(c)
            if r is not None and r["n"] > 0:
                cents[c] = [r[f"s{i}"] / r["n"] for i in range(dim)]
    return cents, history


def cluster_profile(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster size and SSE under fixed centroids — the evaluation
    twin of :func:`assign_clusters` (one aggregation, k output rows)."""
    return (
        assign_clusters(df, centroids, id_col, vec_col)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("dist2"), 4).alias("sse"),
        )
    )


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 6,
) -> list[tuple[int, int, "object"]]:
    """Greedy k-center (farthest-point traversal, Gonzalez 1985): pick
    the lowest id as the seed, then ``k - 1`` times pick the point
    farthest (max over the pool of min squared-L2 distance to the
    selected set). Returns ``[(rank, id, dist)]`` where ``dist`` is the
    point's min distance to the previously selected set at the moment
    it was chosen — the running coverage radius (None for the seed).

    The 2-approximation coreset for the k-center objective; as a data
    selector it picks a maximally spread subset (diversity sampling).

    Determinism contract: each candidate's squared distance is computed
    by an index-order double fold (:func:`_sq_dist`), rounded to
    ``dist_scale`` dp and CAST to decimal before any comparison, and
    argmax ties break to the lowest id — so the selection replays
    exactly in any engine that folds doubles in index order.

    Scale shape: each round is ONE map-side-combinable aggregate over
    the pool computing ``max(struct(mind, -id, vec))`` — the new
    center's embedding rides along in the max struct, so no second
    lookup pass. The min-distance column chains via ``least`` on the
    cached pool; total work O(n·k²·d) expression-only, nothing but one
    struct row per round reaches the driver.
    """
    dec = f"decimal(38,{dist_scale})"
    seed = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .orderBy("_i")
        .limit(1)
        .collect()[0]
    )
    selected: list[tuple[int, int, object]] = [(1, seed["_i"], None)]
    center = [float(x) for x in seed["_v"]]
    base = (
        df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .where(F.col("_i") != F.lit(seed["_i"]))
        .persist()
    )
    mind = F.round(_sq_dist(F.col("_v"), _centroid_lit(center)), dist_scale).cast(dec)
    pool = base.select("_i", "_v", mind.alias("_mind"))
    for rank in range(2, k + 1):
        top = pool.agg(
            F.max(
                F.struct(
                    F.col("_mind").alias("d"),
                    (-F.col("_i")).alias("ni"),
                    F.col("_v").alias("v"),
                )
            ).alias("t")
        ).collect()[0]["t"]
        if top is None:  # pool exhausted (k > n)
            break
        chosen_id = -top["ni"]
        selected.append((rank, chosen_id, top["d"]))
        if rank == k:
            break
        center = [float(x) for x in top["v"]]
        d_new = F.round(
            _sq_dist(F.col("_v"), _centroid_lit(center)), dist_scale
        ).cast(dec)
        pool = pool.where(F.col("_i") != F.lit(chosen_id)).select(
            "_i", "_v", F.least(F.col("_mind"), d_new).alias("_mind")
        )
    base.unpersist()
    return selected


def _round_half_up(arr, scale: int):
    """HALF_UP decimal rounding of a float64 array — Spark's
    ``F.round(double, n)`` is BigDecimal.valueOf(x).setScale(n,
    HALF_UP), i.e. shortest-repr-string based half-up, NOT numpy's
    half-to-even: np.round diverges on EVERY exact half boundary.
    Python ``repr(float)`` is the same shortest round-trip form
    Double.toString produces (modulo pre-JDK19 non-shortest anomalies
    on pathological doubles), so this replays the Spark rounding."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    q = Decimal(1).scaleb(-scale)
    return np.array(
        [
            float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))
            for x in arr
        ],
        dtype="float64",
    )


def _greedy_kcenter_np(ids, V, k: int, dist_scale: int = 6):
    """Driver/worker-local exact Gonzalez greedy over a numpy pool:
    seed = lowest id, then argmax of rounded min squared distance,
    ties to the lowest id — the same determinism contract as
    :func:`kcenter_select` AFTER the HALF_UP rounding at
    ``dist_scale`` (see :func:`_round_half_up`): numpy's reduction
    uses 8-way unrolled partial sums even below its 128-element
    pairwise block (ADVICE r10 #3), so for dim > 8 the raw double may
    differ from :func:`_sq_dist`'s strict index-order fold in the
    last bits — the agreement :func:`kcenter_select` relies on is the
    ROUNDED 6-dp value, where a last-bit discrepancy would need a sum
    sitting within ~1e-10 of a rounding boundary to surface (pinned
    against the Spark traversal in tests/test_clustering.py). Returns
    [(rank, id, dist|None)] plus the selected vectors."""
    import numpy as np

    order = np.argsort(ids)
    ids = ids[order]
    V = V[order]
    sel = [0]
    out = [(1, int(ids[0]), None)]
    mind = _round_half_up(((V - V[0]) ** 2).sum(axis=1), dist_scale)
    mind[0] = -np.inf
    for rank in range(2, min(k, len(ids)) + 1):
        # argmax with ties to the LOWEST id: ids ascending, so the
        # first occurrence of the max is the winner
        j = int(np.argmax(mind))
        out.append((rank, int(ids[j]), float(mind[j])))
        sel.append(j)
        if rank == k:
            break
        d_new = _round_half_up(((V - V[j]) ** 2).sum(axis=1), dist_scale)
        mind = np.minimum(mind, d_new)
        mind[j] = -np.inf
    return out, V[sel]


def kcenter_select_composable(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_scale: int = 6,
    per_partition: int | None = None,
) -> list[tuple[int, int, "object"]]:
    """Greedy k-center, COMPOSABLE-CORESET formulation — the 100 TB
    path for :func:`kcenter_select`. The exact Gonzalez traversal is
    inherently k sequential global argmax rounds (k Spark jobs); this
    variant does ONE distributed pass: each partition runs the same
    greedy locally and emits its ``per_partition`` (default 2k)
    farthest-point candidates, then the driver runs the exact greedy
    over the candidate union (partitions × 2k rows — thousands, not
    the corpus). Per-partition Gonzalez prefixes are a composable
    coreset for the k-center objective (Indyk et al., NIPS 2014:
    composing constant-factor coresets keeps a constant-factor
    coverage-radius guarantee), so the merged pick's radius is within
    a small constant of the exact greedy's — and on one partition the
    result IS the exact greedy (pinned in tests/test_clustering.py).

    Scale shape: one narrow mapInPandas pass (no shuffle), candidates
    only to the driver. Use the exact k-round form when bit-replayable
    selection matters (its oracle unrolls the traversal); use this
    when the corpus is large enough that k separate passes dominate.
    """
    import numpy as np

    cap = int(per_partition or 2 * k)

    def gen(batches):
        import pandas as pd

        ids_parts, v_parts = [], []
        for b in batches:
            ids_parts.append(b[id_col].to_numpy())
            v_parts.append(
                np.stack(
                    [np.asarray(v, dtype="float64") for v in b[vec_col]]
                )
            )
        if not ids_parts:
            return
        ids = np.concatenate(ids_parts)
        V = np.vstack(v_parts)
        picks, _ = _greedy_kcenter_np(ids, V, cap, dist_scale)
        keep = np.isin(ids, [p[1] for p in picks])
        yield pd.DataFrame(
            {
                id_col: ids[keep],
                vec_col: [row.tolist() for row in V[keep]],
            }
        )

    # NULL embeddings cannot be k-center points (ragged np.stack crash
    # — r14 embeddings NULL audit); zero vectors are legitimate L2
    # points and stay
    cand = (
        df.where(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .mapInPandas(gen, f"{id_col} long, {vec_col} array<double>")
        .collect()
    )
    if not cand:
        return []
    ids = np.array([r[id_col] for r in cand], dtype="int64")
    V = np.stack([np.asarray(r[vec_col], dtype="float64") for r in cand])
    picks, _ = _greedy_kcenter_np(ids, V, k, dist_scale)
    return [
        (r, i, None if d is None else float(d)) for r, i, d in picks
    ]
