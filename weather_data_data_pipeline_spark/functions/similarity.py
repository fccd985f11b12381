"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the correctness baseline. Dot products are
  computed with JVM higher-order functions (zip_with + aggregate) in
  double precision — no Python in the loop; the query side is broadcast
  so the corpus never shuffles.
- LSH-bucketed ANN (random hyperplanes): the scale path. Signatures are
  built from literal seeded sign planes (:func:`seeded_sign_planes`),
  the same literals a DuckDB oracle replays, so the approximate
  operators are value-checked end to end. Candidates are re-ranked
  with exact cosine.

At 100 TB the corpus side stays partitioned; only O(queries × k) rows
ever leave the executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array<float> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_norm(df: DataFrame, vec_col: str, out_col: str = "norm") -> DataFrame:
    return df.withColumn(out_col, _norm(F.col(vec_col)))


def cosine(a: Column, b: Column) -> Column:
    """NULL-safe cosine: NULL for NULL inputs AND for zero-norm vectors
    — the exact semantics every DuckDB oracle gets for free (x / 0.0 is
    NULL there, while Spark's ANSI mode THROWS on the division; found
    by the r14 embeddings NULL audit). NULL scores then fall out of
    thresholds and rankings identically in both engines."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom)


def drop_invalid_vectors(
    df: DataFrame, vec_col: str, require_nonzero: bool = False
) -> DataFrame:
    """Operator-entry guard: NULL embeddings never participate (a
    ragged Arrow batch crashes every np.stack kernel, and at 100 TB a
    NULL vector exists somewhere); ``require_nonzero`` additionally
    drops zero-norm vectors for cosine families, where their score is
    undefined (NULL in both engines) so they can never appear in
    results anyway."""
    cond = F.col(vec_col).isNotNull()
    if require_nonzero:
        cond = cond & (_norm(F.col(vec_col)) > 0)
    return df.where(cond)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Physical shape: broadcast(queries) × corpus → per-row dot product →
    window rank per query. The corpus is scanned once, never shuffled in
    full — only (query, candidate) scores shuffle for ranking, and at
    scale that ranking collapses map-side via TakeOrdered semantics.
    """
    queries = drop_invalid_vectors(queries, vec_col, require_nonzero=True)
    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_vec"), F.col("c_vec"))
             / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))).alias("cosine_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def brute_force_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k, BLAS formulation — same result as
    :func:`brute_force_topk` (unit-tested equal), ~10× faster.

    The query side is by contract the small/broadcastable side; it is
    materialized to a normalized float64 matrix and closure-shipped to
    executors. The corpus streams through ``mapInPandas`` in Arrow
    batches: one GEMM per batch scores every (candidate, query) pair,
    and only each batch's top-k per query survive — ordered by
    (score desc, id asc), the same total order as the final rank, so
    the global top-k is provably contained in the union of per-batch
    top-k even under score ties (e.g. exactly-duplicated vectors).
    A final window rank over the O(batches × queries × k) candidate
    set picks the answer. Per element this is a fused multiply-add in
    BLAS instead of an interpreted Catalyst lambda; at 100 TB the
    corpus still never shuffles — only candidates do.
    """
    import numpy as np

    queries = drop_invalid_vectors(queries, vec_col, require_nonzero=True)
    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    Q = np.stack([np.asarray(r[1], dtype="float64") for r in q_rows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        import pandas as pd

        for b in batches:
            ids = b[id_col].to_numpy()
            C = np.stack([np.asarray(v, dtype="float64") for v in b[vec_col]])
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ Qn.T  # (batch × queries) cosine matrix
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = S[:, j].copy()
                col[ids == qid] = -np.inf  # exclude self-match
                # full (score desc, id asc) order; keep the batch top-k
                order = np.lexsort((ids, -col))[: min(k, len(ids))]
                order = order[np.isfinite(col[order])]
                out_q.append(np.full(len(order), qid, dtype="int64"))
                out_n.append(ids[order])
                out_s.append(col[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine_raw": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cosine_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-duplicate dedup).

    Brute-force O(n²) scoring — correct baseline; use
    :func:`lsh_near_dup_pairs` as the candidate generator at scale.
    """
    df = drop_invalid_vectors(df, vec_col, require_nonzero=True)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("va"), F.col("vb"))
             / (_norm(F.col("va")) * _norm(F.col("vb")))).alias("cosine_raw"),
        )
        .where(F.col("cosine_raw") >= threshold)
        .select("id_a", "id_b", F.round("cosine_raw", 4).alias("cosine"))
    )


# Verification GEMM block height for the per-group pair scorers
# (lsh_near_dup_pairs buckets, semantic_dedup cells): memory per task is
# O(_VERIFY_CHUNK × group_size) doubles instead of O(group_size²).
# 2048 × 10^5-member degenerate group ≈ 1.6 GB peak — survivable where
# the square (80 GB) is not.
_VERIFY_CHUNK = 2048


def _pairs_above_threshold(ids, V, threshold: float, chunk_rows: int):
    """All (id_a < id_b, cosine) pairs of one group with cosine ≥
    threshold, scored in row-chunked GEMM blocks (see _VERIFY_CHUNK).
    ``ids`` must be sorted ascending and ``V`` row-aligned to it.
    Returns three numpy arrays (id_a, id_b, cosine_raw)."""
    import numpy as np

    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    m = len(ids)
    out_a, out_b, out_s = [], [], []
    for i0 in range(0, m, chunk_rows):
        i1 = min(i0 + chunk_rows, m)
        S = Vn[i0:i1] @ Vn[i0:].T  # (chunk × tail) block
        ia, ib = np.nonzero(S >= threshold)
        # row ia is global i0+ia, column ib is global i0+ib; keep the
        # strict upper triangle (global col > global row) — each pair
        # (a < b) is produced exactly once, by the chunk owning row a
        strict = ib > ia
        ia, ib = ia[strict], ib[strict]
        out_a.append(ids[ia + i0])
        out_b.append(ids[ib + i0])
        out_s.append(S[ia, ib])
    empty_i = np.array([], dtype=ids.dtype)
    return (
        np.concatenate(out_a) if out_a else empty_i,
        np.concatenate(out_b) if out_b else empty_i,
        np.concatenate(out_s) if out_s else np.array([], dtype="f8"),
    )


def seeded_sign_planes(
    n_tables: int = 16, n_planes: int = 4, dim: int = 64, seed: int = 42
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for LSH, flat-indexed ``t*n_planes+p``.

    Sign planes (Achlioptas-style sparse projections with s=1) give the
    same collision-probability guarantee as Gaussian planes for angular
    LSH, and — being exact ±1.0 literals — the projection Σ ±x_j is
    reproducible bit-for-bit by ANY engine that sums in double precision
    (summation-order rounding is ~1e-13 while the smallest |projection|
    on real data is orders larger). That engine-portability is what lets
    the DuckDB oracle mirror the candidate generation exactly.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.choice([-1.0, 1.0], size=(n_tables * n_planes, dim))
    return [[float(x) for x in p] for p in planes]


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input arrives under-partitioned
    (e.g. one small parquet file locally). At scale inputs already carry
    hundreds of partitions and this is a no-op — the check is on plan
    metadata, nothing executes."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _check_plane_shape(planes: list[list[float]], n_planes: int) -> None:
    """The plane list must hold whole tables: :func:`_pack_buckets` and
    the oracles' bucket SQL both take ``len(planes) // n_planes`` tables,
    so a remainder would silently drop the last planes. Every LSH entry
    point calls this before it builds a plan."""
    if n_planes < 1 or len(planes) < n_planes or len(planes) % n_planes:
        raise ValueError(
            f"{len(planes)} planes do not split into tables of n_planes "
            f"({n_planes}): need a positive multiple of n_planes"
        )


def _pack_buckets(bits, n_planes: int):
    """(rows, n_tables*n_planes) sign bits → (rows, n_tables) int64
    bucket ids, little-endian within each table — the ONE definition of
    the LSH bucket encoding (rhp_table_buckets_from_planes, lsh_topk and
    lsh_recall_report all compile it; edits here keep every
    oracle-replayed candidate set in lockstep)."""
    import numpy as np

    n_tables = bits.shape[1] // n_planes
    out = np.zeros((bits.shape[0], n_tables), dtype="int64")
    for t in range(n_tables):
        for p in range(n_planes):
            out[:, t] |= bits[:, t * n_planes + p].astype("int64") << p
    return out


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """Collect a (small by contract) query batch to (ids, raw float64
    matrix, normalized matrix) — ONE collect, so the three stay
    row-aligned (two separate collects would not guarantee the same
    row order). The driver-side prep shared by lsh_topk and
    lsh_recall_report (brute_force_topk_gemm's posture).

    NULL *and* zero-norm query vectors are dropped here, as
    ``drop_invalid_vectors(require_nonzero=True)`` drops them on the
    corpus side: a zero-norm row surviving into the normalized matrix
    becomes all-NaN, and NaN cosines can still win a lexsort. An empty
    post-filter batch raises a clear error instead of np.stack's
    opaque "need at least one array to stack"."""
    import numpy as np

    q_rows = []
    for r in queries.select(id_col, vec_col).collect():
        if r[1] is None:
            continue
        v = np.asarray(r[1], dtype="float64")
        if not np.linalg.norm(v) > 0:
            continue
        q_rows.append((r[0], v))
    if not q_rows:
        raise ValueError(
            "query batch has no scoreable vectors (all NULL or "
            "zero-norm) — nothing to search for"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype="int64")
    Q = np.stack([r[1] for r in q_rows])
    return q_ids, Q, Q / np.linalg.norm(Q, axis=1, keepdims=True)


def rhp_table_buckets_from_planes(
    df: DataFrame,
    id_out: str,
    vec_col: str,
    planes: list[list[float]],
    n_planes: int,
) -> DataFrame:
    """(id, table, bucket) rows for OR-amplified LSH from explicit
    literal planes (``planes[t*n_planes+p]``): ``len(planes) //
    n_planes`` independent tables of ``n_planes`` planes each — the
    bucketing an external oracle can replay.

    Signatures are one GEMM per Arrow batch (proj = X @ Pᵀ, bits packed
    little-endian per table) instead of 64 interpreted Catalyst lambdas
    per row — ~30× faster, and still engine-portable because sign bits
    tolerate any double-precision summation order (|proj| on real data
    is orders of magnitude above the ~1e-13 order-dependent rounding).
    Only 3 small columns explode, so the n_tables× row inflation never
    carries the embedding payload."""
    import numpy as np

    P = np.asarray(planes, dtype=np.float64)
    n_tables = len(P) // n_planes

    def gen(batches):
        import pandas as pd

        for b in batches:
            ids = b[id_out].to_numpy()
            X = np.stack([np.asarray(v, dtype=np.float64) for v in b[vec_col]])
            buckets = _pack_buckets((X @ P.T) >= 0, n_planes)
            out_i, out_t, out_b = [], [], []
            for t in range(n_tables):
                out_i.append(ids)
                out_t.append(np.full(len(ids), t, dtype=np.int32))
                out_b.append(buckets[:, t])
            yield pd.DataFrame(
                {
                    id_out: np.concatenate(out_i),
                    "table": np.concatenate(out_t),
                    "bucket": np.concatenate(out_b),
                }
            )

    return df.select(id_out, vec_col).mapInPandas(
        gen, f"{id_out} long, table int, bucket long"
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 4,
    *,
    planes: list[list[float]],
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: OR-amplified LSH candidate
    generation (any-table bucket collision) + exact cosine verification
    against the threshold. Same output contract as
    :func:`cosine_near_dup_pairs` minus the pairs LSH misses — recall is
    1-(1-p^b)^L per pair and regression-tested; cost is linear in
    candidates instead of quadratic in the corpus.

    ``planes`` are literal engine-portable hyperplanes (flat,
    ``t*n_planes+p``, e.g. :func:`seeded_sign_planes`), so an external
    oracle can mirror candidate generation exactly; the table count L
    is ``len(planes) // n_planes``, and a plane list that does not split
    into whole tables is refused.

    Physical shape (the reason this is the registered plan and brute
    force is only a test verifier): the bucket groups shuffle hash-
    partitioned by (table, bucket) key — no full-corpus broadcast, no
    BroadcastNestedLoopJoin. Each vector joins its L (table, bucket)
    rows, so the group shuffle carries every vector L times (8.57 MB
    for 32,000 records at sf0.1); only (id_a, id_b, cosine) survivors
    shuffle after it. This is the path for a corpus-sized neighbour
    search, which :func:`lsh_topk` (driver-side queries) cannot serve.
    Tune b = ``n_planes`` and L to the threshold: near-dup at cosine
    ≥ 0.9 wants b=16, L=32 (random-pair collision 2^-16/table); the
    low thresholds of the synthetic test corpus need b=4 for recall.
    """
    import numpy as np

    _check_plane_shape(planes, n_planes)
    df = _ensure_parallelism(
        drop_invalid_vectors(df, vec_col, require_nonzero=True)
    )
    tb = rhp_table_buckets_from_planes(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col)),
        "_id", vec_col, planes, n_planes,
    )
    # Verify inside each (table, bucket) group with one GEMM: members'
    # vectors join in by id (n_tables× the corpus rows, but each group is
    # small by LSH construction), every within-bucket pair is scored
    # vectorized, and only (id_a, id_b, cosine) survivors shuffle to the
    # cross-table dedup. No pair-payload join, no per-pair interpreted
    # fold — the hot path is BLAS.
    #
    # Payload-shuffle tradeoff, made explicit: this form ships each
    # vector n_tables× (bounded, independent of candidate density) —
    # right when buckets are dense (low thresholds, near-dup corpora
    # with heavy duplication). The alternative — distinct candidate
    # pairs re-joined to vectors by id — ships each vector once per
    # candidate it appears in: cheaper only when candidates per vector
    # < n_tables (very high thresholds on clean corpora). Measured here
    # at threshold 0.35: candidates/vector ≈ 1280 vs n_tables = 16,
    # so the group form wins by ~80×.
    memb = tb.join(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")), "_id"
    )

    # Row-chunked scoring caps the verifier's memory at O(chunk × m)
    # instead of O(m²): a degenerate bucket on a duplication-heavy
    # corpus (the motivating near-dup case — boilerplate docs whose
    # embeddings all collide) can hold 10^5 members, and a full m×m
    # similarity matrix for that is ~80 GB in ONE Python worker. Each
    # chunk scores rows [i, i+c) against the tail columns i..m-1 only
    # (strict upper triangle), so semantics are exactly the uncapped
    # GEMM's; output stays bounded by the TRUE near-dup pairs, which are
    # the operator's answer regardless of how they are computed.
    # Captured at plan-build time so tests can shrink it to force the
    # multi-chunk path on small data.
    chunk_rows = _VERIFY_CHUNK

    def verify(pdf):
        import pandas as pd

        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["_v"].iloc[order]]
        )
        id_a, id_b, cos = _pairs_above_threshold(ids, V, threshold, chunk_rows)
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_raw": cos})

    pairs = memb.groupBy("table", "bucket").applyInPandas(
        verify, "id_a long, id_b long, cosine_raw double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"]).select(
        "id_a", "id_b", F.round("cosine_raw", 4).alias("cosine")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 8,
):
    """Coarse quantizer for IVF: spherical k-means on a BOUNDED sample.

    The sample (``sample_size`` rows, deterministic: lowest ids) is the
    only data that ever reaches the driver — O(sample × dim) floats, a
    few MB regardless of corpus size. Lloyd iterations run in numpy;
    init is the first ``n_centroids`` sample vectors, so training is
    fully deterministic. Returns a list of unit-norm centroid lists,
    small enough to broadcast as a literal DataFrame.
    """
    import numpy as np

    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    sample = np.array(
        [
            r["v"]
            for r in corpus.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
            .orderBy("i")
            .limit(sample_size)
            .collect()
        ],
        dtype=np.float64,
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True)
    cents = sample[:n_centroids].copy()
    for _ in range(iters):
        sims = sample @ cents.T  # cosine == dot on unit vectors
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = sample[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / np.linalg.norm(m)
    return [[float(x) for x in c] for c in cents]


def _nearest_cells(
    df: DataFrame,
    centroids_df: DataFrame,
    vec_col: str,
    n_probe: int,
    out_vec: str,
    out_id: str,
) -> DataFrame:
    """Attach the ``n_probe`` nearest centroid ids to every vector:
    broadcast the centroid table (tiny), score each (vector, centroid)
    pair JVM-side, keep the top-n_probe per vector. Linear in
    corpus × n_centroids — the IVF assignment scan."""
    scored = df.select(
        F.col(out_id), F.col(vec_col).alias(out_vec)
    ).join(F.broadcast(centroids_df)).select(
        out_id,
        out_vec,
        "cell",
        (_dot(F.col(out_vec), F.col("centroid")) / _norm(F.col(out_vec))).alias("csim"),
    )
    w = Window.partitionBy(out_id).orderBy(F.desc("csim"), F.asc("cell"))
    return (
        scored.withColumn("_cr", F.row_number().over(w))
        .where(F.col("_cr") <= n_probe)
        .select(out_id, out_vec, "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_size: int = 2048,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: assign the corpus to its nearest
    coarse-quantizer cell, probe each query's ``n_probe`` nearest cells,
    re-rank exactly inside the probed cells.

    The scale shape: corpus partitions by cell (one shuffle, reused by
    every query batch against the same index at deployment), the
    centroid table broadcasts, and the candidate set per query is
    corpus/n_centroids × n_probe instead of the whole corpus. Recall is
    tuned by n_probe; n_probe = n_centroids degrades gracefully to
    exact brute force.
    """
    spark = corpus.sparkSession
    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    queries = drop_invalid_vectors(queries, vec_col, require_nonzero=True)
    cents = train_ivf_centroids(
        corpus, id_col, vec_col, n_centroids, sample_size
    )
    centroids_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    )
    c_cells = _nearest_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        centroids_df, vec_col, 1, "c_vec", "neighbor_id",
    )
    q_cells = _nearest_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        centroids_df, vec_col, n_probe, "q_vec", "query_id",
    )
    scored = (
        c_cells.join(q_cells, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_vec"), F.col("c_vec"))
             / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))).alias("cosine_raw"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    *,
    planes: list[list[float]],
) -> DataFrame:
    """ANN top-k via OR-amplified random-hyperplane LSH: L = ``len(planes)
    // n_planes`` tables of ``n_planes`` literal planes (flat-indexed
    ``t*n_planes+p``, e.g. :func:`seeded_sign_planes`, which a DuckDB
    oracle replays verbatim); a corpus vector is a candidate if it
    shares a bucket with the query in ANY table, self excluded, and
    candidates are re-ranked with exact cosine. Recall at angle θ is
    1-(1-p^b)^L with p = 1-θ/π, b = n_planes: b=4, L=16 measures
    recall@10 0.88 on the sf0.001 test embeddings.

    ONE corpus pass: the query vectors are collected to the driver
    (:func:`_query_matrix`, the :func:`brute_force_topk_gemm` posture),
    and one ``mapInPandas`` stage computes, per Arrow batch, the corpus
    bucket signatures (GEMM against the planes), the any-table collision
    mask against the query buckets, and the exact cosines (GEMM against
    the normalized queries), keeping each batch's per-query top-k in
    (score desc, id asc) order — the final rank's total order, so the
    global top-k is contained in the union. A window over those
    survivors picks the answer; the corpus never shuffles.

    The cost of that shape: the query batch must fit on the driver and
    in every task's closure, so this serves driver-sized batches only.
    A corpus-sized neighbour search (an all-corpus kNN graph) belongs
    to :func:`lsh_near_dup_pairs`' shuffle plan."""
    import numpy as np

    _check_plane_shape(planes, n_planes)
    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    P = np.asarray(planes, dtype="float64")
    # sign bits come from the RAW query vectors (the same GEMM the
    # corpus side runs), cosines from the normalized ones — one collect
    # keeps them row-aligned
    q_ids, Q, Qn = _query_matrix(queries, id_col, vec_col)
    qbuckets = _pack_buckets((Q @ P.T) >= 0, n_planes)

    def gen(batches):
        import pandas as pd

        for b in batches:
            ids = b[id_col].to_numpy()
            C = np.stack(
                [np.asarray(v, dtype="float64") for v in b[vec_col]]
            )
            buckets = _pack_buckets((C @ P.T) >= 0, n_planes)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ Qn.T  # (batch, n_queries) cosine matrix
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                m = (buckets == qbuckets[j]).any(axis=1) & (ids != qid)
                if not m.any():
                    continue
                idm = ids[m]
                col = S[m, j]
                order = np.lexsort((idm, -col))[: min(k, len(idm))]
                out_q.append(np.full(len(order), qid, dtype="int64"))
                out_n.append(idm[order])
                out_s.append(col[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine_raw": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        gen, "query_id long, neighbor_id long, cosine_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def lsh_recall_report(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    *,
    planes: list[list[float]],
) -> DataFrame:
    """Recall@k of :func:`lsh_topk` against the exact cosine truth,
    BOTH sides from ONE corpus pass: per Arrow batch, one GEMM scores
    every (candidate, query) pair; the truth side keeps the per-batch
    top-k over ALL rows, the approx side keeps the per-batch top-k
    over the bucket-collision survivors — the same matrix, two masks.
    Final per-query ranks come from one window over both families and
    the recall join touches q x k rows. Values are identical to
    running :func:`brute_force_topk_gemm` and :func:`lsh_topk`
    separately (same arithmetic; pinned in tests). Same driver-sized
    query batch as :func:`lsh_topk`."""
    import numpy as np

    _check_plane_shape(planes, n_planes)
    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    P = np.asarray(planes, dtype="float64")
    q_ids, Q, Qn = _query_matrix(queries, id_col, vec_col)
    qbuckets = _pack_buckets((Q @ P.T) >= 0, n_planes)

    def gen(batches):
        import pandas as pd

        for b in batches:
            ids = b[id_col].to_numpy()
            C = np.stack(
                [np.asarray(v, dtype="float64") for v in b[vec_col]]
            )
            buckets = _pack_buckets((C @ P.T) >= 0, n_planes)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ Qn.T
            fam, out_q, out_n, out_s = [], [], [], []
            for j, qid in enumerate(q_ids):
                col = S[:, j].copy()
                col[ids == qid] = -np.inf
                order = np.lexsort((ids, -col))[: min(k, len(ids))]
                order = order[np.isfinite(col[order])]
                fam.append(np.full(len(order), 0, dtype="int8"))
                out_q.append(np.full(len(order), qid, dtype="int64"))
                out_n.append(ids[order])
                out_s.append(col[order])
                m = (buckets == qbuckets[j]).any(axis=1) & (ids != qid)
                if m.any():
                    idm = ids[m]
                    colm = S[m, j]
                    om = np.lexsort((idm, -colm))[: min(k, len(idm))]
                    fam.append(np.full(len(om), 1, dtype="int8"))
                    out_q.append(np.full(len(om), qid, dtype="int64"))
                    out_n.append(idm[om])
                    out_s.append(colm[om])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "fam": np.concatenate(fam),
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine_raw": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        gen, "fam tinyint, query_id long, neighbor_id long, cosine_raw double"
    )
    w = Window.partitionBy("fam", "query_id").orderBy(
        F.desc("cosine_raw"), F.asc("neighbor_id")
    )
    ranked = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("fam", "query_id", "neighbor_id")
    )
    truth = ranked.where(F.col("fam") == 0).drop("fam")
    approx = ranked.where(F.col("fam") == 1).drop("fam").select(
        "query_id", F.col("neighbor_id").alias("a_neighbor")
    )
    return (
        truth.join(
            approx,
            (truth["query_id"] == approx["query_id"])
            & (truth["neighbor_id"] == approx["a_neighbor"]),
            "left",
        )
        .groupBy(truth["query_id"])
        .agg(
            F.count("*").alias("n_true"),
            F.count("a_neighbor").alias("n_hit"),
            F.round(
                F.count("a_neighbor") / F.count("*").cast("double"), 4
            ).alias("recall"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by embedding, find cosine
    near-duplicates only WITHIN each cluster, and keep one
    representative (the min id of each near-dup component) — the
    "remove semantically redundant training examples" operator of an
    LLM data pipeline.

    Output: (id, cluster, rep_id, kept) for EVERY input row —
    ``rep_id`` is the min id of the row's within-cluster near-dup
    component (itself when it has no near-dup), ``kept`` marks the
    representatives; filtering on ``kept`` materializes the
    semantically deduplicated corpus.

    Scale shape: assignment is a narrow codegen'd projection (centroids
    ride as literals — `functions/clustering.py: nearest_centroid`, no
    join); then ONE cell shuffle, and one applyInPandas task per cell
    scores its pairs with a chunked GEMM (`_pairs_above_threshold`, so
    a degenerate cell costs O(chunk × m) memory) and runs the
    union-find itself. Edges never leave a cell, so components are
    cell-local: the task emits the final rows directly, with no pair
    table, no separate components step and no join back. Total work is
    O(Σ m_c²) GEMM flops instead of O(n²) — the k-fold reduction that
    makes pairwise semantic comparison feasible at corpus scale.
    Cross-cluster near-duplicates are missed BY DESIGN (the SemDeDup
    trade: k-means cells approximate the neighborhood structure); raise
    k for cheaper cells, lower it for better recall.

    ``max_cell_size`` bounds the per-task FLOPs the same way
    ``max_bucket_size`` bounds MinHash buckets
    (functions/dedup.py: minhash_lsh_candidates): a cell with more
    members than the cap emits STAR edges — every member scored against
    the cell's min-id hub only, O(m·d) FLOPs instead of O(m²·d) — so
    one adversarially hot cell (all of Common Crawl's boilerplate
    landing in one k-means cell) cannot turn a single applyInPandas
    task into an unbounded GEMM.

    Contract, precisely (mirrors the MinHash star-edge contract): for
    an oversized cell, members whose cosine to the hub ≥ threshold
    form ONE component with the hub — their mutual links are implied
    transitively, so components among hub-similar members are
    preserved exactly. A member whose hub cosine < threshold loses any
    links it had to non-hub members (the elided dense pairs): the cap
    IS a recall trade on hub-dissimilar near-dup pairs inside hot
    cells, not a free lunch. Hot cells are by construction dense
    neighborhoods of their centroid, which is what makes the hub a
    good proxy in practice. ``max_cell_size=None`` (default) keeps
    exact within-cell enumeration.
    """
    import numpy as np

    from weather_data_data_pipeline_spark.functions.clustering import (
        nearest_centroid,
    )

    df = _ensure_parallelism(df)
    best = nearest_centroid(vec_col, centroids)
    assigned = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        best["cluster"].alias("cluster"),
    )
    chunk_rows = _VERIFY_CHUNK

    def dedup_cell(pdf):
        import pandas as pd

        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = len(ids)
        # NULL embeddings contribute no edges (NULL cosine in the
        # oracle) but MUST still appear in the output labeled kept —
        # mask them out of the scoring arrays only (r14 NULL audit)
        vecs = pdf["_v"].iloc[order].tolist()
        vidx = np.array(
            [i for i, v in enumerate(vecs) if v is not None], dtype="int64"
        )
        V = (
            np.stack([np.asarray(vecs[i], dtype=np.float64) for i in vidx])
            if len(vidx)
            else np.zeros((0, 1))
        )
        vids = ids[vidx]
        parent = np.arange(m)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        def union(i, j):
            ri, rj = find(i), find(j)
            if ri != rj:
                # attach the LARGER-index root under the smaller, so a
                # component's root is always its min index == min id
                # (ids are ascending)
                if ri < rj:
                    parent[rj] = ri
                else:
                    parent[ri] = rj

        if max_cell_size is not None and m > max_cell_size:
            # star hub = the cell's min id; a NULL hub vector means every
            # hub cosine is NULL → no star edges (oracle parity)
            if len(vidx) >= 2 and vidx[0] == 0:
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                cos = Vn[1:] @ Vn[0]
                for j in np.nonzero(cos >= threshold)[0]:
                    union(0, int(vidx[int(j) + 1]))
        elif len(vidx) >= 2:
            pos = {int(v): i for i, v in enumerate(ids)}
            id_a, id_b, _ = _pairs_above_threshold(
                vids, V, threshold, chunk_rows
            )
            for a, b in zip(id_a, id_b):
                union(pos[int(a)], pos[int(b)])

        rep = np.array([ids[find(i)] for i in range(m)])
        return pd.DataFrame(
            {
                "_id": ids,
                "cluster": np.full(m, pdf["cluster"].iloc[0]),
                "rep_id": rep,
                "kept": rep == ids,
            }
        )

    out_schema = "_id long, cluster int, rep_id long, kept boolean"
    return (
        assigned.groupBy("cluster")
        .applyInPandas(dedup_cell, out_schema)
        .withColumnRenamed("_id", id_col)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_vec"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q[i] = round(127 * x[i] /
    max|x|), stored as (tinyint array, float scale). 4× smaller than
    float32 — at 100 TB of embeddings that is the difference between an
    in-memory ANN working set and a disk-bound one; scan, shuffle and
    cache all shrink with it. Reconstruction x̂[i] = q[i] * scale / 127.

    All JVM-side expressions (array_max/transform/round) — quantization
    is a storage transform, so it stays in whole-stage codegen rather
    than paying an Arrow crossing per re-encode. Cosine on reconstructed
    vectors preserves top-k ordering to ~1% (regression-tested recall).
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, absmax).otherwise(F.lit(1.0)).cast("float")
    return df.withColumn("q_scale", scale).withColumn(
        out_col,
        F.transform(
            v,
            lambda x: F.round(x.cast("double") / F.col("q_scale") * 127).cast(
                "tinyint"
            ),
        ),
    )


def dequantize_embeddings(
    df: DataFrame, q_col: str = "q_vec", out_col: str = "embedding"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (lossy: ≤ absmax/254 per
    component): x̂[i] = q[i] * scale / 127 as float — ready for any
    exact or ANN scorer."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda q: (q.cast("double") * F.col("q_scale") / 127).cast("float"),
        ),
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 2048,
) -> None:
    """Materialize an IVF index: centroids + cell-partitioned postings.

    `ivf_topk` retrains and reassigns per call — right for tests, wrong
    for a served index. This writes the two artifacts a long-lived index
    needs: ``<path>/centroids`` (tiny parquet) and ``<path>/postings``
    parquet **partitioned by cell**, so a probe of p cells reads p
    directories and Catalyst prunes the rest at the file-listing level
    (static partition pruning when the probed cells resolve to literals,
    DPP under the cell join). Rebuild cadence at scale: centroids are
    stable under corpus drift; postings append incrementally via the
    same assignment scan on the new batch.
    """
    spark = corpus.sparkSession
    corpus = drop_invalid_vectors(corpus, vec_col, require_nonzero=True)
    cents = train_ivf_centroids(corpus, id_col, vec_col, n_centroids, sample_size)
    centroids_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
    )
    centroids_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    postings = _nearest_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        centroids_df, vec_col, 1, "c_vec", "neighbor_id",
    )
    postings.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/postings"
    )


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index (same output contract as `ivf_topk`).

    Only the query batch is assigned at query time; the corpus-side
    assignment was paid once at build. The postings join keys on the
    partition column, so only probed cells' files are scanned.
    """
    queries = drop_invalid_vectors(queries, vec_col, require_nonzero=True)
    centroids_df = spark.read.parquet(f"{path}/centroids")
    postings = spark.read.parquet(f"{path}/postings")
    q_cells = _nearest_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        centroids_df, vec_col, n_probe, "q_vec", "query_id",
    )
    scored = (
        postings.join(q_cells, "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_vec"), F.col("c_vec"))
             / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))).alias("cosine_raw"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def group_mean_pairwise_cosine(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding diversity: the mean pairwise cosine over all
    n·(n-1) ordered vector pairs in a group, WITHOUT forming any pair.

    Uses the Gram identity on unit-normalized vectors u_i:

        Σ_{i≠j} cos(v_i, v_j) = ‖Σ_i u_i‖² − Σ_i ‖u_i‖²

    so one pass computes what a naive implementation would need O(n²)
    dot products for. A low mean cosine means the group's embeddings
    are spread out (diverse); ~1.0 means near-duplicates — the corpus-
    level health metric SemDeDup-style pipelines report per source.

    Numerics are order-proof by construction (the driver hash compares
    against a DuckDB replay): normalized components are quantized to
    DECIMAL(18,8) (row-local IEEE math only — the same portable fold
    `embedding_cosine_topk`'s oracle already pins), then every
    cross-row aggregate is an exact decimal sum; floats reappear only
    in the final single division. Bound: per-dim component sums need
    |Σ u_d| < 10^10, i.e. up to ~10 billion vectors per group.

    Physical shape: explode to (group, pos, u) → partial+final combine
    to (group, pos) → (group). Shuffle is O(groups × dim) rows after
    map-side combine; the corpus is scanned once and never pair-joined,
    so the plan survives 100 TB where any pairwise form would not.
    Groups with fewer than 2 usable (non-zero-norm) vectors are
    dropped — the statistic is undefined there.

    Returns (group_col, n_vectors, mean_cosine) with mean_cosine
    rounded to 6 dp.
    """
    nrm = _norm(F.col(vec_col))
    comp = (
        df.select(F.col(group_col), F.col(vec_col), nrm.alias("nrm"))
        .where(F.col("nrm") > 0)
        .select(
            group_col,
            F.posexplode(vec_col).alias("pos", "x"),
            F.col("nrm"),
        )
        .select(
            group_col,
            "pos",
            F.round(F.col("x").cast("double") / F.col("nrm"), 8)
            .cast("decimal(18,8)")
            .alias("u"),
        )
    )
    dims = comp.groupBy(group_col, "pos").agg(
        F.sum("u").cast("decimal(18,8)").alias("s"),
        F.sum(F.col("u") * F.col("u")).alias("s2"),
        F.count("*").alias("cnt"),
    )
    n = F.max("cnt")
    return (
        dims.groupBy(group_col)
        .agg(
            n.cast("bigint").alias("n_vectors"),
            F.round(
                (
                    F.sum(F.col("s") * F.col("s")).cast("double")
                    - F.sum("s2").cast("double")
                )
                / (n * (n - F.lit(1))).cast("double"),
                6,
            ).alias("mean_cosine"),
        )
        .where(F.col("n_vectors") >= 2)
    )


def nearest_in_set(
    corpus: DataFrame,
    ref: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For EVERY corpus vector, its single nearest reference vector by
    cosine: (id, nearest_id, cosine_raw) — the per-corpus-row reduction
    :func:`brute_force_topk_gemm` cannot express (that one reduces per
    QUERY; this reduces per corpus row over a small fixed set — the
    shape of semantic decontamination screens).

    The reference side is by contract bounded/broadcastable: it ships
    as a normalized float64 matrix in the task closure. The corpus
    streams through ``mapInPandas`` in Arrow batches — one GEMM per
    batch, a row-wise (score desc, ref-id asc) argmax, one output row
    per corpus row. The corpus never shuffles; ties on the exact
    float64 cosine break to the lowest reference id (matching the SQL
    oracle's ORDER BY c DESC, id).

    Zero-norm vectors (ADVICE r7): a zero vector has no direction, so
    its cosine against anything is defined here as 0.0 — the norm is
    replaced by 1.0 instead of dividing by 0, which would otherwise
    yield an all-NaN score row (zero corpus vector) or route EVERY
    argmax onto the NaN column (zero reference vector, since
    ``np.argmax`` returns the first NaN index)."""
    import numpy as np

    # id dtypes follow each side's OWN schema (brute_force_l2_topk's
    # convention, ADVICE r6/r7): hardcoded int64 ref ids would crash or
    # corrupt a non-bigint reference id column
    id_type = corpus.schema[id_col].dataType.simpleString()
    ref_id_type = ref.schema[id_col].dataType.simpleString()
    # NULL vectors cannot be scored under any contract: dropped from
    # both sides (ragged np.stack otherwise — r14 NULL audit); the r7
    # zero-norm = 0.0 contract below is untouched
    corpus = corpus.where(F.col(vec_col).isNotNull())
    r_rows = [
        r for r in ref.select(id_col, vec_col).collect()
        if r[1] is not None
    ]
    if not r_rows:
        # ADVICE r14: an all-NULL reference set would otherwise die in
        # np.stack with "need at least one array to stack" — name the
        # actual problem instead
        raise ValueError(
            "reference set has no non-NULL vectors — nothing to score "
            "the corpus against"
        )
    r_ids = np.array([r[0] for r in r_rows])
    order0 = np.argsort(r_ids)  # ref columns in ascending-id order so
    r_ids = r_ids[order0]       # the first max IS the lowest-id tie
    R = np.stack([np.asarray(r_rows[i][1], dtype="float64") for i in order0])
    r_norm = np.linalg.norm(R, axis=1, keepdims=True)
    Rn = R / np.where(r_norm == 0, 1.0, r_norm)

    def score(batches):
        import pandas as pd

        for b in batches:
            if len(b) == 0:
                continue
            ids = b[id_col].to_numpy()
            C = np.stack([np.asarray(v, dtype="float64") for v in b[vec_col]])
            c_norm = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = C / np.where(c_norm == 0, 1.0, c_norm)
            S = Cn @ Rn.T  # (batch × refs)
            best = np.argmax(S, axis=1)  # first occurrence = lowest id
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "nearest_id": r_ids[best],
                    "cosine_raw": S[np.arange(len(ids)), best],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        score, f"_id {id_type}, nearest_id {ref_id_type}, cosine_raw double"
    ).withColumnRenamed("_id", id_col)
