"""Product-quantization ANN (Jégou et al. 2011) — the third
approximate-search family beside LSH and IVF, and the one that actually
carries web-scale vector search (FAISS's IVF-PQ): compress each vector
to ``m`` one-byte codes, then score queries against the CODES with a
per-query lookup table instead of against the raw floats.

Why it matters at 100 TB: a 64-dim float corpus is 256 B/vector; m=8
PQ codes are 8 B/vector — a 32× smaller scan, and ADC scoring costs m
table lookups + adds per candidate instead of D multiplies. The
codebook (m × k_cw × d_sub floats) broadcasts; nothing corpus-sized
ever shuffles.

Physical shapes:

- encode / LUT build: the per-row math is m × k_cw small GEMM-like
  kernels — exactly the workload the repo's similarity GEMMs run as
  vectorized Arrow-batched numpy (``mapInPandas``), and for the same
  reason: expanding m·k_cw·d_sub distance terms as literal Catalyst
  expressions was measured to blow the whole-stage-codegen 64 KB
  method limit and fall back to per-row interpretation (6× slower than
  the numpy kernel at sf0.1). FAISS makes the same call (BLAS kernels,
  not scalar code).
- ADC scoring + ranking: relational — broadcast the (tiny) per-query
  LUTs, fold each candidate's m codes with an explicit chain of
  ``element_at`` adds (small, codegen-friendly), rank per query.

Determinism contract: every distance is accumulated in a PINNED
sequential order (t₁+t₂+…+t_d for subspace distances, lut₁+…+lut_m for
ADC) in float64 — the same left fold DuckDB's ``list_sum`` and Spark's
``aggregate`` produce — so engines agree on every double, ranking ties
break on ids, and the whole pipeline (encode → LUT → ADC → top-k)
replays in the DuckDB oracle when the codebook is fixed.
``ann_pq_topk_seeded`` feeds the subvectors of the 16 lowest-id
embeddings verbatim (the same seed-centroid trick as
ann_ivf_topk_seeded); a Lloyd-trained codebook
(functions/clustering.py per subspace) drops in unchanged for the
production path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def split_codebooks(
    seeds: list[list[float]], m: int
) -> list[list[list[float]]]:
    """codebooks[j][c] = subvector j of seed vector c. Every seed must
    have a dimension divisible by ``m``."""
    if not seeds:
        raise ValueError("need at least one seed vector")
    dim = len(seeds[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [list(map(float, s[j * d_sub : (j + 1) * d_sub])) for s in seeds]
        for j in range(m)
    ]


def _subspace_sqdists(X, codebooks):
    """(B, m, k_cw) float64 squared L2 distances from each row's
    subvectors to every codeword, accumulated dimension-by-dimension in
    a PINNED sequential order (t₁+t₂+…): each step is one vectorized
    float64 op across the batch, so the kernel is numpy-fast yet
    bit-identical to a scalar left fold — the module's determinism
    contract."""
    import numpy as np

    m = len(codebooks)
    k_cw = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    out = np.empty((X.shape[0], m, k_cw), dtype=np.float64)
    for j in range(m):
        for c, w in enumerate(codebooks[j]):
            x = X[:, j * d_sub].astype(np.float64) - w[0]
            d = x * x
            for t in range(1, d_sub):
                x = X[:, j * d_sub + t].astype(np.float64) - w[t]
                d = d + x * x
            out[:, j, c] = d
    return out


def _vec_matrix(series):
    import numpy as np

    return np.array(
        [np.asarray(v, dtype=np.float32) for v in series], dtype=np.float32
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, codes) — codes[j] = index of the nearest codeword of
    subspace j (squared-L2; ties to the lowest index, numpy argmin's
    first-minimum rule). One Arrow-batched vectorized pass over the
    corpus; the codebook is a closure constant. Rows with NULL vectors
    are dropped (nothing to encode)."""
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            X = _vec_matrix(pdf[vec_col])
            codes = _subspace_sqdists(X, codebooks).argmin(axis=2)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "codes": list(codes.astype("int32")),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, codes array<int>"
    )


def pq_query_luts(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(query_id, lut) — the flattened m·k_cw asymmetric-distance
    lookup table per query: lut[j·k_cw + c] = sqdist(q_subⱼ,
    codeword_jc), same pinned-order kernel as the encoder."""
    import pandas as pd

    m = len(codebooks)
    k_cw = len(codebooks[0])
    id_type = queries.schema[id_col].dataType.simpleString()

    def build(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            X = _vec_matrix(pdf[vec_col])
            luts = _subspace_sqdists(X, codebooks).reshape(-1, m * k_cw)
            yield pd.DataFrame(
                {
                    "query_id": pdf[id_col].values,
                    "lut": list(luts),
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(
        build, schema=f"query_id {id_type}, lut array<double>"
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, neighbor_id, adc_dist, rn).

    The per-query LUTs broadcast; each candidate costs m ``element_at``
    lookups + adds, folded in an explicit left-associated chain (small,
    codegen-friendly, pinned order). Ranking orders by the raw double
    distance with id tie-breaks; ``adc_dist`` surfaces rounded to 4 dp
    for display, like the cosine family."""
    m = len(codebooks)
    k_cw = len(codebooks[0])
    q = pq_query_luts(queries, id_col, vec_col, codebooks)
    dist = _adc_dist_expr(m, k_cw)
    scored = (
        corpus_codes.select(
            F.col(id_col).alias("neighbor_id"), "codes"
        )
        .join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dist.alias("_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_dist", 4).alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --- production path: Lloyd-trained codebooks and the IVF-PQ composition
# (the FAISS IVFPQ shape promised by the module docstring). Training
# follows FAISS's posture: codebooks fit on a BOUNDED deterministic
# sample (the k-means state a 100 TB index needs is a few MB of sample,
# never the corpus), then encode/LUT/ADC reuse the pinned-order kernels
# above unchanged.


def _bounded_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample_size: int
):
    """Deterministic bounded training sample (lowest ids): the only data
    that ever reaches the driver — O(sample × dim) float64, the same
    contract as similarity.py:train_ivf_centroids."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .where(F.col("v").isNotNull())  # the encode kernels drop NULL
        # vectors (pq_encode docstring); training must tolerate them too
        .orderBy("i")
        .limit(int(sample_size))
        .collect()
    )
    return np.array([r["v"] for r in rows], dtype=np.float64)


def _lloyd_l2(X, k: int, iters: int):
    """Plain squared-L2 Lloyd in numpy: init = first ``k`` sample rows,
    empty clusters keep their centroid — deterministic for a fixed
    sample. (The coarse IVF quantizer here is L2, NOT the spherical
    variant in similarity.py: ADC distances are squared-L2, so the
    residual geometry must be too.)"""
    import numpy as np

    if len(X) < int(k):
        raise ValueError(
            f"Lloyd init needs at least k={k} sample rows, got {len(X)} — "
            "raise sample_size or lower k_cw/n_cells"
        )
    cents = X[: int(k)].copy()
    for _ in range(int(iters)):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_cw: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    sample=None,
):
    """Lloyd-trained PQ codebooks — the production replacement for the
    seed codebooks of ``ann_pq_topk_seeded``: per-subspace k-means on a
    bounded sample. Returns codebooks[m][k_cw][d_sub], drop-in for
    :func:`pq_encode` / :func:`pq_adc_topk`."""
    X = (
        sample
        if sample is not None
        else _bounded_sample(corpus, id_col, vec_col, sample_size)
    )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [
            [float(x) for x in c]
            for c in _lloyd_l2(X[:, j * d_sub : (j + 1) * d_sub], k_cw, iters)
        ]
        for j in range(m)
    ]


def train_coarse_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    sample=None,
):
    """L2 coarse quantizer for IVF-PQ (cells the residuals are taken
    against); same bounded-sample contract as the PQ codebooks. Pass
    ``sample`` (the _bounded_sample matrix) to share one corpus scan
    across the coarse and residual trainers."""
    X = (
        sample
        if sample is not None
        else _bounded_sample(corpus, id_col, vec_col, sample_size)
    )
    return [[float(x) for x in c] for c in _lloyd_l2(X, n_cells, iters)]


def pq_train_residual_codebooks(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_cw: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    sample=None,
):
    """PQ codebooks over IVF RESIDUALS (vector − its nearest coarse
    centroid) — what IVF-PQ actually quantizes; residuals concentrate
    near 0 so the same codeword budget spends on much less variance
    than raw vectors (Jégou et al. §IV)."""
    import numpy as np

    X = (
        sample
        if sample is not None
        else _bounded_sample(corpus, id_col, vec_col, sample_size)
    )
    C = np.asarray(centroids, dtype=np.float64)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    R = X - C[d2.argmin(axis=1)]
    dim = R.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [
            [float(x) for x in c]
            for c in _lloyd_l2(R[:, j * d_sub : (j + 1) * d_sub], k_cw, iters)
        ]
        for j in range(m)
    ]


def ivf_pq_encode(
    corpus: DataFrame,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ index: (id, cell, codes) — nearest coarse cell by
    squared-L2, PQ codes of the RESIDUAL vector − centroid[cell]. One
    Arrow-batched kernel does assign + residual + encode per batch (the
    m × k_cw × d_sub distance expansion stays in numpy for the codegen
    reason in the module docstring); the corpus never shuffles — the
    index rows are 1 int + m bytes-worth of codes per vector."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    C = np.asarray(centroids, dtype=np.float64)
    cell_cb = [[list(map(float, c)) for c in centroids]]

    def encode(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            X = _vec_matrix(pdf[vec_col]).astype(np.float64)
            # PINNED-order cell distances (one "subspace" spanning the
            # full dimension) so assignment ties resolve identically in
            # the DuckDB replay — the module determinism contract
            d2 = _subspace_sqdists(X, cell_cb)[:, 0, :]
            cells = d2.argmin(axis=1)
            R = X - C[cells]
            codes = _subspace_sqdists(R, codebooks).argmin(axis=2)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cells.astype("int32"),
                    "codes": list(codes.astype("int32")),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} {id_type}, cell int, codes array<int>"
    )


def ivf_pq_query_luts(
    queries: DataFrame,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """(query_id, cell, lut): for each query, its ``n_probe`` nearest
    coarse cells (squared-L2, ties to the lowest cell id) and the ADC
    lookup table of the query's residual AGAINST THAT CELL — n_probe
    small rows per query, broadcast to the index join."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    k_cw = len(codebooks[0])
    id_type = queries.schema[id_col].dataType.simpleString()
    C = np.asarray(centroids, dtype=np.float64)
    cell_cb = [[list(map(float, c)) for c in centroids]]

    def build(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            X = _vec_matrix(pdf[vec_col]).astype(np.float64)
            # pinned-order cell distances — see ivf_pq_encode
            d2 = _subspace_sqdists(X, cell_cb)[:, 0, :]
            probes = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
            ids, cells, luts = [], [], []
            for row in range(len(X)):
                R = X[row][None, :] - C[probes[row]]
                L = _subspace_sqdists(R, codebooks).reshape(-1, m * k_cw)
                ids.extend([pdf[id_col].values[row]] * len(probes[row]))
                cells.extend(probes[row].astype("int32"))
                luts.extend(list(L))
            yield pd.DataFrame(
                {"query_id": ids, "cell": cells, "lut": luts}
            )

    return queries.select(id_col, vec_col).mapInPandas(
        build, schema=f"query_id {id_type}, cell int, lut array<double>"
    )


def _adc_dist_expr(m: int, k_cw: int):
    """The ADC fold: lut[codes[0]] + lut[k_cw + codes[1]] + … — an
    explicit left-associated chain of m element_at adds (small,
    codegen-friendly, pinned order; shared by flat PQ and IVF-PQ)."""
    dist = F.element_at(F.col("lut"), F.col("codes")[0] + F.lit(1))
    for j in range(1, m):
        dist = dist + F.element_at(
            F.col("lut"), F.col("codes")[j] + F.lit(j * k_cw + 1)
        )
    return dist


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_cw: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    centroids=None,
    codebooks=None,
) -> DataFrame:
    """IVF-PQ ANN top-k (the FAISS IVFPQ composition): coarse cells
    prune the candidate set to ~n_probe/n_cells of the corpus, PQ codes
    shrink what remains 32×, ADC scores it with m lookups per
    candidate — (query_id, neighbor_id, adc_dist, rn).

    Scale shape: the index build is one corpus pass emitting (id, cell,
    codes); queries broadcast n_probe LUT rows each; the join hits only
    probed cells and each (query, neighbor) pair occurs exactly once
    (a vector lives in one cell), so no dedup pass is needed. Pass
    pretrained ``centroids``/``codebooks`` to reuse a persisted index
    across query batches; otherwise both train on a bounded sample
    (:func:`train_coarse_centroids` / :func:`pq_train_residual_codebooks`).
    ``n_probe = n_cells`` degrades gracefully to flat PQ over residuals.
    """
    if centroids is None or codebooks is None:
        # one corpus scan feeds BOTH trainers
        sample = _bounded_sample(corpus, id_col, vec_col, sample_size)
        if centroids is None:
            centroids = train_coarse_centroids(
                corpus, id_col, vec_col, n_cells, iters=iters, sample=sample
            )
        if codebooks is None:
            codebooks = pq_train_residual_codebooks(
                corpus, centroids, id_col, vec_col, m, k_cw,
                iters=iters, sample=sample,
            )
    index = ivf_pq_encode(corpus, centroids, codebooks, id_col, vec_col)
    luts = ivf_pq_query_luts(
        queries, centroids, codebooks, id_col, vec_col, n_probe
    )
    scored = (
        index.select(F.col(id_col).alias("neighbor_id"), "cell", "codes")
        .join(F.broadcast(luts), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_dist_expr(len(codebooks), len(codebooks[0])).alias("_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_dist", 4).alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def pq_recall_candidates_fused(
    corpus: DataFrame,
    queries: DataFrame,
    flat_codebooks,
    centroids,
    res_codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ONE corpus pass emitting the per-batch top-k candidates of all
    THREE rankings the seeded recall report needs — exact-L2 truth,
    flat-PQ ADC, and IVF-PQ ADC — as (family, query_id, neighbor_id,
    dist); a global window per (family, query) finishes the ranking.

    The r11 fusion (the lsh_recall_report pattern): the unfused
    report paid three separate corpus passes (the GEMM truth kernel,
    pq_encode + broadcast-LUT join, ivf_pq_encode + probe join) plus
    their window stages — ~0.2 s of Arrow/stage floor EACH at bench
    scale. With literal seed models every per-vector quantity (codes,
    cell, residual codes) is computable inside one Arrow batch, so one
    kernel re-uses one batch read for all three families. Arithmetic is
    bit-compatible with the unfused kernels by construction: the truth
    matrix is the same GEMM expansion as brute_force_l2_topk, codes and
    cell assignment use the same pinned-order _subspace_sqdists, and
    the ADC folds accumulate LUT entries in ascending-j order — the
    same left fold the _adc_dist_expr chain and DuckDB's ORDER BY j
    list_sum produce. Per-batch top-k provably contains the global
    top-k under the (dist asc, id asc) total order, per family.

    Scale shape: the corpus never shuffles — only ≤ 3 · |queries| · k
    candidate rows per batch reach the window."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.stack([np.asarray(r[1], dtype="float64") for r in q_rows])
    nq = len(q_ids)
    flat_lut = _subspace_sqdists(Q, flat_codebooks)  # (nq, m, k_cw)
    C = np.asarray(centroids, dtype=np.float64)
    cell_cb = [[list(map(float, c)) for c in centroids]]
    qd2 = _subspace_sqdists(Q, cell_cb)[:, 0, :]
    probes = np.argsort(qd2, axis=1, kind="stable")[:, :n_probe]
    rluts = {}
    for qi in range(nq):
        R = Q[qi][None, :] - C[probes[qi]]
        L = _subspace_sqdists(R, res_codebooks)  # (n_probe, m, k_cw)
        for p, cell in enumerate(probes[qi]):
            rluts[(qi, int(cell))] = L[p]
    probe_sets = [
        {int(c) for c in probes[qi]} for qi in range(nq)
    ]
    m = len(flat_codebooks)

    def topk_rows(out, family, qi, ids_sel, dist_sel):
        order = np.lexsort((ids_sel, dist_sel))[: min(k, len(ids_sel))]
        for j in order:
            out.append(
                (family, q_ids[qi], ids_sel[j], float(dist_sel[j]))
            )

    def gen(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            out: list[tuple] = []
            # truth: the brute_force_l2_topk GEMM expansion, verbatim
            Ct = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            D = (
                (Ct * Ct).sum(axis=1)[:, None]
                - 2.0 * (Ct @ Q.T)
                + (Q * Q).sum(axis=1)[None, :]
            )
            for qi in range(nq):
                col = D[:, qi].copy()
                col[ids == q_ids[qi]] = np.inf
                fin = np.isfinite(col)
                topk_rows(out, "truth", qi, ids[fin], col[fin])
            # flat PQ: encode once, ADC per query in ascending-j order
            Xf = _vec_matrix(pdf[vec_col])
            codes = _subspace_sqdists(Xf, flat_codebooks).argmin(axis=2)
            for qi in range(nq):
                dist = flat_lut[qi, 0, codes[:, 0]]
                for j in range(1, m):
                    dist = dist + flat_lut[qi, j, codes[:, j]]
                keep = ids != q_ids[qi]
                topk_rows(out, "pq_seeded", qi, ids[keep], dist[keep])
            # IVF-PQ: assign + residual-encode once, score probed cells
            X64 = Xf.astype(np.float64)
            d2 = _subspace_sqdists(X64, cell_cb)[:, 0, :]
            cells = d2.argmin(axis=1)
            R = X64 - C[cells]
            rcodes = _subspace_sqdists(R, res_codebooks).argmin(axis=2)
            for qi in range(nq):
                sel = np.isin(cells, list(probe_sets[qi])) & (
                    ids != q_ids[qi]
                )
                if not sel.any():
                    continue
                ids_s, cells_s, rc_s = ids[sel], cells[sel], rcodes[sel]
                dist_s = np.empty(len(ids_s), dtype=np.float64)
                for cell in np.unique(cells_s):
                    cs = cells_s == cell
                    lut = rluts[(qi, int(cell))]
                    d = lut[0, rc_s[cs, 0]]
                    for j in range(1, m):
                        d = d + lut[j, rc_s[cs, j]]
                    dist_s[cs] = d
                topk_rows(out, "ivf_pq_seeded", qi, ids_s, dist_s)
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["family", "query_id", "neighbor_id", "dist"],
                )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        gen,
        schema=(
            f"family string, query_id {id_type}, "
            f"neighbor_id {id_type}, dist double"
        ),
    )
    w = Window.partitionBy("family", "query_id").orderBy(
        F.asc("dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("family", "query_id", "neighbor_id")
    )


def brute_force_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth PQ recall is measured
    against (ADC approximates L2, so measuring it against the cosine
    truth would conflate quantization loss with metric mismatch). Same
    GEMM-free-corpus shape as similarity.py:brute_force_topk_gemm:
    queries ship as a closure matrix, the corpus streams through Arrow
    batches, only per-batch top-k candidates survive (provably contains
    the global top-k under the (dist asc, id asc) total order)."""
    import numpy as np
    import pandas as pd

    # id type follows the corpus schema (ivf_pq_encode's convention) —
    # hardcoded int64 ids broke/corrupted non-bigint id columns despite
    # the parameterized API (ADVICE r6)
    id_type = corpus.schema[id_col].dataType.simpleString()
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.stack([np.asarray(r[1], dtype="float64") for r in q_rows])

    def score(batches):
        for b in batches:
            b = b[b[vec_col].notna()]  # NULL vectors have no distance
            if len(b) == 0:
                continue
            ids = b[id_col].to_numpy()
            C = np.stack(
                [np.asarray(v, dtype="float64") for v in b[vec_col]]
            )
            # ||c-q||² expanded via GEMM: ||c||² - 2c·q + ||q||²
            D = (
                (C * C).sum(axis=1)[:, None]
                - 2.0 * (C @ Q.T)
                + (Q * Q).sum(axis=1)[None, :]
            )
            out_q, out_n, out_d = [], [], []
            for j, qid in enumerate(q_ids):
                col = D[:, j].copy()
                col[ids == qid] = np.inf  # exclude self-match
                order = np.lexsort((ids, col))[: min(k, len(ids))]
                order = order[np.isfinite(col[order])]
                out_q.append(np.full(len(order), qid, dtype=q_ids.dtype))
                out_n.append(ids[order])
                out_d.append(col[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "l2_raw": np.concatenate(out_d),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score, f"query_id {id_type}, neighbor_id {id_type}, l2_raw double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("l2_raw"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("l2_raw", 4).alias("l2_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    k_cw: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
) -> None:
    """Materialize an IVF-PQ index — the artifact a 100 TB vector-search
    deployment actually serves (similarity.py:build_ivf_index is the
    uncompressed sibling): ``<path>/model`` holds the coarse centroids
    AND the residual codebooks as one tiny parquet; ``<path>/codes`` is
    the (id, codes) table parquet-partitioned by cell, 32× smaller than
    the float corpus, so a probe of p cells file-prunes to p
    directories. Rebuild cadence: the model is sample-trained and
    drift-stable; codes append incrementally by running
    :func:`ivf_pq_encode` on new batches with the SAME persisted model.
    """
    spark = corpus.sparkSession
    sample = _bounded_sample(corpus, id_col, vec_col, sample_size)
    centroids = train_coarse_centroids(
        corpus, id_col, vec_col, n_cells, iters=iters, sample=sample
    )
    codebooks = pq_train_residual_codebooks(
        corpus, centroids, id_col, vec_col, m, k_cw,
        iters=iters, sample=sample,
    )
    # the meta row makes the artifact self-describing: loading with the
    # wrong (m, k_cw) would silently scramble codebook reassembly
    model = (
        [("meta", 0, [float(m), float(k_cw)])]
        + [("centroid", i, c) for i, c in enumerate(centroids)]
        + [
            ("codebook", j * k_cw + c, codebooks[j][c])
            for j in range(m)
            for c in range(k_cw)
        ]
    )
    spark.createDataFrame(
        model, "kind string, idx int, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/model")
    ivf_pq_encode(corpus, centroids, codebooks, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(f"{path}/codes")


def load_ivf_pq_model(spark, path: str, m: int | None = None,
                      k_cw: int | None = None):
    """(centroids, codebooks) back from ``<path>/model`` — a few KB.

    ``m``/``k_cw`` come from the artifact's own meta row; passing them
    explicitly only VALIDATES against it (a mismatch used to scramble
    codebook reassembly silently — wrong neighbors, no error)."""
    rows = spark.read.parquet(f"{path}/model").collect()
    meta = [r for r in rows if r["kind"] == "meta"]
    if not meta:
        raise ValueError(f"{path}/model has no meta row — rebuild the index")
    m_saved, k_saved = (int(x) for x in meta[0]["vec"])
    for name, given, saved in (("m", m, m_saved), ("k_cw", k_cw, k_saved)):
        if given is not None and int(given) != saved:
            raise ValueError(
                f"index at {path} was built with {name}={saved}, "
                f"caller passed {given}"
            )
    m, k_cw = m_saved, k_saved
    cents = {r["idx"]: list(r["vec"]) for r in rows if r["kind"] == "centroid"}
    cws = {r["idx"]: list(r["vec"]) for r in rows if r["kind"] == "codebook"}
    centroids = [cents[i] for i in range(len(cents))]
    codebooks = [
        [cws[j * k_cw + c] for c in range(k_cw)] for j in range(m)
    ]
    return centroids, codebooks


def ivf_pq_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    m: int | None = None,
    k_cw: int | None = None,
) -> DataFrame:
    """Query a persisted IVF-PQ index (same output contract as
    :func:`ivf_pq_topk`). Only the query batch touches float math at
    query time — the corpus side is the pre-encoded codes table, and
    the cell partition column prunes unprobed cells at file listing.
    ``m``/``k_cw`` come from the index's own meta row (pass them only
    to validate)."""
    centroids, codebooks = load_ivf_pq_model(spark, path, m, k_cw)
    m, k_cw = len(codebooks), len(codebooks[0])
    codes = spark.read.parquet(f"{path}/codes")
    luts = ivf_pq_query_luts(
        queries, centroids, codebooks, id_col, vec_col, n_probe
    )
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"), "cell", "codes")
        .join(F.broadcast(luts), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_dist_expr(m, k_cw).alias("_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_dist", 4).alias("adc_dist"),
            F.col("rn").cast("int").alias("rn"),
        )
    )
